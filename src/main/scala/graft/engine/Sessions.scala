package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Per-client session state: an isolated `SparkSession.newSession()` (own
  * temp views, conf, UDFs — the Spark analogue of the reference's dedicated
  * engine connection per session,
  * `/root/reference/src/common/include/detail/session_context.h:64-113`),
  * session settings, prepared statements, and a kill flag.
  */
final class SessionState(
    val id: String,
    val user: String,
    val role: String,
    val spark: SparkSession,
    val settings: SessionSettings,
    // the registry `activeTxn` handles resolve in (SessionManager's)
    transactions: Transactions,
    // None = unrestricted; Some(set) = catalog_access claim from the token.
    val catalogAccess: Option[Set[String]] = None) {

  final case class Prepared(handle: String, sql: String, schema: Option[StructType],
      isCommand: Boolean = false)

  private val prepared = new ConcurrentHashMap[String, Prepared]()
  /** Session-scoped SQL macros (DuckDB CREATE MACRO), expanded by inlining. */
  val macros = new Macros.Registry
  @volatile var killRequested: Boolean = false
  /** Open SQL-path transaction handle, if any (BEGIN ... COMMIT/ROLLBACK). */
  @volatile var activeTxn: Option[String] = None

  /** Canonical names (`db.t`) of the tables this session's open transaction
    * has staged writes for; empty outside a transaction.
    */
  def stagedTables: Set[String] =
    activeTxn.flatMap(transactions.lookup)
      .map(t => t.staged.synchronized(t.staged.asScala.keys.toSet))
      .getOrElse(Set.empty)

  /** Job-group tag for everything this session runs — the cancellation hook. */
  def jobGroup: String = s"graft-session-$id"

  /** Analysis only — no execution (reference computes the schema from the
    * prepared statement without running it, duckdb_statement.cpp:2456-2467).
    * Parameterized statements (`:name` placeholders) defer schema to
    * execution time, like the reference's parameter schema path.
    */
  def prepare(sql0: String): Prepared = {
    // Prepared statements speak the same dialect as direct ones (QUALIFY,
    // * EXCLUDE, read_parquet, session macros): rewrite ONCE at prepare
    // time and store the desugared text, so execution and re-prepare stay
    // consistent. The guard runs here too — both as the rewrite hook (so
    // operand schema probes are authorized before they analyze anything)
    // and on the final text: executePrepared runs the stored SQL directly,
    // so prepare time is where a blocked statement must be rejected.
    val guard: String => Unit = s =>
      StatementGuard.check(spark, s, isAdmin, isReadOnly) match {
        case StatementGuard.Blocked(reason) => throw new SecurityException(reason)
        case StatementGuard.Allowed => ()
      }
    val sql = graft.plans.Dialect.rewrite(Macros.expand(sql0, macros), spark, guard)
    guard(sql)
    // Commands/DML must NOT reach the spark.sql schema probe — Spark
    // executes commands eagerly inside spark.sql, so a parameter-less
    // prepared INSERT would run at PREPARE time (parameterized ones were
    // already safe: the probe throws UNBOUND_SQL_PARAMETER first). They
    // report the affected-rows shape, like the deferred flightInfo path.
    val isCommand = StatementGuard.isCommandLike(spark.sessionState.sqlParser.parsePlan(sql))
    val schema =
      if (isCommand) Some(SessionState.updateSchema)
      else try Some(spark.sql(sql).schema) catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null && e.getCondition.contains("UNBOUND_SQL_PARAMETER") => None
      }
    val p = Prepared(UUID.randomUUID().toString, sql, schema, isCommand)
    prepared.put(p.handle, p)
    p
  }

  /** Execute a prepared statement with typed named parameters via Spark's
    * parameterized SQL — typed binding, unlike the reference's stringified
    * scalars (`duckdb_server.cpp:747-772`).
    */
  def executePrepared(handle: String, params: Map[String, Any] = Map.empty) =
    lookupPrepared(handle) match {
      case None => throw new IllegalArgumentException(s"unknown prepared statement $handle")
      case Some(p) => runPrepared(p, params)
    }

  /** Run a prepared statement through [[PlanCache.prepared]]: queries reuse
    * their optimized plan per parameter values, pinned static when their
    * file-scan input is small; commands run
    * unmemoized and move the mutation epoch. While this session's
    * transaction has staged tables, queries run unmemoized — the rule
    * `Statement.create` applies to direct SQL.
    */
  private def runPrepared(p: Prepared, params: Map[String, Any]) = {
    def run = if (params.isEmpty) spark.sql(p.sql) else spark.sql(p.sql, params)
    if (stagedTables.nonEmpty && !p.isCommand) run
    else PlanCache.prepared(spark, p.sql, params)(run)
  }

  def lookupPrepared(handle: String): Option[Prepared] = Option(prepared.get(handle))
  def closePrepared(handle: String): Boolean = prepared.remove(handle) != null

  // ---- SQL-level PREPARE / EXECUTE / DEALLOCATE (DuckDB statement forms;
  // the wire RPCs above are the Flight face of the same machinery) ----

  private val namedStatements = new ConcurrentHashMap[String, Prepared]()

  /** `PREPARE name AS stmt`: DuckDB's `?` and `$N` placeholders are
    * converted to Spark named parameters (`:pN`) quote-aware — `?` numbers
    * by order of appearance, `$N` keeps its own index — then the statement
    * goes through the normal prepare path (dialect rewrite, guard, macro
    * expansion, analysis-only schema). Re-PREPARE of a name replaces it,
    * as in DuckDB.
    */
  def prepareNamed(name: String, sql: String): Prepared = {
    val p = prepare(Sessions.convertPlaceholders(sql))
    namedStatements.put(name.toLowerCase, p)
    p
  }

  /** `EXECUTE name(args...)`: positional args bind to `:p1..:pN`. */
  def executeNamed(name: String, args: Seq[Any]) = {
    val p = Option(namedStatements.get(name.toLowerCase)).getOrElse(
      throw new IllegalArgumentException(s"no prepared statement named '$name'"))
    runPrepared(p, args.zipWithIndex.map { case (v, i) => s"p${i + 1}" -> v }.toMap)
  }

  def deallocateNamed(name: String): Boolean =
    namedStatements.remove(name.toLowerCase) != null

  def isAdmin: Boolean = role == "admin"
  // server-wide read-only mode (the reference's read_only=true server
  // option, test_read_only_mode.cpp) makes EVERY session read-only,
  // whatever its role; set by SessionManager at creation.
  @volatile var serverReadOnly: Boolean = false
  def isReadOnly: Boolean = role == "readonly" || serverReadOnly
}

object SessionState {
  /** Affected-rows result shape for deferred commands (the same shape the
    * two-phase flight path reports for DML).
    */
  val updateSchema: StructType =
    new StructType().add("affected_rows", org.apache.spark.sql.types.LongType,
      nullable = false)
}

/** Session registry with killed-session tombstones — `KILL SESSION` stays
  * idempotent across the two-phase GetFlightInfo/DoGet exchange
  * (`/root/reference/src/duckdb/duckdb_server.cpp:1231-1263`).
  */
final class SessionManager(root: SparkSession, global: GlobalSettings) {
  private val sessions = new ConcurrentHashMap[String, SessionState]()
  private val killedTombstones = ConcurrentHashMap.newKeySet[String]()

  /** Engine-global attachments (ATTACH/DETACH) — shared across sessions like
    * the reference's attached catalogs.
    */
  val attachments = new AttachManager

  /** Edition / license mode ([[License]]): the library default is
    * Unrestricted; a server constructed with a [[License.Config]] resolves
    * Core or Licensed and the statement pipeline gates enterprise features
    * accordingly (`test_enterprise_gating.cpp`).
    */
  @volatile var license: License.Mode = License.Unrestricted

  /** Server-wide read-only mode (`test_read_only_mode.cpp`): every session —
    * existing and future — becomes read-only; reads and metadata keep
    * working, writes are refused by the statement guard.
    */
  @volatile var readOnlyMode: Boolean = false

  /** Transaction handles for both the wire RPC surface and the SQL
    * BEGIN/COMMIT/ROLLBACK intercepts ([[TxnDml]]).
    */
  val transactions = new Transactions

  /** The statement-start check every entry runs first (`Statement.create`,
    * prepare, execute, ingest). Reads route through the current table
    * manifest ([[ManifestCatalog]]; tables the session's own open
    * transaction shadows are skipped: read-your-writes outranks the
    * committed view), and [[PlanCache.sync]] drops the session's relation
    * cache and plans when the mutation epoch or the manifest views moved.
    */
  def refreshManifest(session: SessionState): Unit =
    // staged keys are canonical (`db.t`); the manifest uses the bare
    // spelling for default-db tables — translate before comparing
    PlanCache.sync(session.spark, ManifestCatalog.refresh(session.spark,
      session.stagedTables.map(TableNames.manifestName)))

  def getOrCreate(sessionId: String, user: String, role: String,
      catalogAccess: Option[Set[String]] = None): SessionState = {
    if (killedTombstones.contains(sessionId))
      throw new IllegalStateException(s"session $sessionId was killed")
    val s = sessions.computeIfAbsent(sessionId, _ =>
      new SessionState(sessionId, user, role, root.newSession(),
        new SessionSettings(global), transactions, catalogAccess))
    s.serverReadOnly = readOnlyMode
    s
  }

  /** Non-creating lookup (reference `:917-955` — liveness probes must not
    * resurrect sessions).
    */
  def lookup(sessionId: String): Option[SessionState] = Option(sessions.get(sessionId))

  /** Kill: cancel in-flight jobs, flag the session, tombstone the id.
    * Idempotent — killing an already-killed or unknown session succeeds.
    */
  def kill(sessionId: String): Boolean = {
    killedTombstones.add(sessionId)
    Option(sessions.remove(sessionId)) match {
      case Some(s) =>
        s.killRequested = true
        root.sparkContext.cancelJobGroup(s.jobGroup)
        true
      case None => false
    }
  }

  def close(sessionId: String): Unit = Option(sessions.remove(sessionId)).foreach { s =>
    root.sparkContext.cancelJobGroup(s.jobGroup)
  }

  def isKilled(sessionId: String): Boolean = killedTombstones.contains(sessionId)

  /** Live session count (the reference server's GetActiveSessionCount,
    * `test_active_session_count.cpp`) — kill/close remove from the map, so
    * the count tracks connect/close exactly.
    */
  def activeCount: Int = sessions.size()
  def active: Seq[String] = sessions.keySet().asScala.toSeq
}

object Sessions {
  /** DuckDB placeholder spellings → Spark named parameters, outside string
    * literals and quoted identifiers: `?` becomes `:p1..:pN` in order of
    * appearance, `$N` becomes `:pN` (its own index). Mixing both styles in
    * one statement is rejected, as DuckDB rejects it.
    */
  private[engine] def convertPlaceholders(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    var qCount = 0
    var dollar = false
    val n = sql.length
    while (i < n) {
      sql.charAt(i) match {
        case '\'' =>
          val j = sql.indexOf('\'', i + 1)
          val end = if (j < 0) n else j + 1
          sb.append(sql.substring(i, end)); i = end
        case '"' =>
          val j = sql.indexOf('"', i + 1)
          val end = if (j < 0) n else j + 1
          sb.append(sql.substring(i, end)); i = end
        case '?' =>
          qCount += 1
          sb.append(s":p$qCount"); i += 1
        case '$' if i + 1 < n && sql.charAt(i + 1).isDigit =>
          dollar = true
          var e = i + 1
          while (e < n && sql.charAt(e).isDigit) e += 1
          sb.append(":p").append(sql.substring(i + 1, e)); i = e
        case c =>
          sb.append(c); i += 1
      }
    }
    if (qCount > 0 && dollar) throw new IllegalArgumentException(
      "cannot mix ? and $N placeholders in one statement")
    sb.toString
  }

  /** EXECUTE argument list → typed values: quoted strings ('' unescapes),
    * integers, decimals, TRUE/FALSE, NULL, DATE '...' / TIMESTAMP '...'.
    * Top-level commas split quote-aware; anything else is rejected loudly
    * rather than stringified.
    */
  private[engine] def parseArgs(argList: String): Seq[Any] = {
    val src = Option(argList).getOrElse("").trim
    if (src.isEmpty) return Seq.empty
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < src.length) {
      src.charAt(i) match {
        case '\'' =>
          val j = src.indexOf('\'', i + 1)
          val end = if (j < 0) src.length else j + 1
          cur.append(src.substring(i, end)); i = end
        case ',' => parts += cur.toString; cur.clear(); i += 1
        case c => cur.append(c); i += 1
      }
    }
    parts += cur.toString
    parts.map(_.trim).map { t =>
      val up = t.toUpperCase
      if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
        t.substring(1, t.length - 1).replace("''", "'")
      else if (up.startsWith("DATE '") && t.endsWith("'"))
        java.sql.Date.valueOf(t.substring(6, t.length - 1))
      else if (up.startsWith("TIMESTAMP '") && t.endsWith("'"))
        java.sql.Timestamp.valueOf(t.substring(11, t.length - 1))
      else if (up == "TRUE") true
      else if (up == "FALSE") false
      else if (up == "NULL") null
      else if (t.matches("[+-]?[0-9]+")) {
        val l = t.toLong
        if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt else l
      }
      else if (t.matches("""[+-]?[0-9]*\.[0-9]+([eE][+-]?[0-9]+)?""")) t.toDouble
      else throw new IllegalArgumentException(
        s"unsupported EXECUTE argument literal: $t")
    }.toSeq
  }
}
