package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** The SQL front door — re-implements the reference's statement-creation
  * pipeline (`DuckDBStatement::Create`,
  * `/root/reference/src/duckdb/duckdb_statement.cpp:744-1182`) in order:
  * gating walk → pseudo-function registration → `gizmosql_settings()` view →
  * KILL SESSION intercept → `SET gizmosql.*` intercept → analyze → execute
  * with timeout + cancellation.
  *
  * Differences by design: pseudo-functions are real session-scoped UDFs
  * (Catalyst constant-folds them) instead of the reference's quote-aware
  * textual substitution (`:242-587`); cancellation is Spark's
  * `cancelJobGroup` instead of `connection.Interrupt()` (`:2142-2192`).
  */
object Statement {

  val Version = "graft-0.1.0"

  private val KillSessionRe =
    """(?is)^\s*KILL\s+SESSION\s+'([0-9a-zA-Z-]+)'\s*;?\s*$""".r
  // value is either quoted (may contain ; ) or bare (may contain spaces but
  // not quotes/semicolons — a narrower bare pattern would silently fall
  // through to Spark's conf SET without updating the settings registry)
  private val SetSettingRe =
    """(?is)^\s*SET\s+(?:(SESSION|GLOBAL)\s+)?(gizmosql\.[a-z_]+)\s*=\s*(?:'([^']*)'|([^;']+?))\s*;?\s*$""".r
  // Reference multi-catalog statements (`duckdb_server.cpp:700-717`): ATTACH
  // maps to a namespace of external parquet tables, DETACH drops it.
  // Optional DuckDB-style options tail: (READ_ONLY) — the default here, the
  // safe mode for fixture dirs — or (READ_WRITE), which makes the
  // attachment a TRANSACTIONAL catalog (DuckLake analog: CREATE TABLE /
  // INSERT / row-DML / BEGIN…COMMIT against `name.t`, external dir-backed
  // tables under the attached path).
  private val AttachRe =
    """(?is)^\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:\(\s*(READ_ONLY|READ_WRITE)\s*\))?\s*;?\s*$""".r
  private val DetachRe =
    """(?is)^\s*DETACH\s+(?:DATABASE\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  // DuckDB-shaped whole-database export/import (the reference delegates these
  // verbatim to its backend; DuckDB docs: EXPORT DATABASE 'dir' (FORMAT ...)).
  private val ExportDbRe =
    """(?is)^\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*FORMAT\s+'?(PARQUET|CSV)'?\s*\))?\s*;?\s*$""".r
  private val ImportDbRe =
    """(?is)^\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*$""".r
  // SQL transaction lifecycle (the statement-level face of the wire's
  // Begin/EndTransaction RPCs). START TRANSACTION is the ANSI spelling.
  private val BeginTxnRe = """(?is)^\s*(?:BEGIN|START)(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val CommitRe = """(?is)^\s*COMMIT(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val RollbackRe = """(?is)^\s*ROLLBACK(?:\s+TRANSACTION)?\s*;?\s*$""".r
  // DuckDB PRAGMA surface the reference leaves ungated
  // (admin_command_guard tests: table_info, database_list, version).
  private val PragmaVersionRe = """(?is)^\s*PRAGMA\s+version\s*;?\s*$""".r
  private val PragmaDbListRe = """(?is)^\s*PRAGMA\s+database_list\s*;?\s*$""".r
  private val PragmaShowTablesRe = """(?is)^\s*PRAGMA\s+show_tables\s*;?\s*$""".r
  private val PragmaTableInfoRe =
    """(?is)^\s*PRAGMA\s+table_info\s*\(\s*'([^']+)'\s*\)\s*;?\s*$""".r
  // DuckDB's DESCRIBE/SHOW statement family: DESCRIBE <table|query> and
  // SHOW <table> return DuckDB's exact 6-column report; SHOW [ALL] TABLES
  // mirror PRAGMA show_tables / the catalog summary. SHOW of a Spark
  // catalog keyword (DATABASES, FUNCTIONS, ...) falls through to Spark.
  private val ShowAllTablesRe = """(?is)^\s*SHOW\s+ALL\s+TABLES\s*;?\s*$""".r
  private val ShowTablesRe = """(?is)^\s*SHOW\s+TABLES\s*;?\s*$""".r
  private val DescTableRe =
    """(?is)^\s*(?:DESC(?:RIBE)?|SHOW)\s+((?:[A-Za-z_][\w.]*)|`[^`]+`)\s*;?\s*$""".r
  private val DescQueryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+((?:SELECT|WITH|VALUES|FROM)\b.+)$""".r
  private val SparkShowKeywords = Set("databases", "schemas", "functions",
    "views", "columns", "partitions", "tblproperties", "catalogs",
    "namespaces", "create", "table")
  // DuckDB's EXPLAIN ANALYZE: execute, then return the physical plan WITH
  // runtime metrics (plain EXPLAIN stays native Spark).
  private val ExplainAnalyzeRe = """(?is)^\s*EXPLAIN\s+ANALYZE\s+(.+)$""".r
  // DuckDB maintenance statements. CHECKPOINT/VACUUM are WAL/storage
  // operations with no analogue on an immutable Parquet store (every
  // commit is already durable); they acknowledge as no-ops so DuckDB
  // clients' maintenance scripts run unchanged. ANALYZE does real work:
  // it recomputes catalog-table statistics through Spark's own ANALYZE
  // TABLE, feeding the cost-based optimizer.
  private val CheckpointRe = """(?is)^\s*(?:FORCE\s+)?CHECKPOINT(?:\s+[A-Za-z_][\w]*)?\s*;?\s*$""".r
  private val VacuumRe = """(?is)^\s*VACUUM(?:\s+ANALYZE)?\s*;?\s*$""".r
  private val AnalyzeRe = """(?is)^\s*ANALYZE\s*;?\s*$""".r
  // DuckDB's profiling statement: SUMMARIZE <table>.
  private val SummarizeRe =
    """(?is)^\s*SUMMARIZE\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*$""".r
  // DuckDB also summarizes arbitrary queries: SUMMARIZE SELECT ...
  private val SummarizeQueryRe =
    """(?is)^\s*SUMMARIZE\s+((?:SELECT|WITH|VALUES|FROM)\b.+?)\s*;?\s*$""".r
  // DuckDB COPY ... TO: the per-query export statement (EXPORT DATABASE is
  // the whole-catalog face). Greedy query group: the LAST ") TO '" wins, so
  // nested parens inside the query survive.
  private val CopyQueryToRe =
    """(?is)^\s*COPY\s+\((.+)\)\s+TO\s+'([^']+)'\s*(?:\((.*)\))?\s*;?\s*$""".r
  private val CopyTableToRe =
    """(?is)^\s*COPY\s+([A-Za-z_][A-Za-z0-9_.]*)\s+TO\s+'([^']+)'\s*(?:\((.*)\))?\s*;?\s*$""".r
  // DuckDB COPY ... FROM: the load direction (admin-gated like COPY TO —
  // it reads a local path). The TABLE's schema drives the file parse, as
  // in DuckDB; rows append positionally.
  private val CopyTableFromRe =
    """(?is)^\s*COPY\s+([A-Za-z_][A-Za-z0-9_.]*)\s+FROM\s+'([^']+)'\s*(?:\((.*)\))?\s*;?\s*$""".r
  // DuckDB session variables (embedded DuckDB 1.5.5 in the reference):
  // SET VARIABLE declares implicitly; Spark needs a declaration, so the
  // intercept runs DECLARE OR REPLACE ... DEFAULT (expr) — declare, infer
  // type, and assign in one statement. Reads (`getvariable`) rewrite to
  // the native reference in plans.GetVariableRewrite.
  private val SetVariableRe =
    """(?is)^\s*SET\s+VARIABLE\s+([A-Za-z_][\w]*)\s*=\s*(.+?);?\s*$""".r
  private val ResetVariableRe =
    """(?is)^\s*RESET\s+VARIABLE\s+([A-Za-z_][\w]*)\s*;?\s*$""".r
  // DuckDB's SQL-level prepared statements: PREPARE name AS stmt (with ?
  // or $N placeholders), EXECUTE name(args), DEALLOCATE [PREPARE] name —
  // the statement-form face of the wire's prepared-statement RPCs.
  private val PrepareNamedRe =
    """(?is)^\s*PREPARE\s+([A-Za-z_][\w]*)\s+AS\s+(.+?);?\s*$""".r
  private val ExecuteNamedRe =
    """(?is)^\s*EXECUTE\s+([A-Za-z_][\w]*)\s*(?:\((.*)\))?\s*;?\s*$""".r
  private val DeallocateRe =
    """(?is)^\s*DEALLOCATE\s+(?:PREPARE\s+)?([A-Za-z_][\w]*)\s*;?\s*$""".r
  // CREATE OR REPLACE TABLE: Spark's v1 catalog rejects REPLACE TABLE, so
  // the engine desugars to DROP IF EXISTS + CREATE. NOT atomic (a reader
  // between the two statements sees no table) — the atomic path needs a
  // v2 table format (Delta/Iceberg), same caveat as cross-table
  // transactions; declared.
  private val CreateOrReplaceTableRe =
    """(?is)^\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+([A-Za-z_][\w.]*)\s+(.+?);?\s*$""".r
  // CREATE TABLE in a WRITABLE attachment: the table must land under the
  // attached directory as an EXTERNAL table (DETACH keeps data; re-attach
  // re-discovers it), so a LOCATION-less CREATE gets
  // `USING parquet LOCATION '<attachPath>/<table>'` injected and re-enters
  // the pipeline (the injected text no longer matches the guard below).
  private val CreateTableRe =
    """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*(.*?);?\s*$""".r

  private val pool = ExecutionContext.fromExecutorService(
    Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-statement")
      t.setDaemon(true)
      t
    }))

  /** Register the GIZMOSQL_* pseudo-functions as session-scoped UDFs
    * (reference list at `duckdb_statement.cpp:242-587`).
    */
  def registerPseudoFunctions(s: SessionState, instanceId: String, clusterId: String,
      edition: String = License.Unrestricted.editionName): Unit = {
    val spark = s.spark
    // Capture plain strings: UDF closures ship to executors and must not drag
    // the (non-serializable) session state along.
    val (sid, user, role) = (s.id, s.user, s.role)
    spark.udf.register("gizmosql_current_session", () => sid)
    spark.udf.register("gizmosql_current_instance", () => instanceId)
    spark.udf.register("gizmosql_current_cluster", () => clusterId)
    spark.udf.register("gizmosql_version", () => Version)
    spark.udf.register("gizmosql_user", () => user)
    spark.udf.register("gizmosql_role", () => role)
    spark.udf.register("gizmosql_edition", () => edition)
    // Publish the values so the PseudoFunctionFold optimizer rule can
    // constant-fold these UDFs at plan time (the reference substitutes them
    // textually before prepare; we do it inside Catalyst).
    graft.plans.PseudoFunctionValues.publish(spark, Map(
      "gizmosql_current_session" -> sid,
      "gizmosql_current_instance" -> instanceId,
      "gizmosql_current_cluster" -> clusterId,
      "gizmosql_version" -> Version,
      "gizmosql_user" -> user,
      "gizmosql_role" -> role,
      "gizmosql_edition" -> edition))
  }

  /** Refresh the `gizmosql_settings` session view (the reference rewrites the
    * table function into a bind-parameterized VALUES, `:1636-1704`; here it
    * is a LocalRelation temp view).
    */
  def refreshSettingsView(s: SessionState): Unit = {
    val rows = s.settings.rows.map { case (n, v, sc) => Row(n, v, sc) }
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("value", StringType, nullable = true),
      StructField("scope", StringType, nullable = false)))
    s.spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView("gizmosql_settings")
  }

  /** DuckDB `COPY ... TO 'path' (FORMAT ..)`: local-path write — engine
    * management, admin-only like EXPORT DATABASE. Returns the copied row
    * count (DuckDB's Count column). Formats: PARQUET (default), CSV
    * (+HEADER), JSON; PARTITION_BY (cols) maps onto Spark's native
    * hive-partitioned write (the layout that makes the export
    * partition-prunable on read — THE option that matters at 100 TB) and
    * COMPRESSION onto the codec option.
    */
  private val PartitionByRe =
    """(?i)PARTITION_BY\s*(?:\(([^)]*)\)|([A-Za-z_][A-Za-z0-9_]*))""".r
  private val CompressionRe =
    """(?i)COMPRESSION\s+'?([A-Za-z0-9]+)'?""".r

  private def copyTo(session: SessionState,
      df: => org.apache.spark.sql.DataFrame, path: String, opts: String): DataFrame = {
    // admin check BEFORE the by-name df evaluates: resolution errors must
    // not preempt the authorization error
    if (!session.isAdmin)
      throw new SecurityException("COPY TO requires the admin role")
    val rawOpts = Option(opts).getOrElse("")
    val o = rawOpts.toUpperCase
    val fmt =
      if (o.contains("CSV")) "csv"
      else if (o.contains("JSON")) "json"
      else "parquet"
    val partCols: Seq[String] = PartitionByRe.findFirstMatchIn(rawOpts) match {
      case Some(m) =>
        Option(m.group(1)).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq(m.group(2)))
      case None => Seq.empty
    }
    val codec = CompressionRe.findFirstMatchIn(rawOpts).map(_.group(1).toLowerCase)
    val data = df
    val n = data.count()
    var w = data.write.mode("overwrite")
    if (partCols.nonEmpty) w = w.partitionBy(partCols: _*)
    codec.foreach(c => w = w.option("compression",
      if (c == "uncompressed") "none" else c))
    fmt match {
      case "csv" => w.option("header", o.contains("HEADER").toString).csv(path)
      case "json" => w.json(path)
      case _ => w.parquet(path)
    }
    val schema = StructType(Seq(StructField("Count",
      org.apache.spark.sql.types.LongType, nullable = false)))
    session.spark.createDataFrame(List(Row(n)).asJava, schema)
  }

  /** Guard check as a throwing hook — passed into the session-aware
    * dialect rewrites so operand schema analysis / bind-time scans are
    * authorized BEFORE they touch anything, and applied to rewritten
    * statement text before execution.
    */
  private def guardOrThrow(session: SessionState)(s: String): Unit =
    StatementGuard.check(session.spark, s, session.isAdmin, session.isReadOnly) match {
      case StatementGuard.Blocked(reason) => throw new SecurityException(reason)
      case StatementGuard.Allowed => ()
    }

  private def oneRowResult(spark: SparkSession, colName: String, value: String): DataFrame = {
    val schema = StructType(Seq(StructField(colName, StringType, nullable = false)))
    spark.createDataFrame(List(Row(value)).asJava, schema)
  }

  /** Spark dtype rendered in DuckDB's spelling, for the DESCRIBE/SHOW
    * reports (the same narrowings as `types.TypeMapping`: STRING is
    * VARCHAR, instant timestamps carry the time zone, binary is BLOB).
    */
  private[engine] def duckTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "VARCHAR"
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampNTZType => "TIMESTAMP"
      case TimestampType => "TIMESTAMP WITH TIME ZONE"
      case BinaryType => "BLOB"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case ArrayType(e, _) => s"${duckTypeName(e)}[]"
      case MapType(k, v, _) => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
      case s: StructType =>
        s.fields.map(f => s"${f.name} ${duckTypeName(f.dataType)}")
          .mkString("STRUCT(", ", ", ")")
      case other => other.sql
    }
  }

  /** DuckDB's DESCRIBE report: exactly its six VARCHAR-shaped columns. */
  private def describeReport(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val out = StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("column_type", StringType, nullable = false),
      StructField("null", StringType, nullable = false),
      StructField("key", StringType, nullable = true),
      StructField("default", StringType, nullable = true),
      StructField("extra", StringType, nullable = true)))
    val rows = schema.fields.map { f =>
      Row(f.name, duckTypeName(f.dataType), if (f.nullable) "YES" else "NO",
        null, null, null)
    }.toList
    spark.createDataFrame(rows.asJava, out)
  }

  /** Token-aware check for a top-level `word` clause in a CREATE TABLE
    * tail, scanning only the part BEFORE a top-level AS — a CTAS query, a
    * column name, or a comment merely mentioning `location` must not
    * suppress the attachment LOCATION injection (r15 ADVICE: the substring
    * test created MANAGED tables inside attachments, which DETACH's
    * CASCADE then deletes).
    */
  private def hasTopLevelClause(rest: String, word: String): Boolean = {
    val upTo = graft.plans.SqlScan.topLevel(rest, "AS").headOption.getOrElse(rest.length)
    graft.plans.SqlScan.topLevel(rest.substring(0, upTo), word).nonEmpty
  }

  /** Where a LOCATION-less CREATE TABLE should land when its target (the
    * explicit `db.` prefix, or the session's current database) is a
    * WRITABLE attachment: `<attachPath>/<table>`. None otherwise.
    */
  private def attachLocationOf(sessions: SessionManager, session: SessionState,
      table: String): Option[String] = {
    // same resolution as the read-only gate: strip a spark_catalog prefix,
    // fall back to the current database, match case-insensitively
    val db = TableNames.databaseOf(table, TableNames.currentDb(session.spark))
    val tbl = table.split("\\.").last.stripPrefix("`").stripSuffix("`")
    if (sessions.attachments.isWritable(db))
      sessions.attachments.pathOf(db).map(p => new java.io.File(p, tbl).getAbsolutePath)
    else None
  }

  /** Full pipeline: returns the result DataFrame (synthetic one-row results
    * for intercepted commands, mirroring the reference's behavior).
    */
  def create(
      sessions: SessionManager,
      session: SessionState,
      global: GlobalSettings,
      sql: String): DataFrame = {
    sessions.refreshManifest(session)
    // Log-catalog tables are appended continuously by the sink's writer,
    // OUTSIDE the SQL path, so nothing else drops this session's cached
    // file listing for them. Refresh before resolving — only the tables a
    // statement naming the catalog names as a word, or every table of the
    // catalog when `USE _graft_logs` made it the current database (a bare
    // `SELECT * FROM logs` never mentions the catalog textually).
    if (CatalogLogSink.activeCatalogs.nonEmpty) {
      val text = sql.toLowerCase
      val current = TableNames.currentDb(session.spark)
      CatalogLogSink.activeCatalogs.foreach { c =>
        val named = CatalogLogSink.tablesOf(c).filter { t =>
          c == current || (text.contains(c) &&
            s"\\b${java.util.regex.Pattern.quote(t)}\\b".r.findFirstIn(text).isDefined)
        }
        named.foreach { t =>
          try session.spark.sql(s"REFRESH TABLE `$c`.`$t`")
          catch { case scala.util.control.NonFatal(_) => }
        }
      }
    }
    // Statement-attempt query log (reference duckdb_statement.cpp:886-894):
    // natural INFO, suppressed below the session/global query_log_level.
    QueryLog.statementAttempt(session, sql)
    val write = interceptedWrite(sessions, session, global)
    // The one place an intercepted write moves the epoch: once it returned
    // or threw (part-way, it may have changed some of what it touched).
    if (write.isDefinedAt(sql)) try write(sql) finally PlanCache.bump()
    else sql match {
      case KillSessionRe(target) =>
        // duckdb_statement.cpp:178-193 / :933-986; admin-only + no self-kill
        // per the reference handler (kill_session_handler.cpp:66-81);
        // enterprise-gated (test_enterprise_gating.cpp:89)
        if (!sessions.license.isAvailable("kill_session"))
          throw new SecurityException(License.requiredError("kill_session"))
        if (!session.isAdmin)
          throw new SecurityException("Only admin users can execute KILL SESSION")
        if (target == session.id)
          throw new IllegalArgumentException("cannot kill the current session")
        sessions.kill(target)
        oneRowResult(session.spark, "result", s"session $target killed")

      case ExportDbRe(path, fmt) =>
        // Local-path write — engine management, admin-only like ATTACH.
        if (!session.isAdmin)
          throw new SecurityException("EXPORT DATABASE requires the admin role")
        val n = DatabaseExport.exportDatabase(session.spark, path,
          Option(fmt).getOrElse("parquet"))
        oneRowResult(session.spark, "result", s"exported $n tables to '$path'")

      // DuckDB PRAGMA statements, reshaped onto Spark's catalog — the three
      // forms the reference's guard explicitly leaves open to every role
      // (admin_command_guard tests), plus show_tables.
      case PragmaVersionRe() =>
        val schema = StructType(Seq(
          StructField("library_version", StringType, nullable = false),
          StructField("source_id", StringType, nullable = false)))
        session.spark.createDataFrame(
          List(Row(Version, "spark")).asJava, schema)

      case PragmaDbListRe() =>
        val schema = StructType(Seq(
          StructField("seq", org.apache.spark.sql.types.IntegerType, nullable = false),
          StructField("name", StringType, nullable = false),
          StructField("file", StringType, nullable = true)))
        val rows = Row(0, "spark_catalog", null) +:
          sessions.attachments.names.toSeq.sorted.zipWithIndex.map {
            case (n, i) => Row(i + 1, n, null)
          }
        session.spark.createDataFrame(rows.asJava, schema)

      case PragmaShowTablesRe() =>
        val schema = StructType(Seq(StructField("name", StringType, nullable = false)))
        val rows = session.spark.catalog.listTables().collect()
          .map(_.name).sorted.map(Row(_)).toList
        session.spark.createDataFrame(rows.asJava, schema)

      case PragmaTableInfoRe(table) =>
        val fields = session.spark.table(table).schema.fields
        val schema = StructType(Seq(
          StructField("cid", org.apache.spark.sql.types.IntegerType, nullable = false),
          StructField("name", StringType, nullable = false),
          StructField("type", StringType, nullable = false),
          StructField("notnull", org.apache.spark.sql.types.BooleanType, nullable = false),
          StructField("dflt_value", StringType, nullable = true),
          StructField("pk", org.apache.spark.sql.types.BooleanType, nullable = false)))
        val rows = fields.zipWithIndex.map { case (f, i) =>
          Row(i, f.name, f.dataType.sql, !f.nullable, null, false)
        }.toList
        session.spark.createDataFrame(rows.asJava, schema)

      case ShowAllTablesRe() =>
        // DuckDB's catalog summary: one row per table with its column
        // names/types inline.
        val schema = StructType(Seq(
          StructField("database", StringType, nullable = false),
          StructField("schema", StringType, nullable = false),
          StructField("name", StringType, nullable = false),
          StructField("column_names", org.apache.spark.sql.types.ArrayType(StringType), nullable = false),
          StructField("column_types", org.apache.spark.sql.types.ArrayType(StringType), nullable = false),
          StructField("temporary", org.apache.spark.sql.types.BooleanType, nullable = false)))
        val rows = session.spark.catalog.listTables().collect().sortBy(_.name).map { tb =>
          // resolve QUALIFIED for non-current-database tables; a table whose
          // schema can't resolve still lists (empty column arrays) instead
          // of failing the whole statement
          val ident = Option(tb.database).filter(_.nonEmpty)
            .map(d => s"$d.${tb.name}").getOrElse(tb.name)
          val fs = try session.spark.table(ident).schema.fields
            catch { case _: Exception => Array.empty[org.apache.spark.sql.types.StructField] }
          Row("spark_catalog", Option(tb.database).getOrElse("main"), tb.name,
            fs.map(_.name).toSeq, fs.map(f => duckTypeName(f.dataType)).toSeq,
            tb.isTemporary)
        }.toList
        session.spark.createDataFrame(rows.asJava, schema)

      case ShowTablesRe() =>
        val schema = StructType(Seq(StructField("name", StringType, nullable = false)))
        val rows = session.spark.catalog.listTables().collect()
          .map(_.name).sorted.map(Row(_)).toList
        session.spark.createDataFrame(rows.asJava, schema)

      case DescTableRe(name) if !SparkShowKeywords.contains(name.toLowerCase) =>
        // Schema metadata is inside the catalog_access boundary too: a
        // grant-restricted session must not read column names/types of
        // stores outside its grant through DESCRIBE/SHOW.
        CatalogAccess.enforce(session, session.spark, s"SELECT * FROM $name",
          sessions.attachments.names)
        describeReport(session.spark,
          session.spark.table(name.stripPrefix("`").stripSuffix("`")).schema)

      case DescQueryRe(query) =>
        // schema from analysis only — the query never executes; the guard
        // hook authorizes rewrite-stage probes too (COLUMNS/PIVOT/ASOF
        // operand analysis), not just the final text
        val q = graft.plans.Dialect.rewrite(query.stripSuffix(";"),
          session.spark, guardOrThrow(session))
        guardOrThrow(session)(q)
        CatalogAccess.enforce(session, session.spark, q, sessions.attachments.names)
        describeReport(session.spark, session.spark.sql(q).schema)

      case ExplainAnalyzeRe(query) =>
        // Run to completion so SQL metrics (rows, spill, timing) populate,
        // then render the AQE-final plan — the engine's answer to the
        // reference's per-query profile capture, inline in SQL. EXPLAIN
        // ANALYZE EXECUTES the statement, so it faces the same guard as a
        // direct run (read-only writes, non-admin local scans all blocked).
        val qa = graft.plans.Dialect.rewrite(query.stripSuffix(";"),
          session.spark, guardOrThrow(session))
        guardOrThrow(session)(qa)
        val df = session.spark.sql(qa)
        // Execute on the executors WITHOUT materializing the result on the
        // driver: profiling a wide query must not OOM the server. This
        // drives THIS Dataset's own executedPlan (AQE runs to its final
        // plan and the SQL metrics accumulators populate) — not
        // foreachPartition, which executes a separate rddQueryExecution
        // and would leave the rendered plan cold. No row crosses to the
        // driver; the foreach closure drops rows on the executors.
        df.queryExecution.executedPlan.execute()
          .foreach((_: org.apache.spark.sql.catalyst.InternalRow) => ())
        val plan = df.queryExecution.executedPlan.toString
        val schema = StructType(Seq(StructField("explain_analyze", StringType, nullable = false)))
        session.spark.createDataFrame(
          plan.linesIterator.map(Row(_)).toList.asJava, schema)

      case CheckpointRe() =>
        oneRowResult(session.spark, "result",
          "checkpoint: no-op (Parquet store commits durably; no WAL to flush)")

      case VacuumRe() =>
        oneRowResult(session.spark, "result",
          "vacuum: no-op (immutable Parquet storage reclaims via compaction — " +
            "see pipeline_compact_plan)")

      case SummarizeRe(table) =>
        // One wide aggregation pass; DuckDB's exact report columns.
        Summarize.summarize(session.spark, table)

      case SummarizeQueryRe(query) =>
        // the inner query speaks the full dialect and faces the guard
        val q = graft.plans.Dialect.rewrite(
          Macros.expand(query, session.macros), session.spark, guardOrThrow(session))
        guardOrThrow(session)(q)
        Summarize.summarizeDf(session.spark, session.spark.sql(q))

      case CopyQueryToRe(query, path, opts) =>
        copyTo(session, session.spark.sql(graft.plans.Dialect.rewrite(query, session.spark)),
          path, opts)

      case CopyTableToRe(table, path, opts) =>
        copyTo(session, session.spark.table(table), path, opts)

      case CreateTableRe(table, rest)
          if !hasTopLevelClause(rest, "LOCATION") &&
            !rest.trim.toUpperCase.startsWith("LIKE") &&
            attachLocationOf(sessions, session, table).isDefined =>
        // CREATE TABLE into a WRITABLE attachment: land the table as an
        // EXTERNAL parquet dir under the attached path (DuckLake analog —
        // DETACH keeps the data, re-attach re-discovers it), then re-enter
        // the pipeline (injected LOCATION stops this case from re-matching;
        // guard/read-only/txn checks all still apply downstream).
        val loc = attachLocationOf(sessions, session, table).get
        val asIdx = graft.plans.SqlScan.topLevel(rest, "AS").headOption
        val (pre, post) = asIdx match {
          case Some(i) => (rest.substring(0, i).trim, " " + rest.substring(i).trim)
          case None => (rest.trim, "")
        }
        val withUsing =
          if (hasTopLevelClause(pre, "USING")) pre else s"$pre USING parquet".trim
        val ifNotExists =
          if (sql.toUpperCase.contains("IF NOT EXISTS")) "IF NOT EXISTS " else ""
        create(sessions, session, global,
          s"CREATE TABLE $ifNotExists$table $withUsing LOCATION '$loc'$post")

      case PrepareNamedRe(name, stmt) =>
        // session.prepareNamed runs the full prepare path: dialect rewrite,
        // macro expansion, guard (blocked statements rejected HERE, before
        // any EXECUTE), analysis-only schema
        session.prepareNamed(name, stmt)
        oneRowResult(session.spark, "result", s"prepared statement '$name'")

      case ExecuteNamedRe(name, argList) =>
        session.executeNamed(name, Sessions.parseArgs(argList))

      case DeallocateRe(name) =>
        if (!session.deallocateNamed(name))
          throw new IllegalArgumentException(s"no prepared statement named '$name'")
        oneRowResult(session.spark, "result", s"deallocated '$name'")

      case BeginTxnRe() =>
        if (session.activeTxn.nonEmpty)
          throw new IllegalArgumentException(
            s"transaction ${session.activeTxn.get} already open (no nesting)")
        val id = sessions.transactions.begin(session.id)
        session.activeTxn = Some(id)
        oneRowResult(session.spark, "result", s"transaction $id started")

      case _ if Macros.handlesCreate(sql) =>
        // Session-local DDL (DuckDB temp-macro scoping); a catalog change,
        // so the read-only role is blocked like any write.
        if (session.isReadOnly)
          throw new SecurityException("read-only role cannot create macros")
        val (m, orReplace) = Macros.parseCreate(sql)
        // DuckDB rejects macros that shadow existing function names; textual
        // expansion makes the hazard worse here (CREATE MACRO sum(x) would
        // silently rewrite every SUM(...) in the session), so a name that
        // resolves as a built-in/registered function is refused — unless it
        // is OR REPLACE of a macro this session already owns.
        if (session.macros.get(m.name).isEmpty &&
            session.spark.catalog.functionExists(m.name))
          throw new IllegalArgumentException(
            s"macro name '${m.name}' collides with an existing function")
        // TABLE macro bodies are full queries: desugar their dialect
        // constructs (QUALIFY, EXCLUDE, read_parquet) at definition time —
        // after inlining they sit at subquery depth, where the
        // statement-level rewrites no longer reach them.
        val stored = if (m.isTable)
          m.copy(body = graft.plans.Dialect.rewrite(m.body)) else m
        session.macros.put(stored, orReplace)
        oneRowResult(session.spark, "result", s"macro ${m.name} created")

      case _ if Macros.handlesDrop(sql) =>
        if (session.isReadOnly)
          throw new SecurityException("read-only role cannot drop macros")
        val name = Macros.parseDrop(sql)
        oneRowResult(session.spark, "result",
          if (session.macros.drop(name)) s"macro $name dropped"
          else s"macro $name did not exist")

      case _ =>
        // DuckDB-dialect rewrites run BEFORE the guard, so the guard and
        // every later stage see parseable Spark SQL: `* EXCLUDE` becomes
        // `* EXCEPT` and QUALIFY desugars to a filtered subquery
        // (plans.StarExclude / plans.QualifyRewrite; no-ops when absent).
        // Session macros inline FIRST (their bodies may contain dialect
        // constructs, and the expanded text must face the guard).
        val sql2 = graft.plans.Dialect.rewrite(
          Macros.expand(sql, session.macros), session.spark, guardOrThrow(session))
        StatementGuard.check(session.spark, sql2, session.isAdmin, session.isReadOnly) match {
          case StatementGuard.Blocked(reason) => throw new SecurityException(reason)
          case StatementGuard.Allowed =>
            CatalogAccess.enforce(session, session.spark, sql2, sessions.attachments.names)
            // Inside a transaction only row-level DML is transactional: any
            // other catalog/data-changing command would apply eagerly and
            // make ROLLBACK a lie — reject it BEFORE execution (spark.sql
            // runs commands at creation, so this must gate on an
            // analyze-only pass; QueryExecution.analyzed does not execute).
            if (session.activeTxn.nonEmpty) {
              import org.apache.spark.sql.catalyst.plans.logical.Command
              val parsed = session.spark.sessionState.sqlParser.parsePlan(sql2)
              val analyzed = session.spark.sessionState.executePlan(parsed).analyzed
              if (analyzed.exists(_.isInstanceOf[Command]))
                throw new IllegalArgumentException(
                  "only row-level UPDATE/DELETE/MERGE are transactional inside " +
                  "BEGIN ... COMMIT; COMMIT or ROLLBACK first")
            }
            // Plain INSERT INTO <table> is a non-transactional write like
            // COPY FROM: take the target's commit lock so it waits out any
            // in-flight transaction fold on the table (and sheds a stale
            // manifest shadow) instead of racing it or failing with
            // "inserting into a view" during the publish window.
            val insertTarget: Option[String] =
              if (sql2.trim.regionMatches(true, 0, "INSERT", 0, 6))
                session.spark.sessionState.sqlParser.parsePlan(sql2) match {
                  case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement =>
                    i.table match {
                      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
                        Some(r.multipartIdentifier.mkString("."))
                      case _ => None
                    }
                  case _ => None
                }
              else None
            // Read-your-writes for staged tables: staged keys are canonical
            // (`db.t`, TableNames.canonical) and a statement inside a txn
            // remaps every spelling of a staged relation to the txn's
            // shadow view before execution (PlanCache skipped — txn-local
            // resolution must not be cached).
            val stagedShadows: Map[String, String] =
              session.stagedTables.map(n => n -> TxnDml.shadowName(n)).toMap
            insertTarget match {
              case Some(t) =>
                sessions.attachments.assertWritableTarget(t,
                  TableNames.currentDb(session.spark))
                CommitLock.withExclusiveWrite(session.spark, t) {
                  PlanCache.sql(session.spark, sql2)
                }
              case None if stagedShadows.nonEmpty =>
                val parsed = session.spark.sessionState.sqlParser.parsePlan(sql2)
                org.apache.spark.sql.GraftDatasetShim.ofRows(session.spark,
                  TxnDml.remapStaged(parsed, stagedShadows,
                    TableNames.currentDb(session.spark)))
              case None =>
                // Repeated pure statements reuse their analyzed plan; commands
                // bypass the cache and move the epoch (PlanCache's contract).
                PlanCache.sql(session.spark, sql2)
            }
        }
    }
  }

  /** Intercepted statements that change data, the catalog, or what plans
    * fold in. Each is anchored at leading keywords no read intercept shares,
    * so `create` trying them first changes no dispatch.
    */
  private def interceptedWrite(sessions: SessionManager, session: SessionState,
      global: GlobalSettings): PartialFunction[String, DataFrame] = {
    case AttachRe(path, name, mode) =>
      // Local-path attach is engine management: admin-only, like the
      // guard's local-scan rule (admin_command_guard.cpp:68-76).
      if (!session.isAdmin)
        throw new SecurityException("ATTACH requires the admin role")
      val readOnly = mode == null || mode.equalsIgnoreCase("READ_ONLY")
      val n = sessions.attachments.attach(session.spark, name, path, readOnly)
      oneRowResult(session.spark, "result",
        s"attached '$name' ($n tables${if (readOnly) "" else ", read-write"})")

    case DetachRe(name) =>
      if (!session.isAdmin)
        throw new SecurityException("DETACH requires the admin role")
      if (CatalogLogSink.isLogCatalog(name))
        throw new SecurityException(
          s"Cannot DETACH '$name' while catalog logging is active")
      if (!sessions.attachments.detach(session.spark, name))
        throw new IllegalArgumentException(s"no attachment named '$name'")
      oneRowResult(session.spark, "result", s"detached '$name'")

    case ImportDbRe(path) =>
      if (!session.isAdmin)
        throw new SecurityException("IMPORT DATABASE requires the admin role")
      val n = DatabaseExport.importDatabase(session.spark, path)
      oneRowResult(session.spark, "result", s"imported $n tables from '$path'")

    case AnalyzeRe() =>
      // Real stats work, and a catalog write — the read-only role is out.
      if (session.isReadOnly)
        throw new SecurityException("read-only role cannot ANALYZE")
      val tables = session.spark.catalog.listTables().collect()
        .filter(t => !t.isTemporary && t.tableType != "VIEW")
      tables.foreach(t => session.spark.sql(
        s"ANALYZE TABLE `${t.name}` COMPUTE STATISTICS"))
      oneRowResult(session.spark, "result",
        s"analyzed ${tables.length} tables (statistics recomputed)")

    case CopyTableFromRe(table, path, opts) =>
      if (!session.isAdmin)
        throw new SecurityException("COPY FROM requires the admin role")
      val o = Option(opts).getOrElse("").toUpperCase
      val target = session.spark.table(table).schema
      val reader = session.spark.read.schema(target)
      val df =
        if (o.contains("CSV"))
          reader.option("header", o.contains("HEADER").toString).csv(path)
        else if (o.contains("JSON")) reader.json(path)
        else reader.parquet(path)
      val n = df.count()
      // Commit lock: a concurrent transaction COMMIT folding this table
      // finishes first, so the append lands on the post-commit base and
      // can never be clobbered by an in-flight fold (r10 review, medium).
      CommitLock.withExclusiveWrite(session.spark, table) {
        df.write.insertInto(table)
      }
      val schema = StructType(Seq(StructField("Count",
        org.apache.spark.sql.types.LongType, nullable = false)))
      session.spark.createDataFrame(List(Row(n)).asJava, schema)

    case CreateOrReplaceTableRe(table, rest)
        if attachLocationOf(sessions, session, table).isDefined =>
      // OR REPLACE into a WRITABLE attachment: the temp-name safe-swap
      // below cannot apply (the replacement must land at the SAME
      // external location), so this is drop + recreate — the old dir is
      // cleared so the fresh external table cannot resurrect old files.
      // Non-atomic visibility window, same declared caveat as the
      // generic path.
      guardOrThrow(session)(s"CREATE TABLE $table $rest")
      session.spark.sql(s"DROP TABLE IF EXISTS $table")
      Warehouse.deleteTree(java.nio.file.Paths.get(attachLocationOf(sessions, session, table).get))
      create(sessions, session, global, s"CREATE TABLE $table $rest")

    case CreateOrReplaceTableRe(table, rest) =>
      guardOrThrow(session)(s"CREATE TABLE $table $rest") // write classification
      if (!session.spark.catalog.tableExists(table)) {
        session.spark.sql(graft.plans.Dialect.rewrite(
          s"CREATE TABLE $table $rest", session.spark, guardOrThrow(session)))
      } else {
        // Build the replacement under a temp name FIRST: a CTAS that fails
        // at execution time must leave the original table intact (the
        // naive drop-then-create destroys it). Only after the new table
        // exists do drop + rename run — the remaining non-atomic window is
        // visibility between those two commands, the declared caveat.
        val tmp = s"${table}__replace_pending"
        session.spark.sql(s"DROP TABLE IF EXISTS $tmp")
        session.spark.sql(graft.plans.Dialect.rewrite(
          s"CREATE TABLE $tmp $rest", session.spark, guardOrThrow(session)))
        try {
          session.spark.sql(s"DROP TABLE $table")
          session.spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
        } catch { case e: Throwable =>
          // best effort: don't leave the pending table behind
          try session.spark.sql(s"DROP TABLE IF EXISTS $tmp")
          catch { case _: Throwable => }
          throw e
        }
      }
      oneRowResult(session.spark, "result", s"table $table replaced")

    case SetSettingRe(scope, name, quoted, bare) =>
      // session/query tags are enterprise features in the reference
      // (test_enterprise_gating.cpp:191-240)
      val tagFeature = name match {
        case "gizmosql.session_tag" => Some("session_tag")
        case "gizmosql.query_tag" => Some("query_tag")
        case _ => None
      }
      tagFeature.filterNot(sessions.license.isAvailable).foreach(f =>
        throw new SecurityException(License.requiredError(f)))
      val value = Option(quoted).getOrElse(bare)
      val result =
        if (scope != null && scope.equalsIgnoreCase("GLOBAL"))
          global.set(name, value, session.isAdmin)
        else session.settings.set(name, value)
      result match {
        case Left(err) => throw new IllegalArgumentException(err)
        case Right(_) =>
          refreshSettingsView(session)
          oneRowResult(session.spark, "result", s"$name = $value")
      }

    case SetVariableRe(name, valueExpr) =>
      // the expr may itself read variables; resolve reads first. The expr
      // can embed subqueries, so it faces the guard like any SELECT — a
      // non-admin must not smuggle a blocked scan into a variable default.
      val resolved = graft.plans.GetVariableRewrite.rewrite(valueExpr, session.spark)
      guardOrThrow(session)(s"SELECT ($resolved)")
      // DECLARE's DEFAULT clause rejects subqueries, so: infer the type
      // from an analysis-only pass, declare typed, then assign (Spark's
      // SET VARIABLE accepts arbitrary expressions including subqueries).
      val dtype = session.spark.sql(s"SELECT ($resolved) AS v").schema.fields(0).dataType.sql
      session.spark.sql(s"DECLARE OR REPLACE VARIABLE $name $dtype")
      session.spark.sql(s"SET VARIABLE $name = ($resolved)")
      oneRowResult(session.spark, "result", s"variable $name set")

    case ResetVariableRe(name) =>
      session.spark.sql(s"DROP TEMPORARY VARIABLE IF EXISTS $name")
      oneRowResult(session.spark, "result", s"variable $name reset")

    case CommitRe() =>
      val id = session.activeTxn.getOrElse(
        throw new IllegalArgumentException("COMMIT without an open transaction"))
      val txn = sessions.transactions.lookup(id).get
      val applied = TxnDml.commitApply(session.spark, txn)
      sessions.transactions.commit(id) match {
        case Left(err) => throw new IllegalArgumentException(err)
        case Right(_) =>
          session.activeTxn = None
          oneRowResult(session.spark, "result",
            s"transaction $id committed (${applied.size} tables)")
      }

    case RollbackRe() =>
      val id = session.activeTxn.getOrElse(
        throw new IllegalArgumentException("ROLLBACK without an open transaction"))
      val txn = sessions.transactions.lookup(id).get
      TxnDml.rollbackDiscard(session.spark, txn)
      session.activeTxn = None
      sessions.transactions.rollback(id) match {
        case Left(err) => throw new IllegalArgumentException(err)
        case Right(_) =>
          oneRowResult(session.spark, "result", s"transaction $id rolled back")
      }

    case sql if AlterTable.handles(sql) =>
      // DuckDB column-level ALTER TABLE (DROP/RENAME/retype/ADD+DEFAULT):
      // Spark's v1 parquet catalog can't, so AlterTable rewrites the
      // table copy-on-write with a safe swap. A write like any other:
      // read-only blocked, mutation epoch moved.
      if (session.isReadOnly)
        throw new SecurityException("read-only role cannot alter tables")
      // full guard, not just the read-only bit: the log/system-catalog
      // write gates must see ALTER targets too (r16 ADVICE — ALTER was
      // dispatched here without ever facing StatementGuard)
      guardOrThrow(session)(sql)
      CatalogAccess.enforce(session, session.spark, sql, sessions.attachments.names)
      AlterTable.execute(session.spark, sql)

    case sql if graft.plans.OnConflictRewrite.matches(sql) =>
      // DuckDB upsert syntax desugars to MERGE (source aliased `excluded`
      // so excluded.col works verbatim) and re-dispatches through the
      // row-DML path below — same guard, transaction, and plan-cache
      // semantics as a hand-written MERGE.
      create(sessions, session, global,
        graft.plans.OnConflictRewrite.rewrite(sql, session.spark))

    case sql if graft.sources.RowDml.handles(sql) =>
      // Row-level UPDATE/DELETE/MERGE: Spark's file sources have no native
      // execution for these, so after the same guard/catalog checks as any
      // write, the engine's copy-on-write path runs them and returns the
      // affected count (reference: duckdb_statement.cpp:2365-2379) — or,
      // with DuckDB's RETURNING tail, the affected rows themselves. The
      // guard parses Spark SQL, so it checks the RETURNING-stripped core
      // (the tail is a projection over rows the core already authorizes).
      // Inside an open transaction the same computation lands in a staged
      // snapshot + shadow view instead of the table (TxnDml).
      val (dmlCore, _) = graft.sources.RowDml.splitReturning(sql)
      StatementGuard.check(session.spark, dmlCore, session.isAdmin, session.isReadOnly) match {
        case StatementGuard.Blocked(reason) => throw new SecurityException(reason)
        case StatementGuard.Allowed =>
          CatalogAccess.enforce(session, session.spark, dmlCore, sessions.attachments.names)
          // attached targets must be writable (ATTACH ... (READ_WRITE));
          // resolved against the session's current database so `USE att`
          // followed by an unqualified DML cannot skip the gate
          graft.sources.RowDml.targetOf(session.spark, dmlCore)
            .foreach(sessions.attachments.assertWritableTarget(_,
              TableNames.currentDb(session.spark)))
          session.activeTxn match {
            case Some(txnId) => graft.sources.RowDml.execute(session.spark, sql,
              sink = TxnDml.stagedSink(sessions.transactions, txnId),
              allowPartitionScope = false,
              resolve = (_, n) => TxnDml.txnResolver(session.spark, sessions.transactions, txnId)(n))
            case None => graft.sources.RowDml.execute(session.spark, sql)
          }
      }

    case sql if sql.trim.toUpperCase.startsWith("INSERT") &&
        graft.sources.RowDml.splitReturning(sql)._2.isDefined =>
      // DuckDB's INSERT ... RETURNING: run the insert, return the
      // inserted rows (aligned to the table schema, unspecified columns
      // NULL). The RETURNING projection is materialized from the SOURCE
      // before the insert executes — a self-referencing source
      // (INSERT INTO t SELECT FROM t) sees the pre-insert snapshot,
      // DuckDB's semantics.
      if (session.activeTxn.nonEmpty)
        throw new IllegalArgumentException(
          "INSERT ... RETURNING inside a transaction is not supported " +
          "(only row-level UPDATE/DELETE/MERGE are transactional)")
      val (core0, Some(retItems)) = graft.sources.RowDml.splitReturning(sql): @unchecked
      val core = graft.plans.Dialect.rewrite(
        Macros.expand(core0, session.macros), session.spark, guardOrThrow(session))
      StatementGuard.check(session.spark, core, session.isAdmin, session.isReadOnly) match {
        case StatementGuard.Blocked(reason) => throw new SecurityException(reason)
        case StatementGuard.Allowed =>
          CatalogAccess.enforce(session, session.spark, core, sessions.attachments.names)
          val HeadRe =
            """(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?((?:[\w.]+)|`[^`]+`)\s*(?:\(([^)]*)\))?\s*(.*)$""".r
          core match {
            case HeadRe(table, colListRaw, srcRaw)
                if !srcRaw.trim.toUpperCase.startsWith("PARTITION") =>
              sessions.attachments.assertWritableTarget(table,
                TableNames.currentDb(session.spark))
              val schema = session.spark.table(table).schema
              // "(x)" after the table is a COLUMN LIST only when it holds
              // plain identifiers; otherwise it is a parenthesized source
              // query — reassemble it (the regex split is exact, so
              // concatenation restores the original text)
              val isColList = Option(colListRaw).exists(
                _.split(",").forall(_.trim.matches("`?[A-Za-z_][\\w]*`?")))
              val (colList, src) =
                if (isColList) (Option(colListRaw), srcRaw)
                else (None,
                  Option(colListRaw).map(c => s"($c)$srcRaw").getOrElse(srcRaw))
              val specified = colList
                .map(_.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
                  .filter(_.nonEmpty).toSeq)
                .getOrElse(schema.fields.map(_.name).toSeq)
              val srcDf = session.spark.sql(src)
              if (srcDf.columns.length != specified.length)
                throw new IllegalArgumentException(
                  s"INSERT source has ${srcDf.columns.length} columns, " +
                  s"target list has ${specified.length}")
              val renamed = srcDf.toDF(specified: _*)
              val lower = specified.map(_.toLowerCase)
              val full = renamed.select(schema.fields.map { f =>
                if (lower.contains(f.name.toLowerCase))
                  org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)
                else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
              }.toIndexedSeq: _*)
              // Materialize the aligned source ONCE and both insert and
              // return from it: re-running the SQL for the insert would
              // evaluate the source twice — non-deterministic sources
              // (rand(), uuid()) would insert different rows than the
              // ones returned, and expensive sources would pay double.
              val pinned = full.localCheckpoint(true)
              val ret = pinned.selectExpr(retItems: _*)
              // see COPY FROM: serialize against in-flight commit folds
              CommitLock.withExclusiveWrite(session.spark, table) {
                pinned.write.mode("append").insertInto(table)
              }
              ret
            case _ => throw new IllegalArgumentException(
              "RETURNING is supported on INSERT INTO <table> [(cols)] " +
              "<VALUES|query> (no PARTITION spec, no OVERWRITE)")
          }
      }
  }

  /** Execute an action with the reference's timeout + interrupt semantics
    * (`duckdb_statement.cpp:2046-2192`): the action runs on a worker thread
    * tagged with the session's job group; on timeout the job group is
    * cancelled and a timeout error surfaces.
    */
  def executeWithTimeout[A](session: SessionState, timeoutSeconds: Long)(action: => A): A = {
    val spark = session.spark
    val fut = Future {
      spark.sparkContext.setJobGroup(session.jobGroup, "graft statement", interruptOnCancel = true)
      try action finally spark.sparkContext.clearJobGroup()
    }(pool)
    val timeout = if (timeoutSeconds <= 0) Duration.Inf else Duration(timeoutSeconds, TimeUnit.SECONDS)
    try Await.result(fut, timeout)
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(session.jobGroup)
        throw new TimeoutException(s"query exceeded timeout of ${timeoutSeconds}s and was cancelled")
    }
  }

  /** Convenience: run a statement end-to-end under admission control with the
    * session's configured timeout.
    *
    * BOUNDED RESULTS ONLY: this materializes the full result on the driver
    * via `collect()` — it exists for the CLI/tests/demo. The serving path
    * streams Arrow batches encoded on the executors without driver
    * materialization ([[graft.server.GraftHttpServer]] +
    * `ArrowIO.writeArrowStream`, one job per window of result partitions);
    * never put this method on a wire path.
    */
  def run(
      sessions: SessionManager,
      session: SessionState,
      global: GlobalSettings,
      admission: AdmissionController,
      sql: String): Array[Row] = {
    val df = create(sessions, session, global, sql)
    val timeout = session.settings.get("gizmosql.query_timeout").flatMap(_.toLongOption).getOrElse(0L)
    val bypass = session.isAdmin &&
      session.settings.get("gizmosql.bypass_queue").contains("true")
    admission.withSlot(bypass, () => session.killRequested) {
      executeWithTimeout(session, timeout)(df.collect())
    }
  }
}
