package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult, LeafNode, LocalRelation,
  LogicalPlan, ShowTables}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.command.{DescribeColumnCommand, DescribeTableCommand,
  ExplainCommand, ShowColumnsCommand, ShowTablesCommand}

/** Session-scoped prepared-plan cache: repeated statement texts reuse a
  * DataFrame rooted at the OPTIMIZED logical plan instead of re-running
  * parse + analysis + full optimization, the fixed per-statement Catalyst
  * cost (~15-120 ms/statement measured on the TPC-H shapes at sf0.1 in round
  * 6; ARCHITECTURE.md at 7f0c93f). The optimized root matters beyond the
  * first call: any action that re-wraps the plan (`count()` adds an
  * aggregate, `write` a command) re-runs the optimizer over the whole tree
  * per call, and over a pre-converged tree that run is one cheap fixpoint.
  * The reference engine gets the same effect from its prepared-statement
  * reuse (`/root/reference/src/duckdb/duckdb_statement.cpp` re-prepare path);
  * on a 100 TB cluster the win is latency-per-statement for the dashboard/repeat
  * workloads a long-lived server actually serves.
  *
  * Correctness contract:
  *   - One global mutation epoch decides staleness. A write moves it
  *     ([[bump]]) after the write has returned; each session remembers the
  *     epoch its caches were built at, and its next look at this cache
  *     (the statement-start [[sync]], or any lookup) finds it moved — or
  *     `sync` is told the table manifest moved — and drops that session's
  *     relation cache and all three stores. So every session's next
  *     statement sees every returned write, whoever wrote.
  *   - Commands are detected here from the analyzed plan ([[sql]],
  *     [[prepared]]): they run unmemoized and move the epoch, except Spark's
  *     read-only EXPLAIN, DESCRIBE and SHOW TABLES/COLUMNS commands
  *     ([[movesEpoch]]), which change nothing a plan resolved against. The
  *     writes that bypass this cache move it themselves: `Statement.create`'s
  *     intercepted writes and `Ingest.ingest`. The per-session flush is
  *     private; nothing outside this object clears a session.
  *   - Keys are per SparkSession (sessions are isolated `newSession`s), held
  *     weakly so closed sessions collect.
  *   - A query whose analyzed tree holds a non-deterministic expression
  *     (`rand()`, `uuid()`) or a current time/date (`current_timestamp()`,
  *     `now()`) is never stored: the stored plan would carry the first
  *     call's seed or folded time ([[storable]]).
  *   - Prepared executes ([[prepared]]) and repeated counts ([[count]])
  *     memoize, per (session, key), the optimized plan and its static-pin
  *     partition count — never a dataset or executed plan, so no shuffle
  *     output or broadcast relation is pinned between calls. Every call
  *     plans physically and executes in full.
  */
object PlanCache {
  // An executed plan pins its broadcast hash relations until evicted: each
  // relation's data rounded up to whole pages, i.e. at least 1 MB for a
  // single-long key and one spark.buffer.pageSize page (4 MB, GraftSession)
  // for any other key. The bound is heap protection as much as plan
  // bookkeeping; eviction drops the reference and the ContextCleaner
  // reclaims the blocks.
  private val MaxEntries = 64

  private def newLru[K, V](): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > MaxEntries
      })

  // Weak identity keys, same rationale as Tables.registered.
  private def bySessionMap[V](): java.util.Map[SparkSession, V] =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, V]())

  // ---- mutation epoch ----------------------------------------------------

  private val epoch = new java.util.concurrent.atomic.AtomicLong()

  // One session's stores, built at epoch `seen`. A flush swaps in a new
  // instance: a statement still holding the old one writes where no one reads.
  private final class Stores(val seen: Long) {
    val sql = newLru[String, DataFrame]()
    val count = newLru[String, MemoPlan]()
    val prepared = newLru[PreparedKey, MemoPlan]()
  }

  private val bySession = bySessionMap[Stores]()

  /** Record a write once it has returned: every session's next look re-resolves. */
  def bump(): Unit = { epoch.incrementAndGet(); () }

  /** The statement-start check; `force` flushes for what the epoch does not
    * count (a moved table manifest).
    */
  def sync(spark: SparkSession, force: Boolean): Unit = { stores(spark, force); () }

  private def stores(spark: SparkSession, force: Boolean = false): Stores = {
    val now = epoch.get // before the flush: a bump during it is caught next time
    val cur = bySession.get(spark)
    if (cur != null && cur.seen == now && !force) cur
    else {
      // Spark's relation cache holds file listings per session; a writer's
      // refresh never reaches other sessions. A first look flushes too.
      spark.sessionState.catalog.invalidateAllCachedTables()
      val fresh = new Stores(now)
      bySession.put(spark, fresh)
      fresh
    }
  }

  // Adaptive-off clones the static pin plans on, one per shuffle-partition
  // count. Planning under a clone (copied conf, shared SparkContext) instead
  // of flipping the LIVE session's `spark.sql.adaptive.enabled` means a
  // statement planned concurrently in the same session never observes the
  // pin's flag.
  //
  // A clone is CACHED per live session and re-validated by conf fingerprint
  // on every use: cloneSession() builds a whole SessionState (catalog,
  // analyzer, optimizer, extension re-injection — measured 200-300 ms in
  // round 7; ARCHITECTURE.md at 7f0c93f), far too hot for a per-call path,
  // while a stale clone would keep planning under whatever the conf was at
  // first use (a live `SET autoBroadcastJoinThreshold` would silently not
  // reach it — caught by PlanCacheSpec). Comparing the live session's
  // set-conf overlay (a few dozen entries) costs ~µs. Plans handed to a clone
  // are already optimized (views resolved), so its catalog snapshot going
  // stale is irrelevant.
  private case class PinClone(session: SparkSession, fingerprint: Map[String, String])

  private val pinClones = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[Integer, PinClone]]())

  private def pinSession(spark: SparkSession, parts: Int): SparkSession =
    pinClones.synchronized {
      var m = pinClones.get(spark)
      if (m == null) { m = new java.util.HashMap[Integer, PinClone](); pinClones.put(spark, m) }
      val fp = spark.conf.getAll - "spark.sql.adaptive.enabled" - "spark.sql.shuffle.partitions"
      val cur = m.get(Integer.valueOf(parts))
      if (cur != null && cur.fingerprint == fp) cur.session
      else {
        val p = org.apache.spark.sql.GraftDatasetShim.cloneSession(spark)
        p.conf.set("spark.sql.adaptive.enabled", "false")
        p.conf.set("spark.sql.shuffle.partitions", parts.toString)
        m.put(Integer.valueOf(parts), PinClone(p, fp))
        p
      }
    }

  /** Reuse the DataFrame prepared for `key` in this session, or build it.
    * The caller vouches that `build` is pure (no eager side effects) —
    * engine surfaces mark side-effecting operators uncacheable.
    */
  def get(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val m = stores(spark).sql
    val hit = m.get(key)
    if (hit != null) hit
    else {
      val df = prepare(spark, build)
      m.put(key, df)
      df
    }
  }

  /** Root the dataset at the OPTIMIZED plan. Actions re-wrap a DataFrame's
    * logical plan in a fresh operator (`count()` adds an aggregate, `write`
    * a command) and re-run the full optimizer over the whole tree on every
    * call — 15-120 ms/statement on the TPC-H shapes. Rooted at the converged
    * tree, those per-call optimizer runs re-visit an already-optimal plan
    * and converge in one cheap pass. Rules are idempotent by Catalyst's own
    * contract, and the full DuckDB oracle runs against the cached form.
    */
  private def prepare(spark: SparkSession, build: => DataFrame): DataFrame =
    prepareOptimized(spark, build.queryExecution.optimizedPlan)._1

  /** Build the dataset for an already-OPTIMIZED plan, pinning a static
    * (adaptive-off) plan when its input is provably small. Returns the
    * dataset and, when pinned, the shuffle-partition count it was planned at.
    *
    * The rule, decided on the optimized logical plan before any physical
    * planning ([[smallInputBytes]]): every leaf, subqueries included, is a
    * file-scan relation or local rows, and the summed file bytes are at most
    * `spark.graft.planCache.staticMaxInputBytes` (default 256 MB). Under that
    * bound AQE's runtime re-decisions cannot pay for their stage rounds (~50-75
    * ms of driver dead time each): skew is bounded by the input, and join
    * strategy was already decided from honest leaf sizes. The bound
    * self-scales like `autoBroadcastJoinThreshold` — the same query over 100x
    * the data keeps full adaptive execution. Any other plan is rooted on the
    * live session and plans adaptive at first use; it is never planned on a
    * clone.
    *
    * A candidate is planned once, on the adaptive-off clone at a size-scaled
    * partition count: one per 16 MB of input, at least 1 and never above the
    * live setting ([[pinPartitions]]). Forcing `executedPlan` there pins
    * the static plan on that QueryExecution, so every later action on the
    * dataset runs it. Two shapes in that plan send the candidate back to the
    * live session ([[staticBlocker]]).
    *
    * Measured (perfbench olap_mix, 4-core VM, `--seconds 20`, 6 interleaved
    * pairs, seeds 7101-7106): with the pin off `stmt_p50_ms` went 240 -> 336
    * (the pin won 6 of 6), `stmt_tail_ms` 480 -> 575 and `heap_used_mb`
    * 235.5 -> 248.1. llm_pipeline (seeds 7201-7204) read p50 875 -> 826 with
    * it off, within noise — its count path's former physical-plan reuse
    * showed no benefit and is gone.
    *
    * Scope: the pin lives on THIS dataset's QueryExecution, so it serves the
    * direct-action paths (the server's fetch, `Verify`'s writes). An action
    * that re-wraps the plan (`count()`) plans its wrapper fresh on the
    * session the dataset is rooted on.
    */
  private def prepareOptimized(spark: SparkSession, optimized: LogicalPlan): (DataFrame, Option[Int]) = {
    def live = (org.apache.spark.sql.GraftDatasetShim.ofRowsPreOptimized(spark, optimized), None)
    if (spark.conf.get("spark.sql.adaptive.enabled", "true") != "true") return live
    val bound = // a malformed bound pins nothing
      try spark.conf.get("spark.graft.planCache.staticMaxInputBytes", (256L << 20).toString).toLong
      catch { case _: java.lang.NumberFormatException => -1L }
    smallInputBytes(optimized).filter(_ <= bound) match {
      case None => live
      case Some(bytes) =>
        val liveParts =
          try spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
          catch { case _: java.lang.NumberFormatException => 200 }
        // Values cannot depend on the partition count: sampling is
        // md5-deterministic, and the global-ntile id arithmetic corrects
        // per-partition offsets by construction.
        val parts = pinPartitions(bytes, liveParts)
        val df = org.apache.spark.sql.GraftDatasetShim.ofRowsPreOptimized(pinSession(spark, parts), optimized)
        val pinned =
          try !staticBlocker(df.queryExecution.executedPlan)
          catch { case scala.util.control.NonFatal(_) => false }
        if (pinned) (df, Some(parts)) else live
    }
  }

  /** The shuffle-partition count a pinned plan over `inputBytes` of files is
    * planned at: one per 16 MB of input, at least 1 and never above the live
    * setting. There is no higher floor: at one reduce partition a global sort's `RangePartitioner` skips
    * its sampling job and `TakeOrderedAndProjectExec` skips its
    * single-partition shuffle, and each reduce stage runs one task instead
    * of several near-empty ones.
    *
    * Measured against a floor of 4 (perfbench olap_mix, 4-core VM,
    * `--seconds 20 --trace 0`, 8 interleaved pairs, seeds 11-14 and 81-84,
    * order alternated): `stmt_p50_ms` 235.7 -> 207.0 (this rule won 8 of 8,
    * median per-pair ratio 0.81), `stmt_tail_ms` 448 -> 409, `stmt_per_s`
    * 8.6 -> 9.3, `heap_used_mb` 235.0 -> 233.6; `plan.execute()` before the
    * fetch went ~280 -> ~50 ms on agg_h01 and ~150 -> ~34 ms on
    * events_hourly. llm_pipeline (seeds 61-63) read p50 753 -> 757, within
    * noise.
    */
  private[engine] def pinPartitions(inputBytes: Long, liveParts: Int): Int =
    math.min(liveParts.toLong, math.max(1L, (inputBytes + (16L << 20) - 1) / (16L << 20))).toInt

  /** The summed file bytes of a plan whose every leaf, subqueries included,
    * is a file-scan relation or local rows; None for any other plan.
    */
  private def smallInputBytes(plan: LogicalPlan): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }
    val bytes = leaves.map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(fs.location.sizeInBytes)
        case _ => None
      }
      case _: LocalRelation => Some(0L)
      case _ => None
    }
    if (leaves.nonEmpty && bytes.forall(_.isDefined)) Some(bytes.flatten.sum) else None
  }

  /** The two measured shapes that keep a small-input candidate adaptive:
    *   - a row multiplier (cross/nested-loop join, generator, expand): leaf
    *     bytes no longer bound the data volume, and the size-scaled partition
    *     count would funnel the blown-up rows through a few tasks (ScaleCheck
    *     at 10x, whose replicated views cross-join a copies range: tpch_h18
    *     went 6.3 s -> 22 s under the pin);
    *   - a broadcast build fed by a shuffle and not topped (modulo
    *     project/filter) by an aggregate: its volume is per-instance map
    *     output the static planner cannot size (join_theta: 0.15 s adaptive
    *     against 0.41 s static when the planner broadcast a 600k-row
    *     pre-shuffled side). An aggregate on top is key-bounded (the TPC-H
    *     q17 scalar-correlation shape, 127 ms faster static in round 16).
    */
  private def staticBlocker(plan: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{ExpandExec, FilterExec, GenerateExec, InputAdapter,
      ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    def aggTops(p: SparkPlan): Boolean = p match {
      case w: WholeStageCodegenExec => aggTops(w.child)
      case i: InputAdapter => aggTops(i.child)
      case pr: ProjectExec => aggTops(pr.child)
      case f: FilterExec => aggTops(f.child)
      case _: BaseAggregateExec => true
      case _ => false
    }
    def fragments(p: SparkPlan): Seq[SparkPlan] = p +: p.subqueries.flatMap(fragments)
    fragments(plan).exists(_.exists {
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec | _: GenerateExec |
          _: ExpandExec => true
      case b: BroadcastExchangeExec =>
        b.child.exists {
          case _: ShuffleExchangeExec => true
          case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeExec]
          case _ => false
        } && !aggTops(b.child)
      case _ => false
    })
  }

  // ---- memoized optimized plans --------------------------------------------

  /** What [[count]] and [[prepared]] keep per statement: the optimized plan
    * and, when pinned, the partition count of the clone it plans static on.
    * Never a dataset or executed plan, so no shuffle output or broadcast
    * relation outlives its call.
    */
  private case class MemoPlan(optimized: LogicalPlan, pin: Option[Int])

  /** Decide the pin for `optimized`, memoize both at `key` and return its first dataset. */
  private def memoize[K](spark: SparkSession, m: java.util.Map[K, MemoPlan], key: K,
      optimized: LogicalPlan): DataFrame = {
    val (df, pin) = prepareOptimized(spark, optimized)
    m.put(key, MemoPlan(optimized, pin))
    df
  }

  /** A NEW dataset over a memoized optimized plan, planned physically at
    * first use under the session it is rooted on: a pinned plan on its
    * adaptive-off clone, so it plans static; any other plan on the live
    * session, so it plans adaptive.
    */
  private def rooted(spark: SparkSession, mp: MemoPlan): DataFrame =
    org.apache.spark.sql.GraftDatasetShim.ofRowsPreOptimized(
      mp.pin.fold(spark)(pinSession(spark, _)), mp.optimized)

  /** Execute COUNT(*) over the plan cached at `key` — the repeated-action
    * path the bench and `SparkEntry.countQueries` take.
    *
    * `df.count()` wraps the dataset's logical plan in a fresh aggregate and
    * re-pays the optimizer fixpoint on EVERY call. Here the count-wrapped
    * OPTIMIZED plan is memoized per (session, key) exactly as [[prepared]]
    * memoizes, and each call roots a NEW dataset over it: fresh physical
    * plan, fresh shuffle dependencies, so every call re-executes the full
    * query (a latency optimization, never a work elision).
    */
  def count(spark: SparkSession, key: String)(build: => DataFrame): Long = {
    val m = stores(spark).count
    val hit = m.get(key)
    val df =
      if (hit != null) rooted(spark, hit)
      else memoize(spark, m, key, get(spark, key)(build).groupBy().count().queryExecution.optimizedPlan)
    df.collect()(0).getLong(0)
  }

  /** Run a SQL text through the cache. Commands execute eagerly in
    * `spark.sql` — they are detected from the analyzed plan, never cached,
    * and move the epoch (they may have changed what cached plans resolved
    * against, in any session) unless they are read-only ([[movesEpoch]]).
    */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val m = stores(spark).sql
    val hit = m.get(text)
    if (hit != null) hit
    else {
      val df = spark.sql(text)
      val analyzed = df.queryExecution.analyzed
      if (isCommand(analyzed)) { if (movesEpoch(analyzed)) bump(); df }
      else if (!storable(analyzed)) df
      else {
        val prepared = prepare(spark, df)
        m.put(text, prepared)
        prepared
      }
    }
  }

  private def isCommand(analyzed: LogicalPlan): Boolean =
    analyzed.collectFirst {
      case c: Command => c
      case r: CommandResult => r
    }.isDefined

  /** Whether a command moves the epoch: every command does except the
    * read-only ones on an explicit allow-list, matched at the root of the
    * analyzed plan (inside the `CommandResult` Spark's eager execution
    * leaves there). `SHOW TABLES` on the session catalog stays the v2
    * `ShowTables` node unless `spark.sql.legacy.useV1Command` is set. An
    * unknown command counts as a write.
    */
  private def movesEpoch(analyzed: LogicalPlan): Boolean = {
    val root = analyzed match {
      case r: CommandResult => r.commandLogicalPlan
      case p => p
    }
    root match {
      case _: ExplainCommand | _: DescribeTableCommand | _: DescribeColumnCommand |
          _: ShowTables | _: ShowTablesCommand | _: ShowColumnsCommand => false
      case _ => true
    }
  }

  /** Whether a pure query's plan may be kept and re-run. Two kinds must be
    * planned per call instead:
    *   - A plan reading a log-catalog table: the catalog log sink appends
    *     to those CONTINUOUSLY, outside the SQL path — a stored optimized
    *     plan would pin its pruned file listing forever (volatile-table
    *     rule; nothing else invalidates on the sink's behalf).
    *   - A plan whose analyzed tree (subqueries included) holds a
    *     non-deterministic expression or a current time/date: analysis
    *     fixes the seed of `rand()`/`uuid()` and optimization folds
    *     `current_timestamp()`/`now()` to a literal, so a stored plan would
    *     answer every later call with the first call's values.
    */
  private def storable(analyzed: LogicalPlan): Boolean = {
    val touchesLogCatalog = CatalogLogSink.activeCatalogs.nonEmpty &&
      analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.catalogTable.exists(t =>
              CatalogLogSink.isLogCatalog(t.identifier.database.getOrElse(""))) => r
      }.isDefined
    val perCall = analyzed.collectWithSubqueries { case p => p }.exists(_.expressions.exists(
      _.exists(e => !e.deterministic || e.containsPattern(TreePattern.CURRENT_LIKE))))
    !touchesLogCatalog && !perCall
  }

  // ---- prepared executes --------------------------------------------------

  // (stored SQL, parameters as (name, value class, value text) sorted by
  // name). Values are keyed on their exact text, not on Scala's ==, which
  // calls 1L and 1.0 equal and 0.0 and -0.0 equal: each of those binds to a
  // different literal, and the memoized plan has it folded in. The class
  // keeps x=1, x=1.0 and x='1' apart.
  private type PreparedKey = (String, Seq[(String, String, String)])

  /** One call of a prepared, non-command statement with bound `params`.
    *
    * The first call with a given (stored SQL, typed parameter values) in
    * this session runs `build` (parse, analysis with the parameters bound,
    * optimization), decides the static pin exactly as [[sql]] does, and
    * memoizes the optimized plan with its pin ([[MemoPlan]]). Later calls skip all of that: each roots a NEW dataset over
    * the memoized optimized plan — on the adaptive-off clone when pinned, on
    * the live session otherwise — so it plans physically and executes in
    * full. Only logical plans are kept: no executed plan, shuffle output or
    * broadcast relation outlives its call. Bounded like the statement cache
    * (LRU, `MaxEntries` per session) and flushed with it.
    *
    * Never memoized: commands (which move the epoch as in [[sql]]) and
    * plans that are not [[storable]]. The caller keeps transaction-local
    * resolution out: a session with staged transaction tables does not
    * come here.
    */
  def prepared(spark: SparkSession, sql: String, params: Map[String, Any])(
      build: => DataFrame): DataFrame = {
    val key: PreparedKey = (sql, params.toSeq.sortBy(_._1).map { case (k, v) =>
      (k, if (v == null) "null" else v.getClass.getName, String.valueOf(v))
    })
    val m = stores(spark).prepared
    val hit = m.get(key)
    if (hit != null) rooted(spark, hit)
    else {
      val df = build
      val analyzed = df.queryExecution.analyzed
      if (isCommand(analyzed)) { if (movesEpoch(analyzed)) bump(); df }
      else if (!storable(analyzed)) df
      else memoize(spark, m, key, df.queryExecution.optimizedPlan)
    }
  }
}
