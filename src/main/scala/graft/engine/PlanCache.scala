package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult, LogicalPlan, ShowTables}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.command.{DescribeColumnCommand, DescribeTableCommand,
  ExplainCommand, ShowColumnsCommand, ShowTablesCommand}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

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
  *   - Prepared executes ([[prepared]]) memoize, per (session, stored SQL,
  *     typed parameter values), the optimized plan, the static-pin decision
  *     and the partition override — never a dataset or executed plan, so
  *     no shuffle output or broadcast relation is pinned between calls.
  *     Every call plans physically and executes in full.
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

  // Adaptive-off clone for the static-plan probe in [[prepare]] and the
  // static branch of [[count]]. Probing under a clone (copied conf, shared
  // SparkContext) instead of flipping the LIVE session's
  // `spark.sql.adaptive.enabled` means a statement planned concurrently in
  // the same session can never observe the probe's flag — the race the
  // flip-and-restore version tolerated as "slower, never wrong" is gone
  // entirely.
  //
  // The clone is CACHED per live session and re-validated by conf
  // fingerprint on every use: cloneSession() builds a whole SessionState
  // (catalog, analyzer, optimizer, extension re-injection — measured
  // 200-300 ms in round 7; ARCHITECTURE.md at 7f0c93f), far too hot for a
  // per-call path, while a stale cached clone would keep planning under whatever
  // the conf was at first prepare (a live `SET autoBroadcastJoinThreshold`
  // would silently not reach it — caught by PlanCacheSpec). Comparing the
  // live session's set-conf overlay (a few dozen entries) costs ~µs and
  // re-clones exactly when planning inputs actually changed. Plans handed
  // to the probe are already optimized (views resolved), so the clone's
  // catalog snapshot going stale is irrelevant.
  private case class Probe(session: SparkSession, fingerprint: Map[String, String])

  // Clones are keyed by shuffle-partition override (0 = live default, used
  // for the eligibility probe; N = the size-scaled partition count a
  // small-input static plan runs with).
  private val probeBySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[Integer, Probe]]())

  private def confFingerprint(spark: SparkSession): Map[String, String] =
    spark.conf.getAll - "spark.sql.adaptive.enabled" - "spark.sql.shuffle.partitions"

  private def probeSession(spark: SparkSession, parts: Int): SparkSession =
    probeBySession.synchronized {
      var m = probeBySession.get(spark)
      if (m == null) { m = new java.util.HashMap[Integer, Probe](); probeBySession.put(spark, m) }
      val fp = confFingerprint(spark) +
        ("spark.graft.probe.liveShufflePartitions" ->
          (if (parts == 0) spark.conf.get("spark.sql.shuffle.partitions", "200") else ""))
      val cur = m.get(Integer.valueOf(parts))
      if (cur != null && cur.fingerprint == fp) cur.session
      else {
        val p = org.apache.spark.sql.GraftDatasetShim.cloneSession(spark)
        p.conf.set("spark.sql.adaptive.enabled", "false")
        if (parts > 0) p.conf.set("spark.sql.shuffle.partitions", parts.toString)
        m.put(Integer.valueOf(parts), Probe(p, fp))
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

  /** Plan-shape-based adaptive bypass, decided once per prepared plan.
    *
    * Adaptive execution materializes a query stage at every exchange and
    * re-optimizes between stages — ~50-75 ms of driver dead time per round
    * (round 6, sf0.1; ARCHITECTURE.md at 7f0c93f). That buys runtime join
    * re-strategy, partition coalescing, and skew splitting — all properties
    * of SHUFFLED joins. A plan whose joins all resolved to broadcasts at
    * planning time has nothing for AQE to re-decide, so it runs the static
    * plan and skips the per-stage rounds entirely. Its remaining shuffles
    * are aggregation/sort/window exchanges (capped at 3 per fragment —
    * longer pipelines keep AQE's between-stage coalescing), where adaptivity
    * only buys coalescing of already-small outputs. Shuffled-join shapes
    * also pin static when the plan's total file-scan input is under
    * `spark.graft.planCache.staticMaxInputBytes` (default 256 MB) — see the
    * size-bounded rule at the eligibility check below.
    *
    * Scope: the pin lives on THIS dataset's QueryExecution, so it serves the
    * direct-action paths — the server's collect/Arrow fetch of a prepared
    * statement, `Verify`'s writes. An action that re-wraps the plan in a new
    * operator (`count()`) plans its wrapper fresh under the session conf and
    * runs adaptive as usual.
    *
    * The probe is size-based, so it self-scales: the same query over 1000x
    * the data exceeds `autoBroadcastJoinThreshold`, plans a shuffled join,
    * and keeps full adaptive execution. One trade remains: the allowed
    * shuffles are not runtime-coalesced and run at the configured
    * `spark.sql.shuffle.partitions` (the knob a real deployment sizes
    * anyway, with map-side partial aggregation shrinking what moves). The
    * probe itself runs under a per-session adaptive-off CLONE
    * ([[probeSession]]) — the live session's conf is never touched, so
    * concurrent planning in the same session cannot observe it.
    */
  private def prepare(spark: SparkSession, build: => DataFrame): DataFrame = {
    val built = build
    // Root the cached dataset at the OPTIMIZED plan. Actions re-wrap a
    // DataFrame's logical plan in a fresh operator (`count()` adds an
    // aggregate, `write` a command) and re-run the full optimizer over the
    // whole tree on every call — 15-120 ms/statement on the TPC-H shapes.
    // Rooted at the converged tree, those per-call optimizer runs re-visit
    // an already-optimal plan and converge in one cheap pass, which is what
    // a re-executed prepared statement should pay. Rules are idempotent by
    // Catalyst's own contract (enforced for Once-batches in its test
    // harness), and the full DuckDB oracle runs against the cached form.
    prepareOptimized(spark, built.queryExecution.optimizedPlan)._1
  }

  /** Build the dataset for an already-OPTIMIZED plan, probing static-plan
    * eligibility. Returns (dataset, pinned-static?, shuffle-partition
    * override used — 0 when none).
    */
  private def prepareOptimized(
      spark: SparkSession,
      optimized: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): (DataFrame, Boolean, Int) = {
    def snapped: DataFrame =
      org.apache.spark.sql.GraftDatasetShim.ofRowsPreOptimized(spark, optimized)
    if (spark.conf.get("spark.sql.adaptive.enabled", "true") != "true") return (snapped, false, 0)
    // Plan the candidate on the adaptive-off clone: forcing executedPlan
    // there pins the STATIC plan on that QueryExecution (plans are cached
    // per Dataset), so the eligible branch returns the clone-rooted dataset
    // and every later action runs the static plan. Execution is identical —
    // the clone shares the SparkContext, executors, and cached blocks; only
    // its session conf differs, and only in the adaptive flag (plus, for
    // small-input pins, a size-scaled shuffle partition count).
    val df = org.apache.spark.sql.GraftDatasetShim.ofRowsPreOptimized(probeSession(spark, 0), optimized)
    val (eligible, staticParts) = try {
      def fragments(p: SparkPlan): Seq[SparkPlan] = p +: p.subqueries.flatMap(fragments)
      val all = fragments(df.queryExecution.executedPlan)
      val shuffledJoin = all.exists(_.exists {
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
        case _ => false
      })
      // Size-bounded static pin for shuffled-join shapes (computed first —
      // the derived-build rule below keys off it): when EVERY leaf is a
      // file scan and the summed input is tiny (default 256 MB — a few
      // partitions of work), AQE's runtime re-decisions cannot pay for
      // their stage rounds: skew is bounded by the input, coalescing saves
      // a few ms of task launch, and join re-strategy was already decided
      // from honest leaf sizes. Measured on the bench join family at
      // sf0.1: static is 15-160 ms FASTER per query
      // (round 7 adaptive=false A/B; ARCHITECTURE.md at 7f0c93f). The bound
      // self-scales exactly like autoBroadcastJoinThreshold: the same
      // query over 100x the data blows the bound and keeps full adaptive
      // execution — so this never sacrifices scale safety, it only stops
      // paying adaptivity tax on provably small inputs.
      val leaves = all.flatMap(_.collectLeaves())
      val allFileLeaves = leaves.nonEmpty && leaves.forall {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case _: org.apache.spark.sql.execution.LocalTableScanExec => true
        // A reused BROADCAST build is a leaf node, but it reads the target
        // exchange's already-counted subtree — no new input beyond the file
        // leaves (r17: the shared nation-filter broadcast in the h07 self-
        // join shape). Reused SHUFFLE exchanges stay blockers: their map
        // outputs are per-instance state the static clone path must not pin.
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          r.child.isInstanceOf[BroadcastExchangeExec]
        case _ => false
      }
      val totalInputBytes = leaves.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.sizeInBytes
      }.sum
      val maxStaticInput = spark.conf.get(
        "spark.graft.planCache.staticMaxInputBytes", (256L * 1024 * 1024).toString).toLong
      // Leaf bytes only bound the plan's data volume when nothing between
      // the leaves and the joins MULTIPLIES rows: a cross/nested-loop join
      // or a generator (explode) can blow a 10 MB scan into gigabytes that
      // the size-scaled partition count would then funnel through 4 tasks
      // (found at 10x by ScaleCheck, whose replicated views cross-join a
      // copies range: tpch_h18 went 6.3 s -> 22 s under the pin). Such
      // plans keep full adaptive execution, whose runtime sizes see the
      // true volume.
      val rowMultiplier = all.exists(_.exists {
        case _: org.apache.spark.sql.execution.joins.CartesianProductExec => true
        case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
        case _: org.apache.spark.sql.execution.GenerateExec => true
        case _: org.apache.spark.sql.execution.ExpandExec => true
        case _ => false
      })
      val smallInput = allFileLeaves && !rowMultiplier && totalInputBytes <= maxStaticInput

      // Broadcast builds should be dimensions the static planner can size
      // honestly. A derived build containing a join or generate (explode)
      // can exceed every estimate (measured: join_theta 0.15 s adaptive vs
      // 0.41 s static when the planner broadcast a 600k-row pre-shuffled
      // side), and a pre-shuffled build that does NOT shrink through an
      // aggregate hash-builds an input-sized relation on the driver — both
      // stay blockers always. Under the small-input bound two derived-build
      // shapes are additionally allowed (r16/r17, tightened r18 ADVICE):
      //   - a shuffle-fed build whose TOP (modulo project/filter) is an
      //     AGGREGATE: group-by output is key-bounded after whatever the
      //     shuffle fed it, and its input is provably tiny (the TPC-H q17
      //     scalar-correlation shape — 127 ms faster static, r16). An
      //     aggregate merely SOMEWHERE below — e.g. under a join that can
      //     re-expand rows above it — no longer qualifies: there a shuffle
      //     stage boundary exists from which AQE could legitimately
      //     re-decide the join above the agg (r17 ADVICE).
      //   - a build whose subtree is a pure BROADCAST-JOIN chain (no
      //     shuffle exchange, no generator anywhere under the build): AQE
      //     only ever re-decides SHUFFLED joins at stage boundaries, so the
      //     adaptive path executes the exact same BHJ chain with the same
      //     driver builds — the stage rounds buy nothing (r17: unblocks the
      //     dimension-pre-reduction star shapes — join_self_nation/tpch_h05,
      //     whose builds are supplier⋈nation / nation⋈region chains;
      //     measured −17/−29 ms per call and the same plan inventory,
      //     OPTIMIZATION_r17.md). This deliberately includes duplicate-key
      //     (many-to-many) chains whose OUTPUT can exceed the leaf bound:
      //     adaptive has no runtime escape for those either — no shuffle
      //     under the build to re-plan from — so the pin changes nothing
      //     about that hazard, it only skips the stage rounds.
      //   - generator-topped (explode) builds stay blocked explicitly.
      //     Today this arm is unreachable belt-and-braces — any GenerateExec
      //     in the plan already fails the rowMultiplier gate above — but it
      //     is pinned by PlanCacheSpec so a future rowMultiplier edit cannot
      //     silently widen this rule (r17 verdict #7).
      // Beyond the bound the original strict rule applies unchanged.
      def aggTops(p: SparkPlan): Boolean = p match {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => aggTops(w.child)
        case i: org.apache.spark.sql.execution.InputAdapter => aggTops(i.child)
        case pr: org.apache.spark.sql.execution.ProjectExec => aggTops(pr.child)
        case f: org.apache.spark.sql.execution.FilterExec => aggTops(f.child)
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
        case _ => false
      }
      val derivedBuild = all.exists(_.exists {
        case b: BroadcastExchangeExec =>
          val hasGen = b.child.exists {
            case _: org.apache.spark.sql.execution.GenerateExec => true
            case _ => false
          }
          val hasJoin = b.child.exists {
            case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
            case _ => false
          }
          val shuffleExchange = b.child.exists {
            case _: ShuffleExchangeExec => true
            case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
              r.child.isInstanceOf[ShuffleExchangeExec]
            case _ => false
          }
          if (smallInput) {
            if (shuffleExchange) !aggTops(b.child) else hasGen
          } else {
            val agg = b.child.exists {
              case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
              case _ => false
            }
            // (no separate shuffleExchange term: the generic Exchange /
            // ReusedExchangeExec existence check subsumes it — r17 ADVICE)
            hasJoin || hasGen || agg ||
              b.child.exists {
                case _: org.apache.spark.sql.execution.exchange.Exchange => true
                case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => true
                case _ => false
              }
          }
        case _ => false
      })
      val ok = !derivedBuild && (smallInput || (!shuffledJoin && all.forall(
        _.collect { case e: ShuffleExchangeExec => e }.size <= 3)))
      // Size-scaled shuffle partitions for small-input pins: AQE would
      // coalesce these exchanges down to a handful of partitions at runtime;
      // the static plan sizes them the same way from the same bound (~16 MB
      // of input per partition, floor 4, never above the live setting) —
      // measured 60-380 ms faster per query on the bench join family (round
      // 7, 32 vs 8 partitions at sf0.1; ARCHITECTURE.md at 7f0c93f). Values
      // cannot depend on the partition count: sampling here is
      // md5-deterministic, and the global-ntile id arithmetic corrects
      // per-partition offsets by construction.
      val live =
        try spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
        catch { case _: java.lang.NumberFormatException => 200 }
      val parts =
        if (ok && smallInput) {
          val sized = (totalInputBytes + (16L << 20) - 1) / (16L << 20)
          val p = math.max(4L, math.min(live.toLong, sized)).toInt
          if (p < live) p else 0
        } else 0
      (ok, parts)
    } catch { case scala.util.control.NonFatal(_) => (false, 0) }
    // Ineligible: discard the clone-rooted probe dataset and hand back one
    // rooted on the LIVE session — its executedPlan is still unforced and
    // resolves adaptive at first use.
    if (!eligible) (snapped, false, 0)
    else if (staticParts > 0) {
      // Re-plan under the size-scaled clone and force: pins the static
      // plan with right-sized exchanges.
      val d = org.apache.spark.sql.GraftDatasetShim.ofRowsPreOptimized(
        probeSession(spark, staticParts), optimized)
      d.queryExecution.executedPlan
      (d, true, staticParts)
    } else (df, true, 0)
  }

  // ---- repeated count actions --------------------------------------------

  /** A memoized optimized plan with its static-pin decision and partition
    * override — what [[count]] and [[prepared]] keep per statement. The
    * physical-plan fields are filled only for count plans.
    */
  private case class MemoPlan(
      optimized: LogicalPlan,
      static: Boolean,
      parts: Int,
      // Physical-plan reuse is ONLY elision-free when re-execution cannot
      // find any memoized intermediate: no shuffle (map outputs persist on
      // the exchange instance), no broadcast (the relation future is
      // computed once), no subquery (SubqueryExec caches its result). For
      // such plans — single-stage scans like topk — every collect re-runs
      // the full scan, so reusing the Dataset skips the per-call physical
      // planning + codegen-source regeneration without skipping any work.
      reusable: Option[DataFrame] = None,
      // Clone-template reuse for the remaining static plans: TreeNode.clone
      // deep-copies every CHILD node, so cloned Shuffle/BroadcastExchange
      // instances get fresh lazy shuffle dependencies / relation futures
      // and re-execute fully — skipping only the per-call physical planning
      // walk. The two constructs clone does NOT refresh are excluded by
      // [[cloneSafe]]: a ReusedExchangeExec holds its target exchange as a
      // constructor ARG (copied by reference — the clone would read the
      // first call's map outputs), and expression-held subquery plans are
      // likewise shared (SubqueryExec memoizes its result per instance).
      template: Option[SparkPlan] = None)

  private def exchangeFree(plan: SparkPlan): Boolean = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
    plan.subqueries.isEmpty && nodes(plan).forall {
      case _: ShuffleExchangeExec | _: BroadcastExchangeExec => false
      case p => p.subqueries.isEmpty
    }
  }

  private def cloneSafe(plan: SparkPlan): Boolean = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
    plan.subqueries.isEmpty && nodes(plan).forall {
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => false
      case p => p.subqueries.isEmpty
    }
  }

  /** Execute COUNT(*) over the plan cached at `key` — the repeated-action
    * path a server's prepared statements and the bench both take.
    *
    * `df.count()` wraps the dataset's logical plan in a fresh aggregate and
    * re-pays optimizer fixpoint + adaptive stage rounds on EVERY call. Here
    * the count-wrapped OPTIMIZED plan is memoized per (session, key)
    * (logical plans are immutable), and each call roots a NEW dataset over
    * it: fresh physical plan, fresh shuffle dependencies — so every call
    * re-executes the full query (no stage or broadcast-result reuse across
    * calls; this is a latency optimization, never a work-elision) — while
    * skipping re-optimization, and skipping adaptive stage rounds when the
    * wrapped shape passed the same static-pin probe as [[prepare]].
    */
  def count(spark: SparkSession, key: String)(build: => DataFrame): Long = {
    val m = stores(spark).count
    val cp = m.get(key)
    val df = if (cp == null) {
      val wrapped = get(spark, key)(build).groupBy().count()
      val optimized = wrapped.queryExecution.optimizedPlan
      val (probed, static, parts) = prepareOptimized(spark, optimized)
      val executed = if (static) Some(probed.queryExecution.executedPlan) else None
      val reusable =
        if (executed.exists(exchangeFree)) Some(probed) else None
      val template =
        if (reusable.isEmpty && executed.exists(cloneSafe)) executed else None
      m.put(key, MemoPlan(optimized, static, parts, reusable, template))
      probed
    } else if (cp.reusable.isDefined) {
      // exchange/broadcast/subquery-free static plan: re-executing the same
      // physical plan re-runs the whole scan (nothing memoizable exists),
      // so skip per-call physical planning entirely
      cp.reusable.get
    } else if (cp.template.isDefined) {
      // clone-template static plan: fresh exchange instances (full
      // re-execution), no planner/preparation walk
      val cloned = cp.template.get.clone()
      return cloned.executeCollect()(0).getLong(0)
    } else rooted(spark, cp)
    df.collect()(0).getLong(0)
  }

  /** A NEW dataset over a memoized optimized plan, planned physically at
    * first use under the session it is rooted on: a pinned plan on the
    * adaptive-off clone at the partition override the first probe chose, so
    * it plans static; any other plan on the live session, so it plans
    * adaptive.
    */
  private def rooted(spark: SparkSession, mp: MemoPlan): DataFrame =
    org.apache.spark.sql.GraftDatasetShim.ofRowsPreOptimized(
      if (mp.static) probeSession(spark, mp.parts) else spark, mp.optimized)

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
    * optimization), probes the optimized plan for the static pin exactly as
    * [[sql]] does, and memoizes (optimized plan, pin decision, partition
    * override). Later calls skip all of that: each roots a NEW dataset over
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
      else {
        val optimized = df.queryExecution.optimizedPlan
        val (probed, static, parts) = prepareOptimized(spark, optimized)
        m.put(key, MemoPlan(optimized, static, parts))
        probed
      }
    }
  }
}
