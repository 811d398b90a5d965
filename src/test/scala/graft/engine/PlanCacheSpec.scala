package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestHarness

/** Prepared-plan cache contract: pure repeats reuse the plan, commands
  * bypass and flush, sessions are isolated.
  */
class PlanCacheSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkTestHarness.spark

  test("repeated pure statements reuse the analyzed DataFrame") {
    val s = spark.newSession()
    val a = PlanCache.sql(s, "SELECT 1 + 1 AS two")
    val b = PlanCache.sql(s, "SELECT 1 + 1 AS two")
    assert(a eq b, "second prepare of the same text must be a cache hit")
    assert(b.collect().head.getInt(0) == 2)
  }

  test("a command is never cached and flushes the session's cache") {
    val s = spark.newSession()
    s.sql("CREATE OR REPLACE TEMPORARY VIEW pc_v AS SELECT 1 AS x")
    val before = PlanCache.sql(s, "SELECT x FROM pc_v")
    assert(before.collect().head.getInt(0) == 1)
    // Command through the cache: executes, is not cached, invalidates.
    val c1 = PlanCache.sql(s, "CREATE OR REPLACE TEMPORARY VIEW pc_v AS SELECT 2 AS x")
    val c2 = PlanCache.sql(s, "CREATE OR REPLACE TEMPORARY VIEW pc_v AS SELECT 2 AS x")
    assert(!(c1 eq c2), "commands must re-execute, not hit the cache")
    val after = PlanCache.sql(s, "SELECT x FROM pc_v")
    assert(!(before eq after), "cached plan must not survive a command")
    assert(after.collect().head.getInt(0) == 2,
      "post-command read must see the new view definition")
  }

  test("sessions do not share cache entries") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val a = PlanCache.sql(s1, "SELECT 41 + 1 AS v")
    val b = PlanCache.sql(s2, "SELECT 41 + 1 AS v")
    assert(!(a eq b), "cache keys are per session")
  }

  test("an epoch bump drops the session's entries") {
    val s = spark.newSession()
    val a = PlanCache.sql(s, "SELECT 'inv' AS v")
    PlanCache.bump()
    val b = PlanCache.sql(s, "SELECT 'inv' AS v")
    assert(!(a eq b))
  }

  test("read-only EXPLAIN, DESCRIBE and SHOW leave every session's cached plans alone") {
    val a = spark.newSession()
    val b = spark.newSession()
    a.sql("CREATE OR REPLACE TEMPORARY VIEW pc_ro AS SELECT 1 AS x")
    val before = PlanCache.sql(b, "SELECT 'ro' AS v")
    Seq("EXPLAIN SELECT 'ro' AS v", "SHOW TABLES", "DESCRIBE TABLE pc_ro",
      "DESCRIBE pc_ro x", "SHOW COLUMNS IN pc_ro").foreach { q =>
      PlanCache.sql(a, q).collect()
      assert(PlanCache.sql(b, "SELECT 'ro' AS v") eq before, s"$q flushed another session")
    }
    PlanCache.sql(a, "SET spark.sql.shuffle.partitions=7")
    assert(!(PlanCache.sql(b, "SELECT 'ro' AS v") eq before), "SET still moves the epoch")
  }

  test("the count memo is bounded like the other stores") {
    val s = spark.newSession()
    var builds = 0
    def build = { builds += 1; s.range(3).toDF() }
    assert(PlanCache.count(s, "bound-0")(build) == 3)
    (1 to 64).foreach(i => PlanCache.count(s, s"bound-$i")(s.range(3).toDF()))
    assert(builds == 1)
    assert(PlanCache.count(s, "bound-0")(build) == 3)
    assert(builds == 2, "65 distinct keys must evict the first key's memoized plan")
  }

  test("side-effecting operators are excluded from the op-level cache") {
    val effectful = graft.SparkEntry.allOps.filter(!_.cacheable).map(_.name).toSet
    assert(Set("ddl_ctas", "dml_insert", "dml_overwrite", "scan_csv",
      "scan_json", "scan_partitioned", "multimodal_decode").subsetOf(effectful))
  }

  test("cached plans root at the optimized tree") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val s = spark.newSession()
    s.range(10).createOrReplaceTempView("pc_opt")
    // 1+1 folds at optimize time: the cached dataset's own logical plan must
    // already carry the folded literal (it IS the optimized tree), so
    // per-call actions re-optimize a converged plan.
    val df = PlanCache.sql(s, "SELECT id, 1 + 1 AS two FROM pc_opt WHERE id < 5")
    val folded = df.queryExecution.logical.collectFirst {
      case p: Project => p.projectList.exists(_.toString.contains("2 AS two"))
    }
    assert(folded.contains(true),
      s"expected folded literal in cached root, got:\n${df.queryExecution.logical}")
    assert(df.count() == 5)
  }

  test("broadcast-only plans pin a static plan; shuffled-join plans stay adaptive") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    // All joins broadcast (leaf dims under the threshold) => static plan.
    val bcast = PlanCache.sql(s,
      "SELECT n_name, COUNT(*) AS c FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY n_name")
    assert(!bcast.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      "broadcast-only plan should bypass adaptive execution")
    assert(bcast.count() > 0)
    // A merge/hash-shuffle join (broadcast disabled) over a SMALL total
    // input pins static too (the size-bounded rule): AQE has nothing
    // worth re-deciding under 256 MB of scan.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val smallShuffled = PlanCache.sql(s,
        "SELECT COUNT(*) AS c FROM orders JOIN customer ON o_custkey = c_custkey")
      assert(!smallShuffled.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        "small-input shuffled-join plan should pin static under the size bound")
      assert(smallShuffled.count() == 1)
      // Same query with the size bound off => models the at-scale posture:
      // shuffled joins keep adaptive execution.
      s.conf.set("spark.graft.planCache.staticMaxInputBytes", "0")
      PlanCache.bump()
      val shuffled = PlanCache.sql(s,
        "SELECT COUNT(*) AS c FROM orders JOIN customer ON o_custkey = c_custkey")
      assert(shuffled.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        "shuffled-join plan must keep adaptive execution beyond the size bound")
      assert(shuffled.count() == 1)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
      s.conf.unset("spark.graft.planCache.staticMaxInputBytes")
    }
  }

  test("a plan over the size bound or over a non-file leaf stays on the live session, adaptive") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    def liveAdaptive(q: String): Unit = {
      val df = PlanCache.sql(s, q)
      assert(df.sparkSession eq s, s"rooted on a clone: $q")
      assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        s"expected adaptive execution for $q:\n${df.queryExecution.executedPlan}")
      assert(df.count() > 0)
    }
    // A broadcast-only join over file scans, beyond a 0-byte bound.
    s.conf.set("spark.graft.planCache.staticMaxInputBytes", "0")
    try liveAdaptive("SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey")
    finally s.conf.unset("spark.graft.planCache.staticMaxInputBytes")
    // A range leaf is not a file scan, whatever its size.
    liveAdaptive("SELECT n_name FROM range(10) r JOIN nation ON r.id = n_nationkey")
  }

  test("broadcast-join-chain builds pin static under the size bound; pre-shuffled builds stay adaptive") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    // r17 relaxation: a broadcast build whose subtree is itself a pure
    // broadcast-join chain (dimension pre-reduction, the h05/h07 star
    // shapes) has nothing AQE can re-decide — the adaptive path executes
    // the identical BHJ chain. Under the size bound it must pin static.
    val chain = PlanCache.sql(s,
      "SELECT COUNT(*) AS c FROM lineitem JOIN " +
      "(SELECT s_suppkey, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey) sn " +
      "ON l_suppkey = sn.s_suppkey")
    assert(!chain.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      "broadcast-join-chain build should pin static under the size bound")
    assert(chain.count() == 1)
    // The h07 self-join op carries a REUSED broadcast (the shared
    // nation-filter subtree) as a leaf — reused-broadcast leaves add no
    // input bytes and must not defeat the size bound.
    val selfNation = graft.SparkEntry.allOps.find(_.name == "join_self_nation").get
    val sn = PlanCache.get(s, "spec:join_self_nation")(
      selfNation.run(s, graft.SparkTestHarness.sfDir))
    assert(!sn.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      "reused-broadcast dimension chain (h07 shape) should pin static under the size bound")
    sn.collect() // executes the pinned plan (0 rows at the spec SF — fine)
    // A broadcast build fed by a SHUFFLE that does not shrink through an
    // aggregate stays adaptive (the join_theta blocker, unchanged): its
    // build volume is per-instance map output, not leaf-bounded.
    val preShuffled = PlanCache.sql(s,
      "SELECT /*+ BROADCAST(t) */ COUNT(*) AS c FROM lineitem JOIN " +
      "(SELECT o_orderkey FROM orders DISTRIBUTE BY o_orderkey) t " +
      "ON l_orderkey = t.o_orderkey")
    assert(preShuffled.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      "pre-shuffled broadcast build must keep adaptive execution")
    assert(preShuffled.count() == 1)
  }

  test("small-input pin boundary: agg must TOP a shuffle-fed build; generator builds stay blocked") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    // r17 ADVICE: under the small-input bound the r17 rule admitted any
    // shuffle-fed build with an aggregate ANYWHERE below — including one
    // where a join ABOVE the agg can re-expand rows, exactly the case where
    // a shuffle stage boundary exists for AQE to re-decide from. The build
    // here is agg(orders) ⋈ customer — aggregate below, join on top — and
    // must keep adaptive execution.
    val aggBelowJoin = PlanCache.sql(s,
      "SELECT /*+ BROADCAST(t) */ COUNT(*) AS c FROM lineitem JOIN " +
      "(SELECT c_custkey AS k FROM customer JOIN " +
      "(SELECT o_custkey FROM orders DISTRIBUTE BY o_custkey) g " +
      "ON g.o_custkey = c_custkey) t ON l_orderkey = t.k")
    assert(aggBelowJoin.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      "shuffle-fed build with a join above (not topped by an aggregate) must keep adaptive execution")
    assert(aggBelowJoin.count() == 1)
    // An aggregate that TOPS the build (modulo project) still pins — the
    // r16 scalar-correlation shape the allowance exists for.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val aggTopped = PlanCache.sql(s,
        "SELECT COUNT(*) AS c FROM nation JOIN " +
        "(SELECT o_custkey AS k, COUNT(*) AS oc FROM orders GROUP BY o_custkey) t " +
        "ON n_nationkey = t.k % 25")
      // (broadcast disabled, so this goes through the small-input shuffled
      // path — the point is the plan still pins static, agg subtree and all)
      assert(!aggTopped.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        "agg-topped shapes must still pin static under the size bound")
      assert(aggTopped.count() == 1)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
      PlanCache.bump()
    }
    // Generator-bearing (explode) broadcast build: blocked by the plan-wide
    // row-multiplier gate, so a change to that gate cannot silently widen
    // the small-input allowance to exploded builds.
    val genBuild = PlanCache.sql(s,
      "SELECT /*+ BROADCAST(t) */ COUNT(*) AS c FROM part JOIN " +
      "(SELECT explode(split(r_name, ' ')) AS w FROM region) t " +
      "ON p_name LIKE concat('%', t.w, '%')")
    assert(genBuild.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      "generator-bearing broadcast build must keep adaptive execution")
    assert(genBuild.count() == 1)
  }

  test("row-multiplying plans never take the small-input static pin") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // A cross join multiplies rows far beyond the leaf file bytes the
      // size bound reads (the ScaleCheck replicated-view shape: 10 MB of
      // scan becomes 10x the rows mid-plan). Such plans must keep adaptive
      // execution, whose runtime stage sizes see the true volume —
      // pinning them ran tpch_h18 at 4 partitions for a 6M-row join.
      val multiplied = PlanCache.sql(s,
        "SELECT COUNT(*) AS c FROM orders CROSS JOIN (SELECT * FROM region LIMIT 3) r " +
        "JOIN customer ON o_custkey = c_custkey")
      assert(multiplied.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        "cross-join-multiplied plan must keep adaptive execution")
      assert(multiplied.count() == 1)
      // An exploded (Generate) plan under the bound is likewise excluded.
      val exploded = PlanCache.sql(s,
        "SELECT COUNT(*) AS c FROM (SELECT explode(split(p_name, ' ')) AS w, p_partkey FROM part) t " +
        "JOIN part ON t.p_partkey = part.p_partkey")
      assert(exploded.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        "generator-multiplied plan must keep adaptive execution")
      assert(exploded.count() == 1)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
      PlanCache.bump()
    }
  }

  test("a cached plan's multi-column broadcast pins pages near its data size") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    assert(s.table("supplier").count() <= 100, "build side must stay a tiny dimension")
    // The tpch_h05 build: supplier keyed on (s_suppkey BIGINT, s_nationkey
    // INT). 96 key bits cannot pack into one long, so the build is an
    // UnsafeHashedRelation whose first page is spark.buffer.pageSize — left
    // to Spark's memory/cores/16 derivation that is 64 MB per cached plan.
    val df = PlanCache.sql(s,
      "SELECT COUNT(*) AS c FROM customer JOIN supplier " +
      "ON c_custkey = s_suppkey AND c_nationkey = s_nationkey")
    df.collect()
    def broadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
      case q: QueryStageExec => broadcasts(q.plan)
      case b: BroadcastExchangeExec => b +: broadcasts(b.child)
      case other => other.children.flatMap(broadcasts)
    }
    val sizes = broadcasts(df.queryExecution.executedPlan)
      .flatMap(org.apache.spark.sql.execution.GraftHashedRelationShim.estimatedSize)
    assert(sizes.size == 1, s"expected one broadcast hash relation, got $sizes in\n" +
      df.queryExecution.executedPlan)
    assert(sizes.head <= 8L * 1024 * 1024,
      f"broadcast of <=100 rows pins ${sizes.head / 1048576.0}%.1f MB")
  }

  test("static-plan probe never leaks into concurrent planning in the same session") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    // One thread hammers prepare() (whose probe plans adaptive-off); the
    // other keeps planning fresh statements on the live session. With the
    // old flip-and-restore probe this raced (a statement planned in the
    // window pinned static); under the clone-based probe every live-session
    // plan must stay adaptive. 40 rounds made the old race fire reliably.
    val rounds = 40
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val leaked = new java.util.concurrent.atomic.AtomicInteger(0)
    pool.submit(new Runnable { def run(): Unit = {
      start.await()
      (0 until rounds).foreach { i =>
        PlanCache.bump() // force a fresh probe every round
        PlanCache.sql(s,
          s"SELECT n_name, COUNT(*) AS c FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY n_name HAVING COUNT(*) > $i")
      }
    }})
    pool.submit(new Runnable { def run(): Unit = {
      start.await()
      (0 until rounds).foreach { i =>
        // Planned directly on the live session, NOT through the cache: must
        // always resolve adaptive. Distinct literal per round defeats any
        // Catalyst-level reuse.
        val df = s.sql(s"SELECT o_orderpriority, COUNT(*) AS c FROM orders WHERE o_shippriority >= -$i GROUP BY o_orderpriority")
        if (!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
          leaked.incrementAndGet(): Unit
      }
    }})
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "concurrent planning timed out")
    assert(leaked.get == 0,
      s"${leaked.get}/$rounds live-session plans lost adaptive execution during probes")
  }

  test("count path returns the same value as count() and re-executes full work per call") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    val q = "SELECT o_orderpriority, COUNT(*) AS c FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY o_orderpriority"
    val expected = s.sql(q).count()
    // Only stages of jobs started under this case's own job group count: the
    // context is shared with every other suite, and their stragglers must
    // not land in the window.
    val group = s"count-path-${java.util.UUID.randomUUID()}"
    val ourStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(id => ourStages.add(id))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ourStages.contains(e.stageInfo.stageId)) stages.incrementAndGet(): Unit
    }
    def measured(body: => Long): (Long, Int) = {
      s.sparkContext.addSparkListener(listener)
      s.sparkContext.setJobGroup(group, "count path")
      stages.set(0)
      try {
        val v = body
        // listener events are async: wait until the stage count stops moving
        var last = -1
        var same = 0
        while (same < 3) { // 3 quiet polls = 300 ms with no new events
          Thread.sleep(100)
          val now = stages.get
          if (now == last) same += 1 else { same = 0; last = now }
        }
        (v, stages.get)
      } finally {
        s.sparkContext.clearJobGroup()
        s.sparkContext.removeSparkListener(listener)
      }
    }
    val (v1, stages1) = measured(PlanCache.count(s, "cnt:test")(s.sql(q)))
    val (v2, stages2) = measured(PlanCache.count(s, "cnt:test")(s.sql(q)))
    assert(v1 == expected && v2 == expected)
    // A fresh physical plan per call means fresh shuffle dependencies: the
    // second call must run the SAME stages, not skip map stages via shuffle
    // output reuse (that would make the repeated-action path elide work).
    assert(stages1 > 0)
    // listener events are async and the quiet-poll window can close before
    // a lagging bus delivers the last stage; a mismatch gets ONE clean
    // re-measurement before failing
    val stages2Final =
      if (stages2 == stages1) stages2
      else measured(PlanCache.count(s, "cnt:test")(s.sql(q)))._2
    assert(stages2Final == stages1,
      s"second count ran $stages2Final stages vs $stages1 — work was reused, not re-executed")
    // Commands invalidate the memoized count plan alongside the plan cache.
    PlanCache.bump()
    val (v3, _) = measured(PlanCache.count(s, "cnt:test")(s.sql(q)))
    assert(v3 == expected)
  }

  test("the statement cache never freezes current_timestamp(), rand() or uuid()") {
    val s = spark.newSession()
    val q = "SELECT current_timestamp() AS t, rand() AS r, uuid() AS u"
    val a = PlanCache.sql(s, q).collect().head
    Thread.sleep(1100)
    val b = PlanCache.sql(s, q).collect().head
    assert(a.get(0) != b.get(0), s"current_timestamp() frozen at ${a.get(0)}")
    assert(a.getDouble(1) != b.getDouble(1), "rand() replayed its first seed")
    assert(a.getString(2) != b.getString(2), "uuid() replayed its first seed")
    // inside a subquery too
    val sub = "SELECT (SELECT uuid()) AS u"
    assert(PlanCache.sql(s, sub).collect().head != PlanCache.sql(s, sub).collect().head)
    // deterministic texts keep their cache entry
    val pure = "SELECT 7 * 6 AS v"
    assert(PlanCache.sql(s, pure) eq PlanCache.sql(s, pure))
  }

  /** Run `body` under a fresh job group of `s`; also return how many Spark
    * jobs it started.
    */
  private def countingJobs[A](s: org.apache.spark.sql.SparkSession)(body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"fetch-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    s.sparkContext.addSparkListener(listener)
    s.sparkContext.setJobGroup(group, "fetch")
    try {
      val out = body
      var last = -1
      var same = 0
      while (same < 3) { // listener events are async: 3 quiet polls
        Thread.sleep(100)
        val now = jobs.get
        if (now == last) same += 1 else { same = 0; last = now }
      }
      (out, jobs.get)
    } finally {
      s.sparkContext.clearJobGroup()
      s.sparkContext.removeSparkListener(listener)
    }
  }

  test("a cached static-pinned ORDER BY result is fetched in one Spark job") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val s = spark.newSession()
    // Over 16 MB of files, so the pin sizes its sort at several partitions:
    // unique 64-character hashes that neither dictionary encoding nor
    // compression shrink.
    val dir = java.nio.file.Files.createTempDirectory("pc-wide")
    try {
      val path = dir.resolve("t").toString
      s.range(0, 600000, 1, 4).selectExpr("id", "sha2(CAST(id AS STRING), 256) AS h")
        .write.parquet(path)
      s.read.parquet(path).createOrReplaceTempView("pc_wide")
      val df = PlanCache.sql(s, "SELECT id, h FROM pc_wide WHERE id % 20000 = 0 ORDER BY h")
      val plan = df.queryExecution.executedPlan
      assert(!plan.isInstanceOf[AdaptiveSparkPlanExec], s"expected a static pin:\n$plan")
      val partitions = plan.execute().getNumPartitions
      assert(partitions > 1, "the result must span several partitions")
      def fetchJobs(): (Seq[String], Int) = {
        val (bytes, n) = countingJobs(s)(graft.sources.ArrowIO.toArrowStream(df))
        (graft.sources.ArrowIO.fromArrowStream(s, bytes).collect().map(_.getString(1)).toSeq, n)
      }
      val (first, _) = fetchJobs()
      assert(first == first.sorted && first.size == 30)
      // The cached hit re-runs only the result stage: one job for every
      // partition (toLocalIterator ran one per partition).
      val (again, n) = fetchJobs()
      assert(again == first)
      assert(n == 1, s"fetching $partitions result partitions took $n jobs")
    } finally {
      val files = java.nio.file.Files.walk(dir)
      try files.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally files.close()
    }
  }

  test("a small pinned ORDER BY plans one reduce partition: no range-sampling job") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val s = spark.newSession()
    graft.Tables.ensure(s, graft.SparkTestHarness.sfDir)
    val df = PlanCache.sql(s,
      "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1")
    val plan = df.queryExecution.executedPlan
    assert(!plan.isInstanceOf[AdaptiveSparkPlanExec], s"expected a static pin:\n$plan")
    val ranges = plan.collect { case p => p.outputPartitioning }.collect {
      case r: RangePartitioning if r.numPartitions > 1 => r
    }.distinct
    assert(ranges.isEmpty, s"a small input must not range-partition its sort:\n$plan")
    // Without a range partitioner to sample, the first fetch is the one job.
    val (bytes, n) = countingJobs(s)(graft.sources.ArrowIO.toArrowStream(df))
    assert(n == 1, s"the first fetch took $n jobs:\n$plan")
    val flags = graft.sources.ArrowIO.fromArrowStream(s, bytes).collect().map(_.getString(0)).toSeq
    assert(flags.nonEmpty && flags == flags.sorted)
  }

  test("a pin takes one shuffle partition per 16 MB of input, capped by the live setting") {
    val mb16 = 16L << 20
    assert(PlanCache.pinPartitions(0L, 200) == 1)
    assert(PlanCache.pinPartitions(mb16, 200) == 1)
    assert(PlanCache.pinPartitions(mb16 + 1, 200) == 2)
    assert(PlanCache.pinPartitions(256L << 20, 200) == 16)
    for (live <- Seq(1, 3, 200); bytes <- Seq(0L, mb16, mb16 + 1, 100 * mb16, 1L << 40))
      assert(PlanCache.pinPartitions(bytes, live) <= live, s"$bytes bytes at live $live")
    assert(PlanCache.pinPartitions(100 * mb16, 3) == 3)
  }

  test("a command's result is fetched without a Spark job") {
    val s = spark.newSession()
    val df = s.sql("SHOW DATABASES") // runs here; its rows stay on the driver
    val (bytes, n) = countingJobs(s)(graft.sources.ArrowIO.toArrowStream(df))
    assert(n == 0, s"fetching a command result took $n jobs")
    assert(graft.sources.ArrowIO.fromArrowStream(s, bytes).collect().map(_.getString(0)).contains("default"))
  }

  test("dedup_jaccard builds without a Spark job and its count is memoized") {
    val s = spark.newSession()
    val dir = graft.SparkTestHarness.sfDir
    graft.Tables.ensure(s, dir)
    val op = graft.SparkEntry.allOps.find(_.name == "dedup_jaccard").get
    // A lazy plan: the DataFrame exists before anything runs, so the plan
    // cache may hold it.
    val (df, n) = countingJobs(s)(op.run(s, dir))
    assert(n == 0, s"building dedup_jaccard ran $n Spark jobs")
    assert(op.cacheable, "dedup_jaccard must go through the plan cache")
    val count = graft.SparkEntry.countQueries("dedup_jaccard")
    val first = count(s, dir)
    assert(count(s, dir) == first)
    assert(first == df.count())
  }

  // ---- prepared executes ---------------------------------------------------

  private lazy val global = new GlobalSettings
  private lazy val sessions = new SessionManager(spark, global)

  private def shared(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
    a.queryExecution.optimizedPlan eq b.queryExecution.optimizedPlan

  test("a re-executed prepared SELECT reuses its optimized plan and sees same-session inserts") {
    val s = sessions.getOrCreate("pc-prep-insert", "alice", "admin")
    def run(sql: String) = Statement.create(sessions, s, global, sql).collect()
    run("DROP TABLE IF EXISTS pc_prep_ins")
    run("CREATE TABLE pc_prep_ins USING parquet AS SELECT 1 AS id")
    val h = s.prepare("SELECT COUNT(*) AS c FROM pc_prep_ins WHERE id >= :lo").handle
    def count() = s.executePrepared(h, Map("lo" -> 0L))
    val a = count()
    val b = count()
    assert(shared(a, b), "the second call must reuse the memoized optimized plan")
    assert(!(a eq b), "every call roots a new dataset")
    assert(!b.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec], "a pinned plan re-executes static")
    assert(b.collect().head.getLong(0) == 1)
    run("INSERT INTO pc_prep_ins VALUES (2)")
    assert(count().collect().head.getLong(0) == 2)
    // a prepared INSERT invalidates as well
    val ins = s.prepare("INSERT INTO pc_prep_ins VALUES (:v)").handle
    s.executePrepared(ins, Map("v" -> 3))
    assert(count().collect().head.getLong(0) == 3)
  }

  test("prepared parameters of different types never share a memoized plan") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val s = sessions.getOrCreate("pc-prep-types", "alice", "admin")
    val h = s.prepare("SELECT :x AS v").handle
    def run(v: Any) = s.executePrepared(h, Map("x" -> v))
    val long = run(1L)
    val double = run(1.0)
    val string = run("abc")
    val one = run("1")
    assert(long.schema("v").dataType == LongType && long.collect().head.getLong(0) == 1L)
    assert(double.schema("v").dataType == DoubleType && double.collect().head.getDouble(0) == 1.0)
    assert(string.schema("v").dataType == StringType && string.collect().head.getString(0) == "abc")
    assert(one.schema("v").dataType == StringType && one.collect().head.getString(0) == "1")
    assert(Seq(double, string, one).forall(d => !shared(long, d)) && !shared(string, one))
    assert(shared(run(1.0), double) && shared(run(1L), long), "same typed value reuses its plan")
    // 0.0 and -0.0 are == in Scala but fold to different literals
    val zero = run(0.0)
    val negZero = run(-0.0)
    assert(!shared(zero, negZero))
    assert(zero.collect().head.getDouble(0).equals(0.0))
    assert(negZero.collect().head.getDouble(0).equals(-0.0), "-0.0 answered with 0.0's plan")
  }

  test("a re-executed prepared now() advances") {
    val s = sessions.getOrCreate("pc-prep-now", "alice", "admin")
    val h = s.prepare("SELECT now() AS t, :k AS k").handle
    val a = s.executePrepared(h, Map("k" -> 1L)).collect().head.get(0)
    Thread.sleep(1100)
    val b = s.executePrepared(h, Map("k" -> 1L)).collect().head.get(0)
    assert(a != b, s"prepared now() frozen at $a")
  }

  test("a prepared SELECT is not memoized while the session's transaction has staged writes") {
    val s = sessions.getOrCreate("pc-prep-txn", "alice", "admin")
    def run(sql: String) = Statement.create(sessions, s, global, sql).collect()
    run("DROP TABLE IF EXISTS pc_prep_txn")
    run("CREATE TABLE pc_prep_txn USING parquet AS SELECT 1 AS id, 10 AS v")
    val h = s.prepare("SELECT CAST(SUM(v) AS BIGINT) AS s FROM pc_prep_txn").handle
    def sum() = s.executePrepared(h)
    assert(shared(sum(), sum()))
    run("BEGIN")
    run("UPDATE pc_prep_txn SET v = v + 1")
    assert(s.stagedTables.nonEmpty)
    val (a, b) = (sum(), sum())
    assert(!shared(a, b), "staged transaction tables must not be memoized")
    run("COMMIT")
    assert(sum().collect().head.getLong(0) == 11)
  }
}
