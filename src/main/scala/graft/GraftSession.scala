package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Mirrors the reference server's startup configuration surface
  * (`/root/reference/src/common/gizmosql_library.cpp:497-1142`: UTC handling,
  * memory limit passthrough) re-expressed as Spark conf. Designed for a real
  * cluster: everything here is also valid under `spark-submit` with a YARN/K8s
  * master — local[] is only the test harness default.
  */
object GraftSession {

  /** Conf applied to any session the engine owns. AQE is on so the same plan
    * adapts at 100 TB (skew-join splitting, dynamic coalescing) without code
    * changes; shuffle.partitions=32 matches the local harness and is expected
    * to be overridden (or AQE-coalesced) on a real cluster.
    */
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
    // Local masters only: put shuffle/spill files on tmpfs when available,
    // and skip shuffle compression — compressing bytes that never leave RAM
    // burns CPU for nothing. On a real cluster the resource manager provides
    // spark.local.dir (often NVMe) and compression earns its keep on the
    // network, so neither override fires there. tmpfs is RAM-backed, so the
    // override is gated on free capacity (a big spill onto a small /dev/shm
    // would ENOSPC where disk would have succeeded); SPARK_GRAFT_TMPFS=0/1
    // forces it off/on regardless.
    val shm = new java.io.File("/dev/shm")
    val tmpfsOk = sys.env.get("SPARK_GRAFT_TMPFS") match {
      case Some(v) => v == "1" || v.equalsIgnoreCase("true")
      case None => shm.isDirectory && shm.getUsableSpace >= 16L * 1024 * 1024 * 1024
    }
    if (master.startsWith("local") && shm.isDirectory && tmpfsOk) {
      // A SIGKILLed JVM (OOM killer) never runs its shutdown hooks, so its
      // shuffle dirs stay pinned in tmpfs — i.e. in RAM — and shrink every
      // later run's budget until the machine OOMs on queries that would
      // otherwise fit (observed: a leaked 98 GB blockmgr dir). Reap scratch
      // dirs idle for >30 min at builder time; live runs touch their
      // shuffle files far more often than that.
      val root = new java.io.File("/dev/shm/graft-spark")
      val cutoff = System.currentTimeMillis() - 30L * 60 * 1000
      // Liveness = newest mtime of the dir or any immediate child: shuffle
      // writes update the hashed bucket subdir (blockmgr-*/XX/) even when
      // the top-level dir's own mtime stays at creation time.
      def newest(d: java.io.File): Long =
        (d.lastModified +: Option(d.listFiles()).getOrElse(Array.empty).map(_.lastModified)).max
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(d => (d.getName.startsWith("blockmgr-") || d.getName.startsWith("spark-")) &&
          newest(d) < cutoff)
        .foreach(rm)
      b.config("spark.local.dir", "/dev/shm/graft-spark")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        // Same reasoning for broadcast blocks: in one JVM the torrent
        // never crosses a wire, so compressing the build side only adds
        // CPU between "hash relation ready" and "probe stage starts".
        .config("spark.broadcast.compress", "false")
    }
    if (master.startsWith("local")) {
      // Parquet row groups are Spark's atomic split unit; Layout.normalize
      // rewrites pathological single-row-group local fixtures into ~16
      // small files per table (graft.sources.Layout). Stop the file packer
      // from re-merging them into one split: 8 MB + the default 4 MB
      // open-cost padding yields one scan task per normalized file. Local
      // masters only — a cluster reads real multi-row-group data and keeps
      // the 128 MB default.
      b.config("spark.sql.files.maxPartitionBytes", "8m")
    }
    b
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime SMJ->SHJ: when AQE measures every shuffle partition of a
      // join input under this threshold, build a hash table instead of
      // sorting both sides. Decided from measured sizes per query, so the
      // same conf is safe at 100 TB (big joins keep sort-merge and its
      // graceful spill path; only provably small ones skip the sorts).
      .config("spark.sql.adaptive.shuffledHashJoinLocalMapThreshold", "128m")
      // Broadcast up to 64 MB instead of the conservative 10 MB default.
      // The decision stays SIZE-BASED (estimated, then re-measured by AQE),
      // so it self-scales: a relation that is 30 MB at this SF broadcasts
      // (one stage, no shuffle of the big side); the same relation at 1000x
      // exceeds the threshold and keeps the shuffled join. 64 MB per
      // executor is well inside modern executor memory and saves a full
      // shuffle+stage round wherever it fires (measured -270 ms across the
      // TPC-H join family at sf0.1, no regressions).
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // Fixed Tungsten page size. Spark derives it as execution memory /
      // cores / 16, clamped to 1-64 MB — 64 MB on a 7g local[4] JVM — and a
      // broadcast hash relation on a key that does not pack into one long
      // (tpch_h05's (s_suppkey BIGINT, s_nationkey INT)) allocates one
      // whole page as its first data page: 100 supplier rows held 64.0 MB,
      // both in each executor's copy and in the driver copy a PlanCache
      // entry keeps alive. A fixed 4 MB page sizes such relations near
      // their data. Measured on 4 cores, -Xmx7g, interleaved:
      //   - perfbench olap_mix, heap after GC (median of 3 seeds): 353.3 MB
      //     derived, 241.6 MB at 4m, 227.2 MB at 1m; statement latencies
      //     within run-to-run noise (llm_pipeline heap 81.5-82.4 MB at
      //     every size);
      //   - sf0.1 sort/aggregate-heavy shapes, median of 10 calls
      //     (derived / 4m / 1m): agg_h01 0.381 / 0.342 / 0.339 s, tpch_h18
      //     0.812 / 0.679 / 0.692 s, tpch_h21 0.641 / 0.595 / 0.591 s.
      // 4m over 1m: a task addresses at most 8192 pages, so 1m would cap
      // one task's in-memory sort or aggregation at 8 GB where 4m allows
      // 32 GB, which keeps large executors safe for 14 MB less saving here.
      .config("spark.buffer.pageSize", "4m")
      // Constraint propagation spends O(plan^2) optimizer time deriving
      // IsNotNull/transitive predicates on join-heavy plans (~20 ms/query on
      // the TPC-H shapes here, measured). The derived filters only prune
      // null join keys — a scan-side micro-filter the fact-table scans in
      // this workload never benefit from (keys are non-null by
      // construction). Planning is per-query fixed cost; the filters it buys
      // are per-row and free to re-add with explicit IS NOT NULL when a
      // workload actually has null-heavy keys.
      .config("spark.sql.constraintPropagation.enabled", "false")
      // A long-lived server cycles through many distinct query shapes; the
      // default 100-entry codegen class cache thrashes once the working set
      // of generated stages exceeds it, recompiling (and re-JITting) hot
      // stages on every revisit.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      .config("spark.ui.enabled", "false")
  }

  def local(): SparkSession = builder().getOrCreate()
}

/** Catalog registration: one Parquet file/dir per table, registered under its
  * bare name, mirroring the reference's replacement-scan behavior
  * (`/root/reference/src/duckdb/admin_command_guard.cpp:81-103` — `FROM
  * 'x.parquet'`) and its information_schema-backed catalog.
  *
  * Scale note: these are plain Parquet scans, so Catalyst's filter/column
  * pushdown and partition pruning apply unchanged when the paths point at a
  * partitioned 100 TB dataset on object storage instead of a local file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // session -> currently-registered dir. Views are global per name within a
  // session, so switching dirs must re-register (a per-(session,dir) cache
  // would silently keep views pointed at the previous dir). Weak identity
  // keys: SparkSession doesn't override equals, and identityHashCode keys
  // could collide across session lifetimes.
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Idempotently register every test table in `dir` as a temp view.
    *
    * Normalizations here branch on the OBSERVED parquet schema, never on an
    * assumed fixture dtype: the driver regenerates the fixtures between
    * rounds and has already switched `events.ts` from TIMESTAMP(NANOS) to
    * timestamp[us] once. Hard-coding the old dtype made registration throw
    * for every table-backed query — so each case below keys off
    * `raw.schema(...).dataType` and leaves already-normal columns alone.
    */
  def ensure(spark: SparkSession, dir: String): Unit = {
    if (registered.get(spark) != dir) {
      import org.apache.spark.sql.functions.expr
      import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
      // Inert on micros/ntz files; lets a TIMESTAMP(NANOS) fixture load as
      // long instead of failing in the reader.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Content-identical multi-row-group local cache (one-time, keyed on
      // the source fingerprint): single-row-group fixtures otherwise scan
      // as ONE task per table. See graft.sources.Layout.
      val effDir = graft.sources.Layout.normalize(spark, dir, all)
      all.foreach { n =>
        val raw = spark.read.parquet(s"$effDir/$n.parquet")
        val df =
          if (n == "events") {
            raw.schema("ts").dataType match {
              // TIMESTAMP(NANOS) read as long: truncate to micros (the
              // reference's own Arrow export truncates ns->us the same way,
              // SURVEY.md §1.2) and store timezone-free.
              case LongType => raw.withColumn("ts",
                expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
              // Instant-typed micros: align to the NTZ semantics every
              // downstream oracle assumes (session tz is UTC, so values are
              // unchanged — only the type adjusts).
              case TimestampType => raw.withColumn("ts",
                expr("cast(ts as timestamp_ntz)"))
              // Already timestamp_ntz (timestamp[us], isAdjustedToUTC=false):
              // nothing to normalize.
              case TimestampNTZType => raw
              case other => throw new IllegalStateException(
                s"events.ts has unexpected dtype $other in $dir/events.parquet")
            }
          } else raw
        df.createOrReplaceTempView(n)
      }
      registered.put(spark, dir)
    }
  }

  /** One line per table: the OBSERVED parquet column dtypes. Printed by
    * Verify/Bench when registration throws, so a future fixture regeneration
    * is diagnosed from one schema report in the artifact instead of 190
    * identical per-query stack traces (the round-6 failure mode).
    */
  def schemaReport(spark: SparkSession, dir: String): String =
    all.map { n =>
      val cols =
        try spark.read.parquet(s"$dir/$n.parquet").schema
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
        catch { case e: Throwable => s"<unreadable: ${e.getMessage}>" }
      s"  $n: $cols"
    }.mkString("\n")
}
