package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Training-data text pipeline over `documents`: exact + near deduplication,
  * quality scoring, token counting, language ID, fingerprinting.
  *
  * Scale design: every operator is a groupBy/join on a derived key (text,
  * shingle, band-bucket) — no driver-side materialization anywhere, so each
  * distributes as ordinary shuffles; MinHash banding turns the quadratic
  * near-dup problem into an equi-join on bucket ids.
  */
object TextPipeline {

  private def docs(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark, dir)
    spark.table("documents")
  }

  /** One row per word trigram: (doc_id, w, w1, w2). Fully codegen: zip the
    * token array with its two shifted slices and explode — no window (which
    * would shuffle+sort by doc) and no interpreted `transform` lambda (which
    * costs ~1 ms/doc). The generator input is evaluated once per document,
    * not once per gram.
    *
    * The doc_id repartition BEFORE the explode decouples the CPU-heavy part
    * (explode + per-gram hashing downstream, ~15-50x the input rows) from
    * the input file layout: it costs one exchange of the *pre-explosion*
    * bytes — the cheapest point in the pipeline — and spreads the gram work
    * evenly across the cluster even when the scan has fewer splits than
    * cores (single-row-group parquet: measured 1.7 s single-task vs 0.1 s
    * spread at sf0.1) or skewed file sizes. Hash-on-doc_id, not round-robin:
    * deterministic under retry with no local sort.
    */
  private[operators] def triRows(d: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    // Explicit partition count: a column-only repartition is an AQE
    // coalesce target, and the pre-explosion shuffle is tiny by design —
    // bytes-based coalescing would fold it back to one task and re-serialize
    // the gram work (measured). The count is the session's shuffle
    // parallelism, not a constant.
    // The explicit isNotNull is a semantic no-op on real corpora but keeps
    // every consumer's copy of this subtree canonically identical: branches
    // that join/group on doc_id get the same predicate INFERRED onto the
    // scan, and a branch without it (e.g. a gram-frequency aggregate) would
    // otherwise compile its own scan+explode instead of a ReusedExchange —
    // measured as a duplicated 2.5 s CPU stage in the Jaccard pair join.
    val n = d.sparkSession.sessionState.conf.numShufflePartitions
    d.filter(col("doc_id").isNotNull)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), ws.as("w0"),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))).as("s1"),
        slice(ws, lit(3), greatest(size(ws) - 2, lit(0))).as("s2"))
      .select(col("doc_id"), explode(arrays_zip(col("w0"), col("s1"), col("s2"))).as("t"))
      .filter(col("t.s2").isNotNull)
      .select(col("doc_id"), col("t.w0").as("w"), col("t.s1").as("w1"), col("t.s2").as("w2"))
  }

  /** Distinct 3-gram *identities* per doc as 64-bit hashes, with the per-doc
    * distinct-gram count riding along: (doc_id, gram, n). Hash identity
    * stands in for string identity (64-bit collisions are negligible at any
    * realistic gram count).
    *
    * Both the (doc_id, gram) distinct and the per-doc size complete on the
    * doc_id clustering `triRows` already established — HashPartitioning on a
    * subset of the keys satisfies the aggregate's clustering, and the window
    * count re-uses the same partitioning — so `n` costs one in-partition
    * sort, not the gram-set re-shuffle + two pair-side joins the previous
    * separate size aggregate paid (r3 bench: 3 extra exchanges of which one
    * moved the whole inverted index).
    *
    * r18 measured-and-rejected (guide §1.1): replacing dropDuplicates +
    * window with ONE collect_set aggregate + explode (`n` = array size, no
    * sort anywhere) is a wash — OPTIMIZATION_r18.md interleaved medians 0.751 s
    * (this shape) vs 0.759 s (agg+explode) over the full gated jaccard; the
    * array build + re-explode costs what the sort saved. Likewise the
    * gram-side df as groupBy(gram)+collect_list+explode: 0.84 s, an 11%
    * LOSS, and its per-gram array state cannot spill where the window's
    * partition buffer can. Both index-build windows stay.
    */
  private[graft] def shingleHashes(d: DataFrame): DataFrame =
    triRows(d)
      .select(col("doc_id"), xxhash64(col("w"), col("w1"), col("w2")).as("gram"))
      .dropDuplicates("doc_id", "gram")
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .repartition(col("gram"))

  /** Exact n-gram Jaccard similarity for all pairs above `threshold`.
    * Shuffles on `gram` (the inverted index, pre-shrunk to shareable grams)
    * then on the pair — both standard equi-joins; at 100 TB you'd pre-filter
    * with MinHash banding (below) and feed only candidate pairs through the
    * exact verifier.
    *
    * A Bayardo-style document-frequency prefix filter was measured here and
    * REJECTED: at threshold 0.12 the prefix keeps (1-t) ~ 88% of each doc's
    * grams, and this corpus's pair cost is spread across cluster-shared
    * grams rather than concentrated in a few high-df ones, so the candidate
    * join barely shrank while the separate verification pass doubled the
    * stage count — 5.3 s vs 2.6 s baseline vs 0.98 s for this shape at
    * sf0.1. The df>=2 restriction below is the part of that idea that pays
    * for itself at any threshold.
    */
  /** Default = the LAZY static cold/hot union (below): callers that compose
    * plans lazily or replay them (streams, cached query shapes) get a plan,
    * not an execution. The gated shape runs Spark jobs eagerly at
    * DataFrame-CONSTRUCTION time (localCheckpoint + max-df probe) and pins
    * a snapshot that will not reflect later source mutations — it is
    * opt-in under its explicit name [[jaccardPairsGated]] (r11 ADVICE: an
    * eager default silently changed public-overload semantics). Batch
    * callers that want the measured ~9% benign-corpus win (r12 interleaved
    * A/B: 0.754 vs 0.826 s median at sf0.1) opt in explicitly.
    */
  def jaccardPairs(d: DataFrame, threshold: Double): DataFrame =
    jaccardPairs(d, threshold, hotDfCap = 1 << 12, salts = 16)

  /** Batch form with the hot branch GATED on a measured df sketch (VERDICT
    * r10 #6): the static union below schedules the salted exchanges even
    * when no gram exceeds the cap — empty stages that measured ~0.18 s
    * flat tax at sf0.1 (round 11: e_cold_only 0.70 s vs c_split_mat 0.87 s,
    * same window; ARCHITECTURE.md at 7f0c93f). Here the gram index (post
    * df>=2 filter) is pinned ONCE with an eager localCheckpoint — which
    * preserves the window exchange's hash(gram) clustering, so it doubles as
    * the
    * materialization point the static form bought with an extra
    * repartition — and `max(df) > cap` is probed from the pinned blocks
    * (a block scan, ~ms; no recompute). Benign corpora then run ONLY the
    * unsalted self-join over the pinned index: no salted stage is ever
    * scheduled (measured 0.775 s vs 0.874 s for the static union, same
    * window). A corpus with a hot gram builds the same cold/hot union as
    * the static form, both branches reading the pinned blocks. An
    * Observation-based gate (max(df) carried out of the cold join itself)
    * was REJECTED: when the cold side is empty the hash join short-
    * circuits without consuming the observed subtree and the metric never
    * materializes — measured obs={} exactly in the case the gate must
    * detect. Streams or replayed plans must use the static
    * [[jaccardPairs(d,threshold,hotDfCap,salts)]] form: the gate decides
    * from THIS corpus's data and an eager checkpoint cannot re-execute.
    * Scale posture: the pinned blocks are O(index) = the same rows the
    * static form's repartition exchange already wrote to shuffle storage.
    */
  def jaccardPairsGated(d: DataFrame, threshold: Double, hotDfCap: Int,
      salts: Int): DataFrame = {
    val (lazyPairs, g2) = jaccardPairsGatedPlan(d, threshold, hotDfCap, salts)
    // Materialize the (output-sized) pair list, then FREE the pinned gram
    // index: without this a long-lived server accumulates checkpoint blocks
    // across calls until ContextCleaner GC (r11 verdict). Dataset.unpersist
    // would be a no-op here (localCheckpoint blocks are RDD-owned, not
    // CacheManager entries) — unpersist the checkpointed RDD itself,
    // reachable from the LogicalRDD leaf.
    val result = lazyPairs.localCheckpoint(true)
    g2.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    }
    result
  }

  /** The gated computation WITHOUT the result materialization: returns the
    * lazy pair plan plus the pinned index it reads (caller owns the blocks).
    * Package-private — the plan-shape regression test asserts the benign
    * path builds only the unsalted cold join, which the public form's
    * result checkpoint would hide behind a LogicalRDD leaf.
    */
  private[operators] def jaccardPairsGatedPlan(d: DataFrame, threshold: Double,
      hotDfCap: Int, salts: Int): (DataFrame, DataFrame) = {
    // max(df) rides the checkpoint job as an Observation instead of a
    // separate `isEmpty` probe job (r17): on benign corpora the old take(1)
    // probe scanned every pinned block across escalating job waves —
    // measured 150-275 ms of the per-call wall (OPTIMIZATION_r17.md) for a
    // fact the checkpoint's own pass already touches. CollectMetrics is
    // safe HERE because the eager checkpoint consumes the whole observed
    // subtree — unlike the r11-rejected join-side Observation, which never
    // materialized when the hash join short-circuited on an empty side.
    //
    // Document frequency stays a WINDOW count over the gram clustering —
    // a groupBy(gram) aggregate carrying the doc list as collect_list was
    // measured SLOWER here (OPTIMIZATION_r18.md, interleaved: df-agg variants
    // 1.33/1.37 s vs window 1.29/1.20 s medians — the struct collect +
    // re-explode costs more than the sort it saves) and its per-group array
    // state cannot spill, where the window's partition buffer can.
    val obs = org.apache.spark.sql.Observation()
    val g2 = shingleHashes(d)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("df") >= 2)
      .observe(obs, max(col("df")).as("maxDf"))
      .localCheckpoint(true)
    // Bounded metric wait (r17 ADVICE): Observation completion rides the
    // async ExecutionListenerBus; a dropped SQLExecutionEnd event (bounded
    // listener queue under load on a long-lived server) would hang a bare
    // obs.get forever. The checkpoint is already materialized here, so the
    // metric normally arrives in ms — poll briefly, then fall back to a
    // block-scan probe of the pinned index (the pre-r17 gate, extra cost
    // but no hang mode).
    val anyHot = {
      def metrics = org.apache.spark.sql.GraftDatasetShim.observedOrEmpty(obs)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var m = metrics
      while (m.isEmpty && System.nanoTime() < deadline) { Thread.sleep(20); m = metrics }
      if (m.nonEmpty) Option(m.getOrElse("maxDf", null))
        .exists(_.asInstanceOf[Number].longValue > hotDfCap)
      else !g2.filter(col("df") > hotDfCap).isEmpty
    }
    val pairRows = if (!anyHot) {
      val cold = g2.drop("df")
      cold.select(col("gram"), col("doc_id").as("ld"), col("n").as("ln"))
        .hint("shuffle_hash")
        .join(cold.select(col("gram"), col("doc_id").as("rd"), col("n").as("rn")),
          Seq("gram"))
        .filter(col("ld") < col("rd"))
        .select("ld", "rd", "ln", "rn")
    } else {
      val cold = g2.filter(col("df") <= hotDfCap).drop("df")
      val hot = g2.filter(col("df") > hotDfCap).drop("df")
        .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(salts)).cast("int"))
      val coldPairs = cold.select(col("gram"), col("doc_id").as("ld"), col("n").as("ln"))
        .hint("shuffle_hash")
        .join(cold.select(col("gram"), col("doc_id").as("rd"), col("n").as("rn")),
          Seq("gram"))
        .filter(col("ld") < col("rd"))
        .select("ld", "rd", "ln", "rn")
      // Salted triangle-block decomposition, pinned partitions — identical
      // to the static form (see jaccardPairs below for the full rationale).
      val hotParts = d.sparkSession.sessionState.conf.numShufflePartitions
      val lhs = hot.withColumn("j", explode(sequence(col("salt"), lit(salts - 1))))
        .select(col("gram"), col("doc_id").as("ld"), col("n").as("ln"),
          col("salt").as("i"), col("j"))
        .repartition(hotParts, col("gram"), col("i"), col("j"))
      val rhs = hot.withColumn("i", explode(sequence(lit(0), col("salt"))))
        .select(col("gram"), col("doc_id").as("rd"), col("n").as("rn"),
          col("i"), col("salt").as("j"))
        .repartition(hotParts, col("gram"), col("i"), col("j"))
      val hotPairs = lhs.hint("shuffle_hash").join(rhs, Seq("gram", "i", "j"))
        .filter(col("i") =!= col("j") || col("ld") < col("rd"))
        .select("ld", "rd", "ln", "rn")
      coldPairs.unionByName(hotPairs)
    }
    val pairs = pairRows
      .groupBy(
        least(col("ld"), col("rd")).as("id_a"),
        greatest(col("ld"), col("rd")).as("id_b"),
        when(col("ld") < col("rd"), col("ln")).otherwise(col("rn")).as("na"),
        when(col("ld") < col("rd"), col("rn")).otherwise(col("ln")).as("nb"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    val result = pairs
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
    (result, g2)
  }

  /** As [[jaccardPairs]] with the skew controls exposed. `hotDfCap` is the
    * per-gram document frequency above which the self-join SALTS: a gram in
    * k docs contributes C(k,2) pairs, and without salting every one of them
    * materializes in the single shuffle bucket that gram hashes to — a
    * pathological gram in 20% of the corpus serializes the whole join on
    * one task. AQE's skew-join CANNOT rescue this plan: the df window sits
    * between the shuffle and the join, so there is no raw shuffle read for
    * it to split (verified against the final adaptive plan — the pin is
    * `OperatorSpec`'s constructed-skew test). Instead, hot grams use the
    * standard triangle-block decomposition: each hot row gets a
    * deterministic salt s in [0,S); the left replica fans to blocks
    * (s, j>=s), the right to (i<=s, s), and every within-gram pair meets in
    * EXACTLY one (i, j) block — quadratic work spreads over S(S+1)/2
    * shuffle keys at replication cost S on hot rows only.
    *
    * The plan is a STATIC cold/hot union, so benign corpora pay nothing:
    * cold grams (df <= cap) self-join on `gram` alone, which the window's
    * gram clustering already satisfies — EnsureRequirements inserts no
    * exchange and the second side is a ReusedExchange of the first. Only
    * rows of hot grams enter the salted (gram, i, j) join, whose two
    * exchanges shuffle ZERO rows when no gram exceeds the cap (r8 salted
    * everything unconditionally and the two exploded-index exchanges cost a
    * measured ~0.25 s flat tax per run at sf0.1). No driver-side probe
    * decides the shape — both branches live in one plan and the data routes
    * itself, which is also the only form that stays correct when a stream
    * or a downstream reuse replays the plan on different data.
    */
  def jaccardPairs(d: DataFrame, threshold: Double, hotDfCap: Int,
      salts: Int): DataFrame = {
    val g = shingleHashes(d)
    // Only grams appearing in >=2 docs can contribute to any intersection;
    // df=1 grams — the bulk of a mostly-unique corpus — are dropped from
    // BOTH join sides. Lossless: every shared gram has df >= 2, and union
    // sizes still ride along from the unfiltered per-doc counts. Document
    // frequency is a window count over the gram clustering the exchange
    // already provides — NOT a separate aggregate branch + semi-join: the
    // aggregate branch's copy of the exchange subtree gets column-pruned
    // differently (no `n`), which defeats ReusedExchange and re-runs the
    // whole scan+explode+hash pipeline (measured: two parallel 3+ s stages
    // computing identical grams). Residual declared straggler: the window
    // COUNT itself still processes a hot gram's group in one task — linear,
    // unlike the join's quadratic, and the documented corpus-scale answer
    // for pathological grams is MinHash banding upstream.
    // The trailing repartition(gram) is a MATERIALIZATION point, not a data
    // movement (rows are already gram-clustered): four consumers hang off
    // g2 (both cold join sides, both hot join sides), and without an
    // exchange boundary ABOVE the window each of them would re-run the
    // sort+window CPU over the full gram index (measured: the 4-pass shape
    // times the same as r8's salted-everything shape — the saved exchanges
    // came back as repeated window passes). With it, the window runs once
    // inside the exchange's map stage and all four branches are
    // ReusedExchange reads of its OUTPUT; the exchange also provides
    // exactly the gram clustering the cold self-join needs, so
    // EnsureRequirements adds nothing there.
    val g2 = g
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("df") >= 2)
      .repartition(col("gram"))
    val cold = g2.filter(col("df") <= hotDfCap).drop("df")
    val hot = g2.filter(col("df") > hotDfCap).drop("df")
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(salts)).cast("int"))
    // shuffle_hash: the gram index is ~docs*grams rows — broadcasting it
    // serializes a 1M-row hashed relation on the driver; a shuffled hash
    // join builds per-partition in parallel and is the only viable shape
    // once the corpus outgrows any single executor. The carried sizes land
    // in the pair aggregate's keys (constant within a pair), so no size
    // joins follow — the aggregate output is already filterable.
    val coldPairs = cold
      .select(col("gram"), col("doc_id").as("ld"), col("n").as("ln"))
      .hint("shuffle_hash")
      .join(cold.select(col("gram"), col("doc_id").as("rd"), col("n").as("rn")),
        Seq("gram"))
      .filter(col("ld") < col("rd"))
      .select("ld", "rd", "ln", "rn")
    // The hot-side exchanges are PINNED to the configured partition count
    // (repartition with an explicit N = REPARTITION_BY_NUM, which AQE's
    // coalescer must honor). Left coalescible, AQE sees only the BYTES of
    // the exploded hot index — a few MB for a df-10k gram — and merges the
    // salted join into one partition, putting the C(df,2) pair expansion
    // (which happens after the shuffle read, invisible to size stats) back
    // into a single task: measured 350 s max-task vs the unsalted shape's
    // 195 s on the constructed-skew probe. The same trap is why AQE's
    // skew-join can't rescue the unsalted shape. On benign corpora the
    // pinned partitions carry zero rows and cost scheduling noise only.
    val hotParts = d.sparkSession.sessionState.conf.numShufflePartitions
    val lhs = hot
      .withColumn("j", explode(sequence(col("salt"), lit(salts - 1))))
      .select(col("gram"), col("doc_id").as("ld"), col("n").as("ln"),
        col("salt").as("i"), col("j"))
      .repartition(hotParts, col("gram"), col("i"), col("j"))
    val rhs = hot
      .withColumn("i", explode(sequence(lit(0), col("salt"))))
      .select(col("gram"), col("doc_id").as("rd"), col("n").as("rn"),
        col("i"), col("salt").as("j"))
      .repartition(hotParts, col("gram"), col("i"), col("j"))
    val hotPairs = lhs.hint("shuffle_hash").join(rhs, Seq("gram", "i", "j"))
      // same-block pairs orient by id (each unordered pair appears in both
      // role orders — keep one); cross-block pairs meet exactly once in
      // either order, so no order constraint applies
      .filter(col("i") =!= col("j") || col("ld") < col("rd"))
      .select("ld", "rd", "ln", "rn")
    // Each shared gram yields exactly one row from exactly one branch (a
    // gram is either cold or hot, never both), so the union's pair counts
    // are the true intersection sizes.
    val pairs = coldPairs.unionByName(hotPairs)
      .groupBy(
        least(col("ld"), col("rd")).as("id_a"),
        greatest(col("ld"), col("rd")).as("id_b"),
        when(col("ld") < col("rd"), col("ln")).otherwise(col("rn")).as("na"),
        when(col("ld") < col("rd"), col("rn")).otherwise(col("ln")).as("nb"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    pairs
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
  }

  /** Directed near-superset detection: gram-set containment
    * C(A in B) = |A∩B| / |A|. Jaccard misses a short doc quoted verbatim
    * inside a long one (the union is dominated by the long side); the
    * containment of the SHORT side is ~1 there — the quote/boilerplate-
    * inclusion dedup case. Same inverted-index pair shape as
    * [[jaccardPairs]] (df>=2 prefilter, one gram clustering, shuffled hash
    * self-join), with both per-side set sizes riding the pair keys; a
    * min-gram floor on the contained side keeps trivial tiny docs out.
    */
  def containmentPairs(d: DataFrame, threshold: Double, minGrams: Int): DataFrame = {
    val g = shingleHashes(d)
    val g2 = g
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("df") >= 2)
      .drop("df")
    val pairs = g2.as("a").hint("shuffle_hash").join(g2.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
    val contA = col("inter").cast("double") / col("na")
    val contB = col("inter").cast("double") / col("nb")
    pairs
      .filter((col("na") >= minGrams && contA >= threshold) ||
        (col("nb") >= minGrams && contB >= threshold))
      .select(col("id_a"), col("id_b"),
        round(contA, 4).as("cont_a"), round(contB, 4).as("cont_b"))
  }

  /** Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken / MOSS),
    * shared by `text_winnow` and `dedup_winnow_pairs`: hash every k=4-token
    * gram (40-bit md5 prefix), pack (hash, position) into one BIGINT key
    * (h·2^20 + (2^20 − i)) so a single MIN() over each w=4 window selects
    * the minimum hash WITH the rightmost tie-break identically in both
    * engines. Guarantee: any shared run of w+k−1 tokens shares a selected
    * fingerprint at ~2/(w+1) the density of the full hash stream. Shape:
    * one gram explode, ONE window pass on the doc_id clustering, DISTINCT
    * on the same clustering — no joins.
    */
  def winnowFps(d: DataFrame): DataFrame = {
    val g = d.select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 7)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(ws)-3), i -> concat_ws(' ', slice(ws, i, 4)))")))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        conv(substring(md5(col("col")), 1, 10), 16, 10).cast("long").as("h"))
    val key = col("h") * lit(1048576L) + (lit(1048576L) - col("i"))
    val win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
    g.select(col("doc_id"), col("i"), min(key).over(win).as("wk"))
      .filter(col("i") >= 4)
      .select(col("doc_id"),
        (lit(1048576L) - (col("wk") % 1048576L)).cast("int").as("pos"),
        expr("wk div 1048576L").cast("long").as("fp"))
      .distinct()
  }

  /** The same winnowing chain in DuckDB 1.0 SQL, ending in CTE `wfp`
    * (doc_id, pos, fp).
    */
  private def winnowSqlCte: String = {
    val h40 = (1 to 10).map { k =>
      s"(strpos('0123456789abcdef', substr(md5(gram), $k, 1)) - 1) * ${1L << (4 * (10 - k))}"
    }.mkString("(", " + ", ")")
    "w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents), " +
    "g AS (SELECT doc_id, UNNEST(GENERATE_SERIES(1, CAST(LEN(ws) AS INTEGER)-3)) AS i, " +
    "UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(ws) AS INTEGER)-3), " +
    "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS gram " +
    "FROM w WHERE LEN(ws) >= 7), " +
    s"k AS (SELECT doc_id, i, CAST($h40 AS BIGINT) * 1048576 + (1048576 - i) AS key FROM g), " +
    "m AS (SELECT doc_id, i, MIN(key) OVER (PARTITION BY doc_id ORDER BY i " +
    "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wk FROM k), " +
    "wfp AS (SELECT DISTINCT doc_id, CAST(1048576 - (wk % 1048576) AS INTEGER) AS pos, " +
    "CAST(wk // 1048576 AS BIGINT) AS fp FROM m WHERE i >= 4)"
  }

  /** Cross-engine deterministic 60-bit text hash: the first 15 hex digits of
    * md5 as an integer. Any SQL engine can reproduce it (DuckDB: per-digit
    * strpos arithmetic; Spark: codegen'd `conv`), which makes MinHash and
    * SimHash results oracle-checkable value-for-value — unlike seeded
    * xxhash64, which is Spark-private.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The same 60-bit hash in DuckDB SQL, for oracle generation. */
  def hex60Sql(s: String): String =
    (1 to 15).map { i =>
      s"(strpos('0123456789abcdef', substr(md5($s), $i, 1)) - 1) * ${1L << (4 * (15 - i))}"
    }.mkString("(", " + ", ")")

  /** MinHash parameters shared by the Spark implementation and the DuckDB
    * oracle: universal-hash permutations perm_j(h) = (A(j)*h + B(j)) mod P
    * over the md5-derived gram hash reduced mod P. P = 2^31-1 keeps every
    * intermediate product below 2^62 (no 64-bit overflow in either engine).
    */
  object MinHashParams {
    val P: Long = 2147483647L
    val numHashes = 16
    val bands = 8
    // Fixed LCG-generated coefficients: linearly *independent* permutations.
    // (A naive A(j)=c*(j+1) family correlates the minima — measured 4.4x more
    // false-positive candidate pairs at sf0.1: 5653 vs 1277 with these.)
    val A: IndexedSeq[Long] = IndexedSeq(
      1841962177L, 1405420216L, 689956914L, 338660119L, 1082726617L, 1304088089L,
      2016955880L, 989403634L, 1473008852L, 926531526L, 1231432999L, 442685692L,
      1596948335L, 1019864796L, 889982900L, 1059442058L)
    val B: IndexedSeq[Long] = IndexedSeq(
      1153133631L, 735456649L, 1223727458L, 1965559370L, 1032945195L, 827293170L,
      846822692L, 1941681807L, 196031681L, 1512537298L, 345654340L, 506068084L,
      27904399L, 120955663L, 821083705L, 1534231075L)
  }

  /** Distinct (doc_id, gram-hash mod P) rows for word trigrams, built on the
    * shuffle-free `triRows` shape (no window, no interpreted lambdas).
    * Distinct on the hash rather than the gram string is safe for MinHash:
    * a 60-bit collision maps two grams to the same permuted values, leaving
    * every min-aggregate unchanged.
    */
  private def gramHashesModP(d: DataFrame): DataFrame = {
    import MinHashParams.P
    // Plain distinct: the partial (map-side) dedup before the shuffle beats
    // a pre-repartition-by-doc_id variant here (measured 0.8s vs 1.3s at
    // sf0.1 — the signature aggregation's second shuffle is only 5k rows).
    triRows(d)
      .select(col("doc_id"),
        (md5Hash60(concat_ws(" ", col("w"), col("w1"), col("w2"))) % P).as("hm"))
      .distinct()
  }

  /** LSH candidate pairs: `numHashes` permutation minima computed as parallel
    * min-aggregates in ONE hash aggregation (no row explosion), packed into
    * `bands` band buckets (2 minima per band, bucket = m0*P + m1 — exact, no
    * re-hash), then within-bucket pair generation on the (band, bucket)
    * grouping (see [[groupedPairs]]).
    * This is the 100 TB path: cost is O(docs x bands) + a shuffle on bucket id,
    * never O(docs^2).
    */
  def minhashCandidates(d: DataFrame): DataFrame =
    candidatesFromHm(gramHashesModP(d), col("hm"))

  /** The banding core of `minhashCandidates`, over (doc_id, hmExpr) where
    * `hmExpr` evaluates to the gram hash mod P. Duplicate (doc_id, hm) rows
    * are harmless (min-aggregates are multiset-insensitive), which lets
    * callers feed hashes distinct'd at a coarser granularity.
    */
  private def candidatesFromHm(grams: DataFrame, hmExpr: Column): DataFrame =
    bandPairs(signatureOf(grams, hmExpr))

  /** The 16-column MinHash signature: all permutation minima in ONE hash
    * aggregation over (doc_id, hm) rows.
    */
  private def signatureOf(grams: DataFrame, hmExpr: Column): DataFrame = {
    import MinHashParams._
    val sigCols = (0 until numHashes).map(j =>
      min((lit(A(j)) * hmExpr + lit(B(j))) % P).as(s"m$j"))
    grams.groupBy("doc_id").agg(sigCols.head, sigCols.drop(1): _*)
  }

  /** Band-bucket candidate pairs from a signature frame (m0..m15).
    *
    * Pair generation is a groupBy(band, bucket) collect_list + two chained
    * generators (posexplode over the sorted member list, then explode of the
    * strictly-later slice), NOT the r15-r17 bucket self-join. Same rows by
    * construction: within one (band, bucket) group doc_ids are distinct (a
    * doc emits exactly one row per band), so the sorted list's strictly-later
    * pairs are exactly the join's `a.doc_id < b.doc_id` pairs, and the
    * trailing distinct dedups cross-band repeats identically. Measured r18
    * (OPTIMIZATION_r18.md, interleaved same-window through PlanCache.count — the
    * bench path): at ~sf1 this wins EVERY clean round, median 0.843 s vs
    * 1.045 s shipped (-19%); at sf0.1 a wash (0.420 vs 0.433 s). The
    * self-join scanned the bucket exchange twice and re-shuffled C(k,2)
    * output rows into the distinct; here the group's pairs are generated
    * once, already clustered. Two rejected variants, same rig: singleton
    * prefilter before the join (window count — pays an extra pass, wash at
    * sf1, +38% at sf0.1) and single-expression pair array via
    * flatten(transform) (builds C(k,2) structs in ONE allocation — GC
    * outliers of 11-12 s at sf1; the chained-generator form streams at O(k)
    * memory per group). Skew posture at 100 TB: per-group state is the O(k)
    * member array — strictly dominated by the C(k,2) pair OUTPUT any shape
    * must emit, so a bucket hot enough to hurt this aggregate was already
    * infeasible for the join (measured bucket occupancy: max 15-16 docs at
    * both sf0.1 and the materialized sf1, p99 = 2).
    */
  private def bandPairs(sig: DataFrame): DataFrame = {
    import MinHashParams._
    val rowsPer = numHashes / bands
    require(rowsPer == 2, "band bucket packing assumes 2 minima per band")
    val bandCols = (0 until bands).map(b =>
      (col(s"m${2 * b}") * P + col(s"m${2 * b + 1}")).as(s"band$b"))
    val buckets = sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), posexplode(
        array((0 until bands).map(b => col(s"band$b")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    groupedPairs(buckets, Seq("band", "bucket"), col("doc_id"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
  }

  /** Within-group strictly-ordered member pairs, (a, b) with a < b by the
    * member ordering: sorted collect_list + chained generators (posexplode,
    * then explode of the strictly-later slice). For members with distinct
    * ordering keys this emits exactly the rows of the group self-join
    * `x.member < y.member` — once, already clustered, without scanning the
    * group exchange twice or re-shuffling the pair rows. Group state is the
    * O(k) member list (spillable via the sort-based aggregate fallback),
    * strictly dominated by the C(k,2) pair output any shape must emit.
    *
    * Preconditions:
    *   - rows with a NULL in any group column are dropped first. The
    *     self-join never pairs them (NULL = NULL is not true), while a
    *     groupBy would gather them into one pairable group.
    *   - one group's members are buffered in a SINGLE row (the sorted
    *     array), so a group must fit in one row's memory; a hot key with
    *     millions of members needs a pre-split before it reaches here.
    */
  private[operators] def groupedPairs(rows: DataFrame, groupCols: Seq[String],
      member: Column): DataFrame =
    rows.filter(groupCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(member)).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), posexplode(col("ds")))
      .select(col("col").as("a"),
        explode(slice(col("ds"), col("pos") + lit(2), size(col("ds")))).as("b"))

  /** Exact Jaccard restricted to an explicit candidate pair set — the
    * inverted-index verification shape for LSH candidates. `grams` is
    * distinct (doc_id, g) rows; cost is O(|cand| x grams/doc) through two
    * equi-joins (candidate pairs expand to their grams, then probe the
    * index), never all-pairs. Candidate pairs with zero shared grams have
    * Jaccard 0 and drop out with the aggregate — correct for any
    * threshold > 0. `cleanCorpus` verifies inline on per-doc gram arrays
    * instead (cheaper while per-doc state fits a row); this shape is the
    * fallback when single documents are pathologically large.
    */
  def verifyJaccard(grams: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    val sz = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(grams.select(col("doc_id").as("id_a"), col("g")), "id_a")
      .join(grams.select(col("doc_id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    inter
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
  }

  /** DuckDB oracle for `minhashCandidates` — same trigrams, same md5-derived
    * hash, same permutations; band sharing expressed as an OR-join (equivalent
    * to the bucket equi-join up to DISTINCT, and fine at oracle scale).
    */
  /** Shared DuckDB CTE chain: trigrams -> hm -> 16-min signature -> band
    * ids -> `cand(id_a, id_b)` — the same hash family as the Spark side;
    * band sharing expressed as an OR-join (equivalent to the bucket
    * equi-join up to DISTINCT, and fine at oracle scale).
    */
  private def minhashCandCte: String = {
    import MinHashParams._
    val mins = (0 until numHashes)
      .map(j => s"MIN((${A(j)}*hm+${B(j)})%$P) AS m$j").mkString(", ")
    val bandCols = (0 until bands).map(b => s"m${2 * b}*$P+m${2 * b + 1} AS band$b").mkString(", ")
    val orJoin = (0 until bands).map(b => s"a.band$b=b.band$b").mkString(" OR ")
    "WITH w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), " +
      "i -> words[i]||' '||words[i+1]||' '||words[i+2])) AS gram FROM w), " +
      s"h AS (SELECT doc_id, ${hex60Sql("gram")} % $P AS hm FROM g), " +
      s"sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id), " +
      s"band AS (SELECT doc_id, $bandCols FROM sig), " +
      "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM band a JOIN band b " +
      s"ON a.doc_id < b.doc_id AND ($orJoin))"
  }

  private def minhashOracle: String =
    minhashCandCte + " SELECT id_a, id_b FROM cand ORDER BY id_a, id_b"

  /** 60-bit SimHash over whitespace tokens: per-bit majority vote of the
    * md5-derived token-hash bits. Distributed as two hash aggregations
    * (doc_id x bit, then doc_id) — no driver involvement, scales linearly.
    * Distinct is on the token *string* (pre-hash) so vote multiplicities
    * match the oracle exactly even under hash collisions.
    */
  def simhash(d: DataFrame): DataFrame = {
    // Same input-side spread as triRows: the 60-bit explode multiplies rows
    // 60x, so per-token work must not be pinned to the scan's split count.
    val tok = d.repartition(d.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"), md5Hash60(col("tok")).as("h"))
    tok
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(59))).as("bit"))
      .select(col("doc_id"), col("bit"),
        expr("CASE WHEN (shiftright(h, bit) & 1) = 1 THEN 1 ELSE -1 END").as("vote"))
      .groupBy("doc_id", "bit").agg(sum("vote").as("v"))
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN v > 0 THEN shiftleft(1L, bit) ELSE 0L END")).as("simhash"))
  }

  /** DuckDB oracle for `simhash`. */
  private def simhashOracle: String =
    "WITH t AS (SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS tok FROM documents), " +
      s"h AS (SELECT doc_id, ${hex60Sql("tok")} AS h FROM t), " +
      "v AS (SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v " +
      "FROM h, (SELECT UNNEST(GENERATE_SERIES(0,59)) AS bit) bits GROUP BY doc_id, bit) " +
      "SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash " +
      "FROM v GROUP BY doc_id ORDER BY doc_id"

  /** End-to-end corpus cleaning — the composition a training-data pipeline
    * actually runs: quality gate (token count + stopword ratio) → MinHash-LSH
    * candidate generation on the survivors → exact Jaccard verification of
    * the candidates only → drop the higher doc_id of each confirmed pair →
    * surviving corpus.
    *
    * Scale shape: the only super-linear step is the within-bucket pair
    * generation, O(docs x bands) rows in — the all-pairs exact Jaccard never
    * runs. ONE aggregation on the doc_id clustering `triRows` established
    * produces everything the pipeline needs per doc — the distinct gram-id
    * array (for the exact verify), its size, and all 16 permutation minima
    * (the MinHash signature) — so no gram-keyed exchange exists at all: the
    * arrays ride the band-bucket grouping and candidate verification is an inline
    * `array_intersect`, not a pair of inverted-index probe joins. (The r3
    * probe-join form re-read its shared shingle exchange four times and
    * chained 11 stages; this shape is 3 exchanges — docs, buckets, dup ids —
    * and the bucket shuffle carries bands x gram-array bytes, comparable to
    * the two probe shuffles it replaces.) Per-row state is O(grams/doc) —
    * bounded by document length, never by corpus size; for a corpus of
    * pathologically huge single documents the inverted-index verifier
    * (`verifyJaccard`) remains the fallback shape.
    * The DuckDB oracle replicates the same LSH-then-verify algorithm, so the
    * check is value-exact by construction, not by luck of recall (on these
    * fixtures recall is total anyway: every jaccard>=0.5 pair sits at >=0.9,
    * where the 8-band miss probability is ~2e-7).
    */
  /** Per-doc LSH state in one aggregation on the `triRows` clustering, then
    * band-bucket rows: (doc_id, band, bucket, gs, n) where `gs` is the
    * distinct gram-id array (for inline exact verification) and `n` its
    * size. Shared by `cleanCorpus` and `incrementalDedup` — both verify
    * candidates with `array_intersect` on the riding arrays, so no
    * gram-keyed exchange exists anywhere in either pipeline.
    */
  private def sigBuckets(d: DataFrame): DataFrame = {
    import MinHashParams._
    val rowsPer = numHashes / bands
    require(rowsPer == 2, "band bucket packing assumes 2 minima per band")
    val tri = triRows(d)
      .select(col("doc_id"), md5Hash60(concat_ws(" ", col("w"), col("w1"), col("w2"))).as("g"))
      .dropDuplicates("doc_id", "g")
    val sigCols = (0 until numHashes).map(j =>
      min((lit(A(j)) * (col("g") % P) + lit(B(j))) % P).as(s"m$j")) ++
      Seq(count(lit(1)).as("n"))
    val doc = tri.groupBy("doc_id")
      .agg(collect_list(col("g")).as("gs"), sigCols: _*)
    val bandCols = (0 until bands).map(b =>
      (col(s"m${2 * b}") * P + col(s"m${2 * b + 1}")).as(s"band$b"))
    doc.select(col("doc_id") +: col("gs") +: col("n") +: bandCols: _*)
      .select(col("doc_id") +: posexplode(
        array((0 until bands).map(b => col(s"band$b")): _*)) +: Seq(col("gs"), col("n")): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  def cleanCorpus(d: DataFrame, minTokens: Int, minStopRatio: Double,
      dupThreshold: Double,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")): DataFrame = {
    val quality = d.filter(size(tokens(col("text"))) >= minTokens &&
      stopwordRatio(col("text"), stopwords) >= minStopRatio)
    val buckets = sigBuckets(quality)
    // Pairs sharing several bands surface several times; every copy computes
    // the same intersection, so the >=threshold filter precedes a plain
    // distinct on the surviving ids — no pair-level dedup stage needed.
    // Candidate pairs come from a groupBy(band, bucket) + sorted member list
    // + chained generators, NOT the r15-r18 bucket self-join (r18, same
    // lever as the minhash bandPairs rewrite): the bucket exchange carries
    // bands x gram-array bytes, and the self-join read it twice
    // (ReusedExchange) then pushed both members' arrays through the join
    // output, where the grouped form reads it once and emits each group's
    // strictly-later pairs directly. Measured (OPTIMIZATION_r18.md, interleaved
    // same-window through PlanCache.count, whole pipeline): sf0.1 median
    // 0.522 s vs 0.630 join / 0.619 shipped (wins 9/9 rounds); materialized
    // sf1 0.879 s vs 1.104 / 1.057 (wins 7/7). Equivalence: within a bucket
    // doc_ids are distinct, so sorted strictly-later pairs are exactly the
    // join's a.doc_id < b.doc_id pairs. Group state is the members' gram
    // arrays — the same bytes a shuffle-hash join's build map held per
    // bucket key, but spillable via the sort-based aggregate fallback
    // (measured occupancy: max 16 docs/bucket at sf0.1 AND sf1, p99 = 2).
    val jac = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    val dups = groupedPairs(buckets, Seq("band", "bucket"),
        struct(col("doc_id"), col("n"), col("gs")))
      .select(col("b.doc_id").as("doc_id"), col("a.n").as("na"), col("b.n").as("nb"),
        size(array_intersect(col("a.gs"), col("b.gs"))).as("inter"))
      .filter(jac >= dupThreshold)
      .select("doc_id")
    // No distinct on the dup ids: left_anti probes a hash set, so duplicate
    // build-side keys are already idempotent — a distinct would only add a
    // partial+final aggregate round before the broadcast.
    quality.join(dups, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /** Incremental ingestion dedup — the production shape: dedup an INCOMING
    * batch against the EXISTING corpus without ever re-deduping the corpus
    * itself. Two gates, cheap first: (1) exact — anti-join on text against
    * the existing side; (2) near — MinHash-LSH band buckets on each side,
    * candidates only from CROSS-side bucket collisions, verified inline via
    * `array_intersect` Jaccard >= threshold. Existing always wins (the
    * direction is fixed), and incoming docs are NOT deduped against each
    * other — intra-batch dedup is the batch's own `cleanCorpus` run.
    *
    * Scale shape: at 100 TB the existing side's signatures are computed
    * once at ingest time and stored (a bucket table bucketed by (band,
    * bucket)); each day's batch computes only ITS signatures and equi-joins
    * the stored buckets — the per-batch cost is O(batch x bands), never
    * O(corpus). Here both sides derive from one table split by id parity
    * (the fixture convention for "already ingested" vs "arriving"), and
    * the side filters push below each signature aggregation so each half
    * is scanned and aggregated once.
    */
  def incrementalDedup(d: DataFrame, dupThreshold: Double): DataFrame =
    dedupGate(
      d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1),
      dupThreshold)

  /** The reusable two-sided gate behind [[incrementalDedup]] (and the
    * streaming ingestion face, [[graft.streaming.StreamingDedup]]): ids of
    * `incoming` docs that survive both the exact-text and the
    * MinHash-LSH near-dup gates against `existing`.
    */
  def dedupGate(existing: DataFrame, incoming: DataFrame,
      dupThreshold: Double): DataFrame = {
    val jac = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    val nearDups = sigBuckets(existing).as("a").hint("shuffle_hash")
      .join(sigBuckets(incoming).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("b.doc_id").as("doc_id"), col("a.n").as("na"), col("b.n").as("nb"),
        size(array_intersect(col("a.gs"), col("b.gs"))).as("inter"))
      .filter(jac >= dupThreshold)
      .select("doc_id")
    // Exact gate joins on the md5 digest, not the text: both sides shuffle
    // 32-byte keys instead of whole documents (same digest-key rationale as
    // dedup_exact — at corpus scale the anti-join's wire cost drops from
    // the full corpus to ~0.05% of it).
    incoming.select(col("doc_id"), md5(col("text")).as("__th"))
      .join(existing.select(md5(col("text")).as("__th")), Seq("__th"), "left_anti")
      .join(nearDups, Seq("doc_id"), "left_anti")
      .select("doc_id")
  }

  /** DuckDB oracle for `incrementalDedup` — same split, same gates, same
    * LSH-then-verify algorithm (band sharing as an OR-join at oracle scale).
    */
  private def incrementalDedupOracle: String = {
    import MinHashParams._
    val mins = (0 until numHashes)
      .map(j => s"MIN((${A(j)}*hm+${B(j)})%$P) AS m$j").mkString(", ")
    val bandCols = (0 until bands).map(b => s"m${2 * b}*$P+m${2 * b + 1} AS band$b").mkString(", ")
    val orJoin = (0 until bands).map(b => s"a.band$b=b.band$b").mkString(" OR ")
    "WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1), " +
      "exact AS (SELECT DISTINCT doc_id FROM inc WHERE text IN " +
      "(SELECT text FROM documents WHERE doc_id % 2 = 0)), " +
      "w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), " +
      "i -> words[i]||' '||words[i+1]||' '||words[i+2])) AS gram FROM w), " +
      s"h AS (SELECT doc_id, ${hex60Sql("gram")} % $P AS hm FROM g), " +
      s"sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id), " +
      s"band AS (SELECT doc_id, $bandCols FROM sig), " +
      "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM band a JOIN band b " +
      s"ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 AND ($orJoin)), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id), " +
      "inter AS (SELECT id_a, id_b, COUNT(*) AS inter FROM cand JOIN g ga ON ga.doc_id=id_a " +
      "JOIN g gb ON gb.doc_id=id_b AND gb.gram=ga.gram GROUP BY 1,2), " +
      "neardup AS (SELECT DISTINCT id_b FROM inter JOIN sz sa ON sa.doc_id=id_a JOIN sz sb ON sb.doc_id=id_b " +
      "WHERE CAST(inter AS DOUBLE)/(sa.n+sb.n-inter) >= 0.5) " +
      "SELECT doc_id FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM exact) " +
      "AND doc_id NOT IN (SELECT id_b FROM neardup) ORDER BY doc_id"
  }

  /** Near-duplicate cluster assignment: every document labeled with the
    * canonical representative of its cluster — the minimum doc_id reachable
    * through pairwise near-duplicate links. This is the TRANSITIVE step a
    * real dedup pipeline needs: greedy pairwise survivor selection (as in
    * `cleanCorpus`) treats A~B and B~C independently, while chains must
    * collapse to one representative. Pairs come from the exact Jaccard
    * verifier; components from GraphX's connectedComponents — Pregel
    * min-label propagation, O(component diameter) supersteps of
    * co-partitioned joins, the standard distributed CC at corpus scale
    * (the one operator here where the graph API beats a hand-rolled
    * DataFrame fixpoint loop: it caches and re-partitions the edge relation
    * across supersteps instead of re-shuffling per iteration).
    */
  def dedupClusters(d: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val spark = d.sparkSession
    val edges = jaccardPairs(d, threshold).select("id_a", "id_b").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    // Isolated docs are their own clusters, so seed every doc_id as a vertex.
    val vertices = d.select("doc_id").rdd.map(r => (r.getLong(0), ()))
    val cc = Graph(vertices, edges).connectedComponents().vertices
    spark.createDataFrame(cc).toDF("doc_id", "rep_id")
  }

  /** Shared DuckDB CTE chain ending in `cl(doc_id, rep_id)`: the
    * exact-Jaccard pair CTEs from `dedup_jaccard`, symmetrized into an edge
    * list, transitively closed with a recursive CTE, then min-reachable-id
    * per document. Both cluster oracles build on it.
    */
  private def clusterCte: String =
    "WITH RECURSIVE w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents), " +
    "g AS (SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w), " +
    "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id), " +
    "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter FROM g a JOIN g b ON a.gram=b.gram AND a.doc_id < b.doc_id GROUP BY 1,2), " +
    "jp AS (SELECT id_a, id_b FROM pairs JOIN sz sa ON sa.doc_id=id_a JOIN sz sb ON sb.doc_id=id_b " +
    "WHERE CAST(inter AS DOUBLE)/(sa.n+sb.n-inter) >= 0.5), " +
    "e AS (SELECT id_a AS a, id_b AS b FROM jp UNION SELECT id_b AS a, id_a AS b FROM jp), " +
    "r(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON e.a = r.b), " +
    "cl AS (SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS rep_id " +
    "FROM documents d LEFT JOIN r ON r.a = d.doc_id GROUP BY d.doc_id) "

  private def dedupClustersOracle: String =
    clusterCte + "SELECT doc_id, rep_id FROM cl ORDER BY doc_id"

  private def keepBestOracle: String =
    clusterCte +
    "SELECT cl.doc_id, cl.rep_id, CAST(CASE WHEN ROW_NUMBER() OVER " +
    "(PARTITION BY cl.rep_id ORDER BY d.n_chars DESC, cl.doc_id) = 1 THEN 1 ELSE 0 END AS INTEGER) AS keep " +
    "FROM cl JOIN documents d ON d.doc_id = cl.doc_id ORDER BY cl.doc_id"

  /** Cluster-representative selection — the step that turns a near-dup
    * clustering into an actual deduplicated corpus: within each cluster keep
    * the single "best" document (longest text, ties to the smallest id — a
    * stand-in for any quality score). One window pass over the cluster id;
    * the rank distributes on the rep_id clustering, so the whole selection
    * is a join plus one shuffle regardless of corpus size.
    */
  def dedupKeepBest(d: DataFrame, threshold: Double): DataFrame = {
    val w = Window.partitionBy("rep_id").orderBy(col("n_chars").desc, col("doc_id"))
    dedupClusters(d, threshold)
      .join(d.select("doc_id", "n_chars"), "doc_id")
      .withColumn("keep", when(row_number().over(w) === 1, 1).otherwise(0))
      .select("doc_id", "rep_id", "keep")
  }

  /** First 4 hex digits of md5(doc_id) as an integer, in DuckDB 1.0 SQL
    * (no from_hex there) — the split-bucket hash `pipeline_train_split`
    * shares bit-for-bit with Spark's `conv(substring(md5(..),1,4),16,10)`.
    */
  private def hex4Sql: String =
    (1 to 4).map { k =>
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $k, 1)) - 1) * ${1 << (4 * (4 - k))}"
    }.mkString("(", " + ", ")")

  /** DuckDB oracle for `cleanCorpus` — the same quality gate, the same
    * MinHash-LSH banding (shared CTEs with `minhashOracle`), the same
    * candidate-restricted exact verification.
    */
  private def cleanCorpusOracle: String = {
    import MinHashParams._
    val mins = (0 until numHashes)
      .map(j => s"MIN((${A(j)}*hm+${B(j)})%$P) AS m$j").mkString(", ")
    val bandCols = (0 until bands).map(b => s"m${2 * b}*$P+m${2 * b + 1} AS band$b").mkString(", ")
    val orJoin = (0 until bands).map(b => s"a.band$b=b.band$b").mkString(" OR ")
    "WITH q AS (SELECT doc_id, text FROM documents WHERE LEN(STRING_SPLIT(text,' ')) >= 20 " +
      "AND CAST(LEN(LIST_FILTER(STRING_SPLIT(text,' '), w -> w IN ('the','a','of','and','in'))) AS DOUBLE)/LEN(STRING_SPLIT(text,' ')) >= 0.02), " +
      "w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM q), " +
      "g AS (SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), " +
      "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w), " +
      s"h AS (SELECT doc_id, ${hex60Sql("gram")} % $P AS hm FROM g), " +
      s"sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id), " +
      s"band AS (SELECT doc_id, $bandCols FROM sig), " +
      s"cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM band a JOIN band b ON a.doc_id < b.doc_id AND ($orJoin)), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id), " +
      "inter AS (SELECT id_a, id_b, COUNT(*) AS inter FROM cand JOIN g ga ON ga.doc_id=id_a " +
      "JOIN g gb ON gb.doc_id=id_b AND gb.gram=ga.gram GROUP BY 1,2), " +
      "dups AS (SELECT DISTINCT id_b FROM inter JOIN sz sa ON sa.doc_id=id_a JOIN sz sb ON sb.doc_id=id_b " +
      "WHERE CAST(inter AS DOUBLE)/(sa.n+sb.n-inter) >= 0.5) " +
      "SELECT doc_id FROM q WHERE doc_id NOT IN (SELECT id_b FROM dups) ORDER BY doc_id"
  }

  /** Per-source dedup funnel — the library path behind `corpus_dedup_funnel`:
    * doc counts surviving exact dedup (corpus-wide min-doc_id keeper), the
    * C4-style quality gate, then MinHash-LSH near-dup removal. The stage
    * flags ride one pass (a window over the text clustering, then per-row
    * predicates); only the quality survivors enter the signature pipeline
    * (same sigBuckets + inline-verify shape as cleanCorpus); the dup set is
    * distinct-ed so the left join cannot duplicate rows. At 100 TB each
    * stage's output would be materialized once and the funnel read from the
    * stage tables — the aggregation shape is the same. `stopwords` is a
    * parameter (default = the oracle-pinned gate) so scale fixtures with
    * rewritten vocabularies can keep the gate's pass rate realistic.
    */
  def dedupFunnel(d: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")): DataFrame = {
    val flagged = d
      .select(col("doc_id"), col("source"), col("text"),
        when(row_number().over(Window.partitionBy("text").orderBy("doc_id")) === 1, 1)
          .otherwise(0).as("ke"))
      .withColumn("kq", when(col("ke") === 1 && size(tokens(col("text"))) >= 20 &&
        stopwordRatio(col("text"), stopwords) >= 0.02, 1)
        .otherwise(0))
    val buckets = sigBuckets(flagged.filter(col("kq") === 1).select("doc_id", "text"))
    val jac = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    val dups = buckets.as("a").hint("shuffle_hash").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("doc_id"), col("a.n").as("na"), col("b.n").as("nb"),
        size(array_intersect(col("a.gs"), col("b.gs"))).as("inter"))
      .filter(jac >= 0.5)
      .select(col("doc_id"), lit(1).as("is_dup")).distinct()
    flagged.join(dups, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"), sum("ke").as("n_exact"), sum("kq").as("n_quality"),
        sum(when(col("kq") === 1 && col("is_dup").isNull, 1).otherwise(0)).as("n_near"))
      .orderBy("source")
  }

  /** DuckDB oracle for `corpus_dedup_funnel` — the cleanCorpusOracle CTE
    * chain with an exact-dedup stage in front and a per-source stage-count
    * rollup at the end.
    */
  private def funnelOracle: String = {
    import MinHashParams._
    val mins = (0 until numHashes)
      .map(j => s"MIN((${A(j)}*hm+${B(j)})%$P) AS m$j").mkString(", ")
    val bandCols = (0 until bands).map(b => s"m${2 * b}*$P+m${2 * b + 1} AS band$b").mkString(", ")
    val orJoin = (0 until bands).map(b => s"a.band$b=b.band$b").mkString(" OR ")
    "WITH k AS (SELECT doc_id, source, text, " +
      "CASE WHEN ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS ke FROM documents), " +
      "q AS (SELECT doc_id, source, text, ke, " +
      "CASE WHEN ke = 1 AND LEN(STRING_SPLIT(text,' ')) >= 20 " +
      "AND CAST(LEN(LIST_FILTER(STRING_SPLIT(text,' '), w -> w IN ('the','a','of','and','in'))) AS DOUBLE)/LEN(STRING_SPLIT(text,' ')) >= 0.02 " +
      "THEN 1 ELSE 0 END AS kq FROM k), " +
      "w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM q WHERE kq = 1), " +
      "g AS (SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), " +
      "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w), " +
      s"h AS (SELECT doc_id, ${hex60Sql("gram")} % $P AS hm FROM g), " +
      s"sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id), " +
      s"band AS (SELECT doc_id, $bandCols FROM sig), " +
      s"cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM band a JOIN band b ON a.doc_id < b.doc_id AND ($orJoin)), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id), " +
      "inter AS (SELECT id_a, id_b, COUNT(*) AS inter FROM cand JOIN g ga ON ga.doc_id=id_a " +
      "JOIN g gb ON gb.doc_id=id_b AND gb.gram=ga.gram GROUP BY 1,2), " +
      "dups AS (SELECT DISTINCT id_b FROM inter JOIN sz sa ON sa.doc_id=id_a JOIN sz sb ON sb.doc_id=id_b " +
      "WHERE CAST(inter AS DOUBLE)/(sa.n+sb.n-inter) >= 0.5) " +
      "SELECT source, COUNT(*) AS n_total, CAST(SUM(ke) AS BIGINT) AS n_exact, " +
      "CAST(SUM(kq) AS BIGINT) AS n_quality, " +
      "CAST(SUM(CASE WHEN kq = 1 AND doc_id NOT IN (SELECT id_b FROM dups) THEN 1 ELSE 0 END) AS BIGINT) AS n_near " +
      "FROM q GROUP BY source ORDER BY source"
  }

  val ops: Seq[Op] = Seq(
    Op("pipeline_clean_corpus", cleanCorpusOracle) { (s, d) =>
      cleanCorpus(docs(s, d), 20, 0.02, 0.5).orderBy("doc_id")
    },

    // Per-source staged survival counts — the where-did-the-volume-go table
    // a pipeline owner reads first; see [[dedupFunnel]] for the shape.
    Op("corpus_dedup_funnel", funnelOracle) { (s, d) =>
      dedupFunnel(docs(s, d))
    },

    // Grouping key is the md5 DIGEST of the text, not the text: the
    // partial aggregate combines map-side either way, but the shuffle rows
    // that do cross the wire carry a 32-byte key instead of the whole
    // document — at 100 TB that's the difference between shuffling ~0.05%
    // of the corpus and shuffling all of it. md5 exists verbatim in DuckDB,
    // so the oracle stays same-algorithm (collision risk 2^-64-ish at any
    // realistic corpus: accepted, as every production exact-dedup does).
    Op("dedup_exact",
      "SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS copies FROM documents GROUP BY md5(text) ORDER BY keep_id") { (s, d) =>
      docs(s, d).groupBy(md5(col("text")))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
        .select(col("keep_id"), col("copies"))
        .orderBy("keep_id")
    },

    // Normalized exact dedup: case-fold, strip punctuation, collapse
    // whitespace, THEN group — catches trivially-reformatted copies that
    // byte-exact dedup misses. Same digest-key shape as `dedup_exact`
    // (normalize per-row in codegen, shuffle only the 32-byte md5 of the
    // normalized form), so it distributes identically.
    Op("dedup_exact_norm",
      "SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS copies FROM (" +
      "SELECT doc_id, MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_h " +
      "FROM documents) GROUP BY norm_h ORDER BY keep_id") { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("norm_h"))
        .groupBy("norm_h")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
        .select(col("keep_id"), col("copies"))
        .orderBy("keep_id")
    },

    // Stratified sampling: N docs per source, selection order = md5 of the
    // doc id — deterministic pseudo-randomness any engine reproduces, unlike
    // rand(). The per-stratum window distributes as one shuffle on source;
    // at 100 TB this is the balanced-mixture sampler a training run uses.
    Op("sample_stratified",
      "SELECT source, doc_id FROM (SELECT source, doc_id, " +
      "ROW_NUMBER() OVER (PARTITION BY source ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk " +
      "FROM documents) t WHERE rk <= 5 ORDER BY source, doc_id") { (s, d) =>
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      docs(s, d)
        .select(col("source"), col("doc_id"), row_number().over(w).as("rk"))
        .filter(col("rk") <= 5).select("source", "doc_id")
        .orderBy("source", "doc_id")
    },

    // The PUBLIC default is the lazy static union (r11 ADVICE: no eager jobs
    // from a default overload); this op EXPLICITLY opts into the gated shape
    // — the r12 same-window interleaved A/B (5 rounds; ARCHITECTURE.md at
    // 7f0c93f) read gated 0.754 s vs static 0.826 s median, confirming r11's
    // in-window direction; the cross-round official regression was window
    // noise (the banked protocol's known host asymmetry). Op.eager: the
    // gated probe runs jobs at build time, so the instance must not be
    // plan-cached.
    Op.eager("dedup_jaccard",
      "WITH w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter FROM g a JOIN g b ON a.gram=b.gram AND a.doc_id < b.doc_id GROUP BY 1,2) " +
      "SELECT id_a, id_b, ROUND(CAST(inter AS DOUBLE)/(sa.n+sb.n-inter),4) AS jaccard FROM pairs " +
      "JOIN sz sa ON sa.doc_id=id_a JOIN sz sb ON sb.doc_id=id_b " +
      "WHERE CAST(inter AS DOUBLE)/(sa.n+sb.n-inter) >= 0.12 ORDER BY id_a, id_b") { (s, d) =>
      jaccardPairsGated(docs(s, d), 0.12, hotDfCap = 1 << 12, salts = 16)
        .orderBy("id_a", "id_b")
    },

    // Bloom-filter ingest gate: the cheap membership pre-filter in front of
    // exact dedup at ingest time — a corpus-side Bloom filter answers "seen
    // this text before?" in O(1) per incoming doc with NO false negatives,
    // so only bloom-positive docs pay the exact anti-join. Build is
    // Spark's distributed treeAggregate of partial filters; the filter
    // broadcasts once per batch (at 100 TB: ~1.2 GB/1B items at 1% fpp,
    // sharded per source in practice). Sketch BITS are engine-specific, so
    // the oracle checks the PROPERTIES instead (the agg_approx_distinct
    // pattern): exact incoming/true-dup counts, missed-dups must be 0
    // (Bloom's contract), false-positive rate within 5x the configured 1%
    // fpp. A regression flips the Spark side and the hash check goes red.
    Op.eager("pipeline_bloom_gate",
      "WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1), " +
      "ex AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0) " +
      "SELECT COUNT(*) AS n_incoming, " +
      "CAST(SUM(CASE WHEN text IN (SELECT text FROM ex) THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups, " +
      "CAST(0 AS BIGINT) AS n_missed, 1 AS fp_within_bound FROM inc") { (s, d) =>
      val existing = docs(s, d).filter(col("doc_id") % 2 === 0)
      val incoming = docs(s, d).filter(col("doc_id") % 2 === 1)
      val bf = existing.stat.bloomFilter("text", math.max(existing.count(), 1L), 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val hit = udf((t: String) => t != null && bfB.value.mightContain(t))
      val truth = incoming.select(col("doc_id"), md5(col("text")).as("__th"))
        .join(existing.select(md5(col("text")).as("__th")).distinct(),
          Seq("__th"), "left_semi")
        .select(col("doc_id")).withColumn("is_dup", lit(1))
      val probed = incoming.select(col("doc_id"), hit(col("text")).as("bloom_hit"))
        .join(truth, Seq("doc_id"), "left")
        .na.fill(0, Seq("is_dup"))
      val fpRate = sum(when(col("bloom_hit") && col("is_dup") === 0, 1).otherwise(0))
        .cast("double") / sum(when(col("is_dup") === 0, 1).otherwise(0))
      probed.agg(
        count(lit(1)).as("n_incoming"),
        sum(col("is_dup")).cast("long").as("n_true_dups"),
        sum(when(col("is_dup") === 1 && !col("bloom_hit"), 1L).otherwise(0L)).as("n_missed"),
        when(fpRate <= 0.05, 1).otherwise(0).as("fp_within_bound"))
    },

    // Directed containment pairs: which docs are near-SUPERSETS of others —
    // the quote/boilerplate-inclusion case symmetric Jaccard under-scores.
    Op("dedup_containment",
      "WITH w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter FROM g a JOIN g b ON a.gram=b.gram AND a.doc_id < b.doc_id GROUP BY 1,2) " +
      "SELECT id_a, id_b, ROUND(CAST(inter AS DOUBLE)/sa.n,4) AS cont_a, ROUND(CAST(inter AS DOUBLE)/sb.n,4) AS cont_b " +
      "FROM pairs JOIN sz sa ON sa.doc_id=id_a JOIN sz sb ON sb.doc_id=id_b " +
      "WHERE (sa.n >= 5 AND CAST(inter AS DOUBLE)/sa.n >= 0.5) OR (sb.n >= 5 AND CAST(inter AS DOUBLE)/sb.n >= 0.5) " +
      "ORDER BY id_a, id_b") { (s, d) =>
      containmentPairs(docs(s, d), 0.5, 5).orderBy("id_a", "id_b")
    },

    Op("dedup_minhash_lsh", minhashOracle) { (s, d) =>
      minhashCandidates(docs(s, d)).orderBy("id_a", "id_b")
    },

    // Sketch-accuracy report: for every LSH candidate pair, the MinHash
    // estimate (matching minima / 16) next to the exact trigram Jaccard and
    // the absolute error — the measurement that tells a corpus owner whether
    // the configured signature width is trustworthy before they raise the
    // dedup threshold (E[est] = J, sd = sqrt(J(1-J)/16) ~ 0.12: a 16-hash
    // sketch ranks pairs but cannot certify a 0.8-vs-0.9 cut). Cost is the
    // candidate set, never all pairs: signatures come from the ONE shared
    // aggregation, the match count is a 16-column comparison on the pair
    // rows, and the exact intersection probes the (doc_id, hm) index through
    // equi-joins (the verifyJaccard shape, kept LEFT so zero-overlap false
    // positives — the pairs that MEASURE the false-positive rate — stay in
    // the report with jaccard 0).
    Op("dedup_minhash_error",
      minhashCandCte + ", " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM h GROUP BY 1), " +
      "inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter FROM cand c " +
      "JOIN h x ON x.doc_id = c.id_a JOIN h y ON y.doc_id = c.id_b AND y.hm = x.hm GROUP BY 1, 2), " +
      "m AS (SELECT c.id_a, c.id_b, (" +
      (0 until MinHashParams.numHashes)
        .map(j => s"CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END").mkString(" + ") +
      ") AS n_match FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b) " +
      "SELECT m.id_a, m.id_b, CAST(m.n_match AS BIGINT) AS n_match, " +
      "m.n_match/16.0 AS est_jaccard, " +
      "ROUND(COALESCE(i.inter,0)/(sza.n+szb.n-COALESCE(i.inter,0)), 4) AS jaccard, " +
      "ROUND(ABS(m.n_match/16.0 - COALESCE(i.inter,0)/(sza.n+szb.n-COALESCE(i.inter,0))), 4) AS abs_err " +
      "FROM m LEFT JOIN inter i ON i.id_a = m.id_a AND i.id_b = m.id_b " +
      "JOIN sz sza ON sza.doc_id = m.id_a JOIN sz szb ON szb.doc_id = m.id_b " +
      "ORDER BY m.id_a, m.id_b") { (s, d) =>
      import MinHashParams._
      val g = gramHashesModP(docs(s, d))
      val sig = signatureOf(g, col("hm"))
      val cand = bandPairs(sig)
      val matchCount = (0 until numHashes)
        .map(j => when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0))
        .reduce(_ + _)
      val m = cand.join(sig.as("a"), col("id_a") === col("a.doc_id"))
        .join(sig.as("b"), col("id_b") === col("b.doc_id"))
        .select(col("id_a"), col("id_b"), matchCount.cast("long").as("n_match"))
      val sz = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(g.select(col("doc_id").as("id_a"), col("hm")), "id_a")
        .join(g.select(col("doc_id").as("id_b"), col("hm")), Seq("id_b", "hm"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      val jac = col("inter") / (col("na") + col("nb") - col("inter"))
      m.join(inter, Seq("id_a", "id_b"), "left")
        .na.fill(0L, Seq("inter"))
        .join(sz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
        .join(sz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
        .select(col("id_a"), col("id_b"), col("n_match"),
          (col("n_match") / 16.0).as("est_jaccard"),
          round(jac, 4).as("jaccard"),
          round(abs(col("n_match") / 16.0 - jac), 4).as("abs_err"))
        .orderBy("id_a", "id_b")
    },

    Op.eager("dedup_clusters", dedupClustersOracle) { (s, d) =>
      dedupClusters(docs(s, d), 0.5).orderBy("doc_id")
    },

    // Duplicate-cluster size histogram: how much of the corpus sits in
    // dup clusters of each size — THE summary a dedup review reads first
    // (a fat tail of big clusters means template spam; all-singletons
    // means the threshold is too strict). Two aggregations over the
    // clustering's (doc_id, rep_id) output — cluster sizes on the rep_id
    // clustering, then the tiny size histogram; doc mass per size bucket
    // rides along so "99% singletons, 1% in 50+-doc clusters" reads off
    // one table.
    Op.eager("dedup_cluster_sizes",
      clusterCte +
      ", cs AS (SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM cl GROUP BY 1) " +
      "SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters, " +
      "CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs " +
      "FROM cs GROUP BY cluster_size ORDER BY cluster_size") { (s, d) =>
      dedupClusters(docs(s, d), 0.5)
        .groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).cast("long").as("n_docs"))
        .orderBy("cluster_size")
    },

    Op("pipeline_incremental_dedup", incrementalDedupOracle) { (s, d) =>
      incrementalDedup(docs(s, d), 0.5).orderBy("doc_id")
    },

    Op.eager("dedup_keep_best", keepBestOracle) { (s, d) =>
      dedupKeepBest(docs(s, d), 0.5).orderBy("doc_id")
    },

    Op("dedup_simhash", simhashOracle) { (s, d) =>
      simhash(docs(s, d)).orderBy("doc_id")
    },

    // Edit-distance near-dup: block on an exact 20-char prefix (equi-join,
    // never all-pairs — the 100 TB shape is the same bucketed join as the
    // MinHash band path), then verify candidates with TRUE
    // Damerau-Levenshtein over an 80-char head. The threshold sits on the
    // INTEGER distance, which is bit-exact cross-engine; jaro-winkler
    // rides along rounded as a similarity score. Both distances are the
    // native codegen expressions (plans/StringDistances.scala) resolved
    // through the DuckDB-named registry aliases, so the oracle is the
    // same computation in DuckDB's own builtins.
    Op("dedup_editdist",
      "WITH b AS (SELECT doc_id, substring(text, 1, 20) AS blk, " +
      "substring(text, 1, 80) AS head FROM documents) " +
      "SELECT a.doc_id AS id_a, b2.doc_id AS id_b, " +
      "CAST(damerau_levenshtein(a.head, b2.head) AS INTEGER) AS dl, " +
      "ROUND(jaro_winkler_similarity(a.head, b2.head), 4) AS jw " +
      "FROM b a JOIN b b2 ON a.blk = b2.blk AND a.doc_id < b2.doc_id " +
      "WHERE damerau_levenshtein(a.head, b2.head) <= 20 " +
      "ORDER BY id_a, id_b") { (s, d) =>
      val base = docs(s, d).select(col("doc_id"),
        substring(col("text"), 1, 20).as("blk"),
        substring(col("text"), 1, 80).as("head"))
      val left = base.select(col("doc_id").as("id_a"), col("blk"), col("head").as("head_a"))
      val right = base.select(col("doc_id").as("id_b"), col("blk"), col("head").as("head_b"))
      left.join(right, "blk")
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("damerau_levenshtein(head_a, head_b)").as("dl"),
          round(expr("jaro_winkler_similarity(head_a, head_b)"), 4).as("jw"))
        .where(col("dl") <= 20)
        .orderBy("id_a", "id_b")
    },

    Op("text_stats",
      "SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS n_char, CAST(LEN(STRING_SPLIT(text,' ')) AS INTEGER) AS n_tok, " +
      "ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text,' '), w -> w IN ('the','a','of','and','in'))) AS DOUBLE)/LEN(STRING_SPLIT(text,' ')),4) AS stop_ratio, " +
      "ROUND(CAST(LENGTH(REGEXP_REPLACE(text,'[a-z ]','','g')) AS DOUBLE)/LENGTH(text),4) AS nonalpha_ratio " +
      "FROM documents ORDER BY doc_id") { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        length(col("text")).as("n_char"),
        size(tokens(col("text"))).as("n_tok"),
        round(stopwordRatio(col("text"), Seq("the", "a", "of", "and", "in")), 4).as("stop_ratio"),
        round(nonAlphaRatio(col("text")), 4).as("nonalpha_ratio")
      ).orderBy("doc_id")
    },

    // Language-ID confusion matrix: the n-gram heuristic's predictions
    // (text_langid's exact scoring) against the labeled `lang` column, as
    // (label, prediction, count, row-share in integer milli) — the
    // evaluation table that decides whether a langid gate's precision is
    // good enough to filter on, and per-language where it bleeds. One
    // classification projection + one (lang, pred) aggregate; the per-label
    // totals join back from a grouped re-aggregate of the (tiny) matrix.
    Op("corpus_lang_confusion",
      "WITH t AS (SELECT doc_id, lang, STRING_SPLIT(LOWER(text),' ') AS w FROM documents), " +
      "s AS (SELECT lang, CAST(LEN(LIST_FILTER(w, x -> x IN ('the','a','and','of'))) AS INTEGER) AS en, " +
      "CAST(LEN(LIST_FILTER(w, x -> x IN ('el','la','de','y'))) AS INTEGER) AS es, " +
      "CAST(LEN(LIST_FILTER(w, x -> x IN ('der','und','die','das'))) AS INTEGER) AS de FROM t), " +
      "p AS (SELECT lang, CASE WHEN en >= es AND en >= de THEN 'en' WHEN es >= de THEN 'es' ELSE 'de' END AS pred FROM s), " +
      "c AS (SELECT lang, pred, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1, 2), " +
      "r AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS row_total FROM c GROUP BY 1) " +
      "SELECT c.lang, c.pred, c.n, CAST((c.n * 1000) // r.row_total AS BIGINT) AS share_milli " +
      "FROM c JOIN r USING (lang) ORDER BY lang, pred") { (s, d) =>
      val w = tokens(lower(col("text")))
      val scored = docs(s, d).select(
        col("lang"),
        wordHits(w, langMarkers(0)._2).as("en"),
        wordHits(w, langMarkers(1)._2).as("es"),
        wordHits(w, langMarkers(2)._2).as("de"))
      val c = scored.select(col("lang"),
          when(col("en") >= col("es") && col("en") >= col("de"), "en")
            .when(col("es") >= col("de"), "es").otherwise("de").as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      val r = c.groupBy("lang").agg(sum("n").as("row_total"))
      c.join(broadcast(r), "lang")
        .select(col("lang"), col("pred"), col("n"),
          expr("CAST((n * 1000) div row_total AS BIGINT)").as("share_milli"))
        .orderBy("lang", "pred")
    },

    Op("text_langid",
      "WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text),' ') AS w FROM documents), " +
      "s AS (SELECT doc_id, CAST(LEN(LIST_FILTER(w, x -> x IN ('the','a','and','of'))) AS INTEGER) AS en, " +
      "CAST(LEN(LIST_FILTER(w, x -> x IN ('el','la','de','y'))) AS INTEGER) AS es, " +
      "CAST(LEN(LIST_FILTER(w, x -> x IN ('der','und','die','das'))) AS INTEGER) AS de FROM t) " +
      "SELECT doc_id, CASE WHEN en >= es AND en >= de THEN 'en' WHEN es >= de THEN 'es' ELSE 'de' END AS pred, en, es, de FROM s ORDER BY doc_id") { (s, d) =>
      val w = tokens(lower(col("text")))
      val scored = docs(s, d).select(
        col("doc_id"),
        wordHits(w, langMarkers(0)._2).as("en"),
        wordHits(w, langMarkers(1)._2).as("es"),
        wordHits(w, langMarkers(2)._2).as("de"))
      scored.select(
        col("doc_id"),
        when(col("en") >= col("es") && col("en") >= col("de"), "en")
          .when(col("es") >= col("de"), "es").otherwise("de").as("pred"),
        col("en"), col("es"), col("de")
      ).orderBy("doc_id")
    },

    Op("text_tokens",
      "SELECT doc_id, CAST(LEN(STRING_SPLIT(text,' ')) AS INTEGER) AS ws_tokens, " +
      "CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpeish FROM documents ORDER BY doc_id") { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(tokens(col("text"))).as("ws_tokens"),
        bpeishCount(col("text")).as("bpeish")
      ).orderBy("doc_id")
    },

    Op("text_fingerprint",
      "SELECT doc_id, CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LENGTH(text) AS INTEGER)), i -> i * ASCII(text[i]))) % 1000000007 AS BIGINT) AS fp " +
      "FROM documents ORDER BY doc_id") { (s, d) =>
      docs(s, d).select(col("doc_id"), fingerprint(col("text")).as("fp")).orderBy("doc_id")
    },

    // Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken, the MOSS
    // algorithm): hash every k-gram (k=4 tokens), then in each window of
    // w=4 consecutive hashes keep the minimum — rightmost on ties. The
    // guarantee: any shared run of w+k-1 tokens between two documents
    // shares at least one selected fingerprint, at ~2/(w+1) the density of
    // the full hash stream — the local-guarantee sketch that plagiarism /
    // overlap detectors build their inverted index from (dedup_substring
    // keeps EVERY window hash; this is its bounded-density counterpart).
    // Shape at scale: one gram explode (linear in tokens), ONE window pass
    // on the doc_id clustering, and the DISTINCT rides the same clustering
    // — no joins, no per-pair work. Cross-engine determinism: the 40-bit
    // md5-prefix hash and the position pack into one BIGINT key
    // (h*2^20 + (2^20 - i)), so a single MIN() implements min-hash WITH
    // the rightmost tie-break identically in both engines.
    Op("text_winnow",
      s"WITH $winnowSqlCte SELECT doc_id, pos, fp FROM wfp ORDER BY doc_id, pos") { (s, d) =>
      winnowFps(docs(s, d)).orderBy("doc_id", "pos")
    },

    // Winnowing put to work: document-overlap candidate pairs from the
    // selected fingerprints — the MOSS pipeline's second half. An inverted
    // index on the (sparse) fingerprint set, df-bounded exactly like
    // dedup_jaccard's gram index (df < 2 can't pair; df > 50 is
    // boilerplate that would explode pairs quadratically — dropped, the
    // standard MOSS noise filter), then a fingerprint equi-join counts
    // shared fingerprints per pair (>= 2 to suppress chance collisions).
    // Because winnowing already thinned the stream to ~2/(w+1) density,
    // this index is ~3x smaller than the all-grams index for the same
    // guarantee window.
    Op("dedup_winnow_pairs",
      s"WITH $winnowSqlCte, " +
      "u AS (SELECT DISTINCT doc_id, fp FROM wfp), " +
      "dfc AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS df FROM u GROUP BY 1), " +
      "inv AS (SELECT u.doc_id, u.fp FROM u JOIN dfc USING (fp) WHERE dfc.df BETWEEN 2 AND 50) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared " +
      "FROM inv a JOIN inv b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY id_a, id_b") { (s, d) =>
      val u = winnowFps(docs(s, d)).select("doc_id", "fp").distinct()
      val dfc = u.groupBy("fp").agg(count(lit(1)).as("df"))
      val inv = u.join(dfc.filter(col("df").between(2, 50)), "fp")
        .select("doc_id", "fp")
      val a = inv.select(col("fp"), col("doc_id").as("id_a"))
      val b = inv.select(col("fp").as("fp_b"), col("doc_id").as("id_b"))
      // shuffle-hash on the fp clustering: both sides are the same derived
      // index subtree (the semanticDedup self-join rule — broadcasting a
      // derived build would hash-build it on the driver).
      a.hint("shuffle_hash")
        .join(b, col("fp") === col("fp_b") && col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .orderBy("id_a", "id_b")
    },

    // Corpus mixture table: per (source, lang) document/token/char totals —
    // the weighting a training-data mixture is balanced from. Pure two-key
    // aggregation with map-side partial combine; all outputs are integer
    // sums or single divisions of them, so the oracle compares value-exact.
    Op("corpus_mixture",
      "SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(LEN(STRING_SPLIT(text,' '))) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars, " +
      "ROUND(CAST(SUM(LEN(STRING_SPLIT(text,' '))) AS DOUBLE) / COUNT(*), 2) AS avg_tokens " +
      "FROM documents GROUP BY source, lang ORDER BY source, lang") { (s, d) =>
      docs(s, d).groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
          round(col("n_tokens").cast("double") / col("n_docs"), 2).as("avg_tokens"))
        .orderBy("source", "lang")
    },

    // Boilerplate mining: word trigrams shared across many documents
    // (headers, footers, scraper templates) — the inter-document complement
    // of `text_repetition`. Reuses the shared `triRows` explode subtree, so
    // the gram generation is one scan; the df/tf aggregate partial-combines
    // map-side and shuffles only distinct grams. df ties at the LIMIT
    // boundary break on (tf, gram), so the top-20 is fully deterministic.
    Op("text_boilerplate",
      "WITH w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents), " +
      "g AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w) " +
      "SELECT gram, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf FROM g GROUP BY gram " +
      "HAVING COUNT(DISTINCT doc_id) >= 3 ORDER BY df DESC, tf DESC, gram LIMIT 20") { (s, d) =>
      triRows(docs(s, d))
        .select(concat_ws(" ", col("w"), col("w1"), col("w2")).as("gram"), col("doc_id"))
        .groupBy("gram")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))
        .filter(col("df") >= 3)
        .orderBy(col("df").desc, col("tf").desc, col("gram")).limit(20)
    },

    // N-gram novelty curve: per document (in ingestion order), the share of
    // its distinct trigrams appearing for the FIRST time in the corpus —
    // the freshness signal that distinguishes new material from recombined
    // boilerplate as a crawl grows (novelty trending to zero = the crawl
    // is saturating). First-occurrence attribution is a MIN aggregate on
    // the gram clustering, joined back on the same key — two exchanges,
    // both on gram, no window over the whole corpus. Integer per-mille.
    Op("corpus_ngram_novelty",
      "WITH w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), " +
      "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w), " +
      "f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1) " +
      "SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, " +
      "CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
      "CAST((SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1000) // COUNT(*) AS BIGINT) AS novelty_permille " +
      "FROM g JOIN f USING (gram) GROUP BY g.doc_id ORDER BY g.doc_id") { (s, d) =>
      val g = triRows(docs(s, d))
        .select(col("doc_id"), concat_ws(" ", col("w"), col("w1"), col("w2")).as("gram"))
        .distinct()
      val f = g.groupBy("gram").agg(min("doc_id").as("first_doc"))
      g.join(f, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0)).cast("long").as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("CAST((n_novel * 1000) div n_grams AS BIGINT)").as("novelty_permille"))
        .orderBy("doc_id")
    },

    // Mixture rebalance plan: the per-source down-sampling rates that move
    // the corpus to a UNIFORM blend (the driver table for re-weighting a
    // skewed crawl before training): target = total/n_sources docs per
    // source; over-represented sources get rate = target/cnt (per-mille),
    // under-represented ones keep everything (rate capped at 1000 — the
    // plan reports the shortfall instead of inventing upsampling).
    // Integer arithmetic on the mixture table only.
    Op("pipeline_mixture_rebalance",
      "WITH m AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt FROM documents GROUP BY 1), " +
      "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_sources FROM m) " +
      "SELECT m.source, m.cnt, CAST(t.total // t.n_sources AS BIGINT) AS target, " +
      "CAST(LEAST(1000, (t.total // t.n_sources) * 1000 // m.cnt) AS BIGINT) AS rate_permille, " +
      "CAST(m.cnt * LEAST(1000, (t.total // t.n_sources) * 1000 // m.cnt) // 1000 AS BIGINT) AS expected " +
      "FROM m, t ORDER BY m.source") { (s, d) =>
      val m = docs(s, d).groupBy("source").agg(count(lit(1)).as("cnt"))
      val t = m.agg(sum("cnt").cast("long").as("total"), count(lit(1)).as("n_sources"))
      m.crossJoin(broadcast(t))
        .select(col("source"), col("cnt"),
          expr("CAST(total div n_sources AS BIGINT)").as("target"),
          expr("CAST(LEAST(1000, (total div n_sources) * 1000 div cnt) AS BIGINT)").as("rate_permille"),
          expr("CAST(cnt * LEAST(1000, (total div n_sources) * 1000 div cnt) div 1000 AS BIGINT)").as("expected"))
        .orderBy("source")
    },

    // Per-source Jensen-Shannon divergence from the corpus unigram
    // distribution — the distribution-shift metric a mixture monitor
    // tracks (a source drifting from the blend shows up here before it
    // shows up in loss curves). JSD = ½KL(P‖M) + ½KL(Q‖M), M=(P+Q)/2,
    // over term distributions; absent terms contribute only the corpus
    // side (0·log0 = 0). Scale: everything runs on COUNTS tables — the
    // (source × vocab) grid is bounded by vocabulary, never by corpus
    // bytes (an unbounded-vocab corpus would cap to top-K terms + a
    // remainder bucket, same shape). Per-term contributions quantize to
    // integer nano-bits before the per-source sum, so the reduction is
    // order-free BIGINT arithmetic.
    Op("corpus_js_divergence",
      "WITH w AS (SELECT source, UNNEST(STRING_SPLIT(text,' ')) AS wd FROM documents), " +
      "cs AS (SELECT source, wd, CAST(COUNT(*) AS BIGINT) AS csn FROM w GROUP BY 1, 2), " +
      "ns AS (SELECT source, CAST(SUM(csn) AS BIGINT) AS nst FROM cs GROUP BY 1), " +
      "c AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS cn FROM w GROUP BY 1), " +
      "n AS (SELECT CAST(SUM(cn) AS BIGINT) AS nt FROM c), " +
      "grid AS (SELECT s.source, c.wd, c.cn FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN c), " +
      "j AS (SELECT g.source, g.wd, COALESCE(cs.csn, 0) AS csn, g.cn FROM grid g " +
      "LEFT JOIN cs ON cs.source = g.source AND cs.wd = g.wd), " +
      "t AS (SELECT j.source, " +
      "CAST(j.csn AS DOUBLE) / ns.nst AS p, CAST(j.cn AS DOUBLE) / n.nt AS q " +
      "FROM j JOIN ns USING (source), n) " +
      "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms, " +
      "CAST(SUM(CAST(ROUND((0.5 * (CASE WHEN p > 0 THEN p * LOG2(p / ((p + q) / 2)) ELSE 0 END) " +
      "+ 0.5 * (q * LOG2(q / ((p + q) / 2)))) * 1000000000) AS BIGINT)) AS BIGINT) AS jsd_nanobits " +
      "FROM t GROUP BY source ORDER BY source") { (s, d) =>
      val w = docs(s, d).select(col("source"), explode(tokens(col("text"))).as("wd"))
      val cs = w.groupBy("source", "wd").agg(count(lit(1)).as("csn"))
      val ns = cs.groupBy("source").agg(sum("csn").cast("long").as("nst"))
      val c = w.groupBy("wd").agg(count(lit(1)).as("cn"))
      val n = c.agg(sum("cn").cast("long").as("nt"))
      val grid = docs(s, d).select("source").distinct().crossJoin(c)
      val j = grid.join(cs, Seq("source", "wd"), "left")
        .select(col("source"), col("wd"), coalesce(col("csn"), lit(0L)).as("csn"), col("cn"))
      val t = j.join(broadcast(ns), "source").crossJoin(broadcast(n))
        .select(col("source"),
          (col("csn").cast("double") / col("nst")).as("p"),
          (col("cn").cast("double") / col("nt")).as("q"))
      t.select(col("source"),
          round((lit(0.5) * when(col("p") > 0,
            col("p") * log2(col("p") / ((col("p") + col("q")) / 2))).otherwise(0.0)
            + lit(0.5) * (col("q") * log2(col("q") / ((col("p") + col("q")) / 2))))
            * 1000000000L).cast("long").as("tb"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_terms"), sum("tb").cast("long").as("jsd_nanobits"))
        .orderBy("source")
    },

    // Document-length outlier flags by robust statistics: deviation from
    // the corpus MEDIAN token count in units of the MAD (median absolute
    // deviation) — the outlier rule that survives the heavy tails that
    // break mean/stddev z-scores on crawl data. Two QUANTILE_DISC
    // aggregates (each a 1-row broadcast back onto the scan) and pure
    // integer comparisons; |len − med| > 3·MAD flags.
    Op("corpus_length_outliers",
      "WITH l AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text,' ')) AS INTEGER) AS n_tok FROM documents), " +
      "m AS (SELECT CAST(QUANTILE_DISC(n_tok, 0.5) AS INTEGER) AS med FROM l), " +
      "dv AS (SELECT doc_id, n_tok, ABS(n_tok - m.med) AS dev FROM l, m), " +
      "md AS (SELECT CAST(QUANTILE_DISC(dev, 0.5) AS INTEGER) AS mad FROM dv) " +
      "SELECT dv.doc_id, dv.n_tok, dv.dev, " +
      "CASE WHEN dv.dev > 3 * md.mad THEN 1 ELSE 0 END AS is_outlier " +
      "FROM dv, md ORDER BY dv.doc_id") { (s, d) =>
      val l = docs(s, d).select(col("doc_id"), size(tokens(col("text"))).as("n_tok"))
      val m = l.agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok)")
        .cast("int").as("med"))
      val dv = l.crossJoin(broadcast(m))
        .select(col("doc_id"), col("n_tok"), abs(col("n_tok") - col("med")).as("dev"))
      val md = dv.agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
        .cast("int").as("mad"))
      dv.crossJoin(broadcast(md))
        .select(col("doc_id"), col("n_tok"), col("dev"),
          when(col("dev") > lit(3) * col("mad"), 1).otherwise(0).as("is_outlier"))
        .orderBy("doc_id")
    },

    // Winsorization plan: per source, the p05/p95 token-length clip bounds
    // (QUANTILE_DISC — exact on integer counts) with how many docs each
    // side would clip and the integer mean before/after clamping — the
    // robust-trimming preview a curation run signs off before truncating
    // or dropping tails. One per-source aggregate for the bounds broadcast
    // back onto the lengths, then one rollup; all-integer arithmetic.
    Op("corpus_winsorize",
      "WITH l AS (SELECT source, CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS n_tok FROM documents), " +
      "b AS (SELECT source, CAST(QUANTILE_DISC(n_tok, 0.05) AS BIGINT) AS lo, " +
      "CAST(QUANTILE_DISC(n_tok, 0.95) AS BIGINT) AS hi FROM l GROUP BY 1) " +
      "SELECT l.source, b.lo, b.hi, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN l.n_tok < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low, " +
      "CAST(SUM(CASE WHEN l.n_tok > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high, " +
      "CAST(SUM(l.n_tok) // COUNT(*) AS BIGINT) AS mean_tok, " +
      "CAST(SUM(LEAST(GREATEST(l.n_tok, b.lo), b.hi)) // COUNT(*) AS BIGINT) AS mean_tok_clipped " +
      "FROM l JOIN b USING (source) GROUP BY 1, 2, 3 ORDER BY source") { (s, d) =>
      val l = docs(s, d).select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val b = l.groupBy("source").agg(
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY n_tok)").cast("long").as("lo"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_tok)").cast("long").as("hi"))
      l.join(broadcast(b), "source")
        .groupBy("source", "lo", "hi")
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_tok") < col("lo"), 1L).otherwise(0L)).as("n_clip_low"),
          sum(when(col("n_tok") > col("hi"), 1L).otherwise(0L)).as("n_clip_high"),
          expr("CAST(SUM(n_tok) div COUNT(*) AS BIGINT)").as("mean_tok"),
          expr("CAST(SUM(LEAST(GREATEST(n_tok, lo), hi)) div COUNT(*) AS BIGINT)").as("mean_tok_clipped"))
        .select(col("source"), col("lo"), col("hi"), col("n"),
          col("n_clip_low"), col("n_clip_high"), col("mean_tok"), col("mean_tok_clipped"))
        .orderBy("source")
    },

    // Template-domination detection: per document, the share of its
    // trigram INSTANCES that are corpus-wide boilerplate (document
    // frequency >= 20) — the gate that drops scraper-template pages whose
    // every sentence appears in dozens of other documents, which
    // per-document repetition (text_repetition) cannot see. One gram
    // explode, the df aggregate on the gram clustering joined back by the
    // same key, one doc_id collapse; flag at > 50% boilerplate mass.
    Op("corpus_template_detect",
      "WITH w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents), " +
      "g AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), " +
      "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w), " +
      "dfc AS (SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM g GROUP BY 1) " +
      "SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, " +
      "CAST(SUM(CASE WHEN dfc.df >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler, " +
      "CAST((SUM(CASE WHEN dfc.df >= 20 THEN 1 ELSE 0 END) * 1000) // COUNT(*) AS BIGINT) AS boiler_permille, " +
      "CASE WHEN (SUM(CASE WHEN dfc.df >= 20 THEN 1 ELSE 0 END) * 1000) // COUNT(*) > 500 THEN 1 ELSE 0 END AS is_template " +
      "FROM g JOIN dfc USING (gram) GROUP BY g.doc_id ORDER BY g.doc_id") { (s, d) =>
      val g = triRows(docs(s, d))
        .select(col("doc_id"), concat_ws(" ", col("w"), col("w1"), col("w2")).as("gram"))
      val dfc = g.groupBy("gram").agg(countDistinct("doc_id").as("df"))
      g.join(dfc, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 20, 1).otherwise(0)).cast("long").as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          expr("CAST((n_boiler * 1000) div n_grams AS BIGINT)").as("boiler_permille"),
          expr("CASE WHEN (n_boiler * 1000) div n_grams > 500 THEN 1 ELSE 0 END").as("is_template"))
        .orderBy("doc_id")
    },

    // Term burstiness (index of dispersion): variance-to-mean ratio of
    // per-document counts for the top-20 terms — the statistic that
    // separates topical terms (bursty, D >> 1) from function words
    // (Poisson-like, D ≈ 1), the signal behind burst-aware tf weighting.
    // Closed form D = (N·Σx² − (Σx)²)/(N·Σx) over INTEGER per-doc counts
    // (zero-count docs enter through N = corpus size, never materialized),
    // so the value is exact cross-engine; milli-quantized output.
    Op("text_burstiness",
      "WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents), " +
      "x AS (SELECT doc_id, wd, CAST(COUNT(*) AS BIGINT) AS c FROM " +
      "(SELECT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS wd FROM documents) u GROUP BY 1, 2), " +
      "t AS (SELECT wd, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df, " +
      "CAST(SUM(c*c) AS BIGINT) AS sx2 FROM x GROUP BY 1) " +
      "SELECT wd, tf, df, " +
      "CAST(ROUND(CAST(n.nd * t.sx2 - t.tf * t.tf AS DOUBLE) / (n.nd * t.tf) * 1000) AS BIGINT) AS dispersion_milli " +
      "FROM t, n ORDER BY tf DESC, wd LIMIT 20") { (s, d) =>
      val nd = docs(s, d).agg(count(lit(1)).as("nd"))
      val x = docs(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("wd"))
        .groupBy("doc_id", "wd").agg(count(lit(1)).as("c"))
      x.groupBy("wd")
        .agg(sum("c").cast("long").as("tf"), count(lit(1)).as("df"),
          sum(col("c") * col("c")).cast("long").as("sx2"))
        .crossJoin(broadcast(nd))
        .select(col("wd"), col("tf"), col("df"),
          round((col("nd") * col("sx2") - col("tf") * col("tf")).cast("double") /
            (col("nd") * col("tf")) * 1000).cast("long").as("dispersion_milli"))
        .orderBy(col("tf").desc, col("wd")).limit(20)
    },

    // Zipf-law fit over the top-100 term frequencies: least-squares slope
    // and R² of log10(freq) against log10(rank) — the corpus-health check
    // that catches template-dominated or synthetic text (natural language
    // sits near slope -1). Scale: term counts are one map-side-combined
    // aggregation; only the top-100 terms are globally ordered (distributed
    // TakeOrdered), and the regression runs over those 100 rows with both
    // logs quantized to integer micro-units FIRST, so every sum is exact
    // BIGINT arithmetic and the closed-form slope/R² are bit-identical
    // cross-engine (REGR_SLOPE's float accumulation order would not be).
    Op("corpus_zipf_fit",
      "WITH w AS (SELECT UNNEST(STRING_SPLIT(text,' ')) AS wd FROM documents), " +
      "c AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS freq FROM w GROUP BY 1), " +
      "r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, wd) AS rk FROM c ORDER BY freq DESC, wd LIMIT 100), " +
      "q AS (SELECT CAST(ROUND(LOG10(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS lx, " +
      "CAST(ROUND(LOG10(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS ly FROM r), " +
      "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy, " +
      "CAST(SUM(lx*lx) AS BIGINT) AS sxx, CAST(SUM(ly*ly) AS BIGINT) AS syy, CAST(SUM(lx*ly) AS BIGINT) AS sxy FROM q) " +
      "SELECT n AS n_terms, " +
      "CAST(ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx) * 1000) AS BIGINT) AS zipf_slope_milli, " +
      "CAST(ROUND(CAST(n*sxy - sx*sy AS DOUBLE) * (n*sxy - sx*sy) / ((n*sxx - sx*sx) * CAST(n*syy - sy*sy AS DOUBLE)) * 1000) AS BIGINT) AS r2_milli " +
      "FROM s") { (s, d) =>
      val c = docs(s, d).select(explode(tokens(col("text"))).as("wd"))
        .groupBy("wd").agg(count(lit(1)).as("freq"))
      val top = c.orderBy(col("freq").desc, col("wd")).limit(100)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("freq").desc, col("wd"))))
      val q = top.select(
        round(log10(col("rk").cast("double")) * 1000000).cast("long").as("lx"),
        round(log10(col("freq").cast("double")) * 1000000).cast("long").as("ly"))
      q.agg(count(lit(1)).as("n"), sum("lx").as("sx"), sum("ly").as("sy"),
          sum(col("lx") * col("lx")).as("sxx"), sum(col("ly") * col("ly")).as("syy"),
          sum(col("lx") * col("ly")).as("sxy"))
        .select(col("n").as("n_terms"),
          expr("CAST(ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx) * 1000) AS BIGINT)").as("zipf_slope_milli"),
          expr("CAST(ROUND(CAST(n*sxy - sx*sy AS DOUBLE) * (n*sxy - sx*sy) / ((n*sxx - sx*sx) * CAST(n*syy - sy*sy AS DOUBLE)) * 1000) AS BIGINT)").as("r2_milli"))
    },

    // RAKE keyphrase extraction (Rapid Automatic Keyword Extraction): split
    // each document on stopwords into maximal content-word runs (length
    // <= 3), score every word by degree/frequency over the candidate set
    // (degree = summed length of the phrases it appears in), and rank
    // distinct phrases by their words' summed scores — the classic
    // unsupervised keyphrase baseline. Scale: phrase runs come from the
    // gaps-and-islands trick (i - ROW_NUMBER() over the doc_id clustering
    // — one window pass, no self-join); word stats aggregate over the
    // bounded phrase vocabulary and broadcast back onto the distinct
    // phrases. Float policy: word scores quantize to integer milli-units
    // (ROUND(1000*deg/freq)) before the per-phrase sum.
    Op("text_rake_topk",
      "WITH t AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents), " +
      "w AS (SELECT doc_id, UNNEST(GENERATE_SERIES(1, CAST(LEN(ws) AS INTEGER))) AS i, UNNEST(ws) AS word FROM t), " +
      "nw AS (SELECT doc_id, i, word, i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS run_id " +
      "FROM w WHERE word NOT IN ('the','a','and','of','in','to','is')), " +
      "ph AS (SELECT doc_id, run_id, STRING_AGG(word, ' ' ORDER BY i) AS phrase, CAST(COUNT(*) AS BIGINT) AS plen " +
      "FROM nw GROUP BY 1, 2), " +
      "ph3 AS (SELECT phrase, plen FROM ph WHERE plen <= 3), " +
      "ws2 AS (SELECT word, CAST(ROUND(1000.0 * SUM(plen) / COUNT(*)) AS BIGINT) AS wscore " +
      "FROM (SELECT UNNEST(STRING_SPLIT(phrase,' ')) AS word, plen FROM ph3) u GROUP BY 1), " +
      "dp AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur FROM ph3 GROUP BY 1), " +
      "pw AS (SELECT dp.phrase, dp.n_occur, UNNEST(STRING_SPLIT(dp.phrase,' ')) AS word FROM dp) " +
      "SELECT pw.phrase, pw.n_occur, CAST(SUM(ws2.wscore) AS BIGINT) AS score_milli " +
      "FROM pw JOIN ws2 USING (word) GROUP BY 1, 2 " +
      "ORDER BY score_milli DESC, phrase LIMIT 20") { (s, d) =>
      val stops = Seq("the", "a", "and", "of", "in", "to", "is")
      val w = docs(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("word"))
        .filter(!col("word").isin(stops: _*))
      val rn = row_number().over(Window.partitionBy("doc_id").orderBy("i"))
      val ph = w.withColumn("run_id", col("i") - rn)
        .groupBy("doc_id", "run_id")
        .agg(array_join(transform(array_sort(collect_list(struct(col("i"), col("word")))),
          x => x.getField("word")), " ").as("phrase"),
          count(lit(1)).as("plen"))
        .filter(col("plen") <= 3)
        .select("phrase", "plen")
      val wordStats = ph.select(explode(split(col("phrase"), " ")).as("word"), col("plen"))
        .groupBy("word")
        .agg(round(lit(1000.0) * sum("plen") / count(lit(1))).cast("long").as("wscore"))
      val dp = ph.groupBy("phrase").agg(count(lit(1)).as("n_occur"))
      dp.select(col("phrase"), col("n_occur"), explode(split(col("phrase"), " ")).as("word"))
        .join(broadcast(wordStats), "word")
        .groupBy("phrase", "n_occur").agg(sum("wscore").as("score_milli"))
        .orderBy(col("score_milli").desc, col("phrase")).limit(20)
    },

    // Sequence packing: assign documents to fixed token-budget training
    // chunks greedily in doc_id order WITHIN each source — chunk_id is the
    // exclusive prefix-sum of token counts divided by the budget. The window
    // partitions on source, so packing distributes across the mixture's
    // strata; a single giant stratum would salt the partition key by id
    // range (each range packs independently, budgets still respected).
    // All-integer inputs keep the oracle value-exact.
    Op("pipeline_pack_sequences",
      "SELECT doc_id, source, CAST(LEN(STRING_SPLIT(text,' ')) AS INTEGER) AS n_tok, " +
      "CAST(FLOOR((SUM(LEN(STRING_SPLIT(text,' '))) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) " +
      "- LEN(STRING_SPLIT(text,' '))) / 512.0) AS BIGINT) AS chunk_id " +
      "FROM documents ORDER BY doc_id") { (s, d) =>
      val nTok = size(tokens(col("text")))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .select(col("doc_id"), col("source"), nTok.as("n_tok"),
          sum(nTok.cast("long")).over(w).as("cum"))
        .select(col("doc_id"), col("source"), col("n_tok"),
          floor((col("cum") - col("n_tok")) / lit(512.0)).as("chunk_id"))
        .orderBy("doc_id")
    },

    // Sliding-window chunking with overlap (RAG / long-context training
    // prep): 256-token windows at stride 192 (64-token overlap), final
    // window clamped to the document end. Pure per-row explode — the chunk
    // table is ~n_tok/stride rows per doc with no shuffle until the output
    // sort, so it scales with the corpus scan. All-integer outputs.
    Op("pipeline_chunk_overlap",
      "WITH t AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text,' ')) AS INTEGER) AS n_tok FROM documents), " +
      "c AS (SELECT doc_id, n_tok, UNNEST(GENERATE_SERIES(0, CASE WHEN n_tok <= 256 THEN 0 " +
      "ELSE CAST(CEIL((n_tok - 256) / 192.0) AS INTEGER) END)) AS chunk_idx FROM t) " +
      "SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, " +
      "CAST(chunk_idx * 192 AS INTEGER) AS start_tok, " +
      "CAST(LEAST(chunk_idx * 192 + 256, n_tok) AS INTEGER) AS end_tok " +
      "FROM c ORDER BY doc_id, chunk_idx") { (s, d) =>
      val nTok = size(tokens(col("text")))
      val nChunks = when(nTok <= 256, lit(1))
        .otherwise(ceil((nTok - 256).cast("double") / 192.0).cast("int") + 1)
      docs(s, d)
        .select(col("doc_id"), nTok.as("n_tok"), nChunks.as("n_chunks"))
        .select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * 192).as("start_tok"),
          least(col("chunk_idx") * 192 + 256, col("n_tok")).as("end_tok"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Gopher/C4-style intra-document repetition filter: the fraction of word
    // trigrams that repeat an earlier trigram in the SAME document flags
    // boilerplate, scraper loops, and degenerate text. One codegen'd pass per
    // row (array distinct over the shingle array — no explode, no shuffle);
    // dup_frac is a single integer division, so the oracle compares
    // value-exact.
    // Deterministic train/val/test split: bucket = first 4 hex digits of
    // md5(doc_id) mod 100, 90/5/5. Hash-based (not modulo-id or positional)
    // so membership is stable under corpus growth, re-partitioning, and
    // re-ordering — the property a 100 TB incremental pipeline needs: a doc
    // keeps its split forever, new docs land i.i.d. Pure per-row projection,
    // no shuffle before the output sort.
    Op("pipeline_train_split",
      "SELECT doc_id, CAST((" + hex4Sql + ") % 100 AS INTEGER) AS bucket, " +
      "CASE WHEN (" + hex4Sql + ") % 100 < 90 THEN 'train' " +
      "WHEN (" + hex4Sql + ") % 100 < 95 THEN 'val' ELSE 'test' END AS split " +
      "FROM documents ORDER BY doc_id") { (s, d) =>
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100).cast("int")
      docs(s, d)
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // Deterministic output sharding: the final step before a training corpus
    // is written — shard by content-stable md5 hash (membership survives
    // corpus growth and re-runs, unlike round-robin), then report per-shard
    // balance. In production the shard column feeds
    // `repartition(col("shard")).write` so each shard lands as one file
    // family; this op is the balance check a pipeline owner reads first
    // (a skewed shard means a skewed training stream). One codegen pass +
    // one two-phase aggregation; all outputs exact integers.
    Op("pipeline_shard",
      "WITH s AS (SELECT doc_id, CAST((" + hex4Sql + ") % 16 AS INTEGER) AS shard, " +
      "CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS n_tok FROM documents) " +
      "SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens, " +
      "MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc FROM s GROUP BY shard ORDER BY shard") { (s, d) =>
      val shard = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 16).cast("int")
      docs(s, d)
        .select(shard.as("shard"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("shard").agg(
          count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")
    },

    // Token-length histogram per source: log2-bucketed document lengths —
    // the distribution a sequence-packing or curriculum schedule is tuned
    // against (a source whose mass sits below the context window packs
    // densely; a long tail forces chunking). floor(log2(n)) is exact for
    // powers of two in both engines, so bucket edges agree cross-engine.
    // One codegen pass + one two-phase aggregation.
    Op("corpus_length_hist",
      "WITH t AS (SELECT source, CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS n_tok FROM documents) " +
      "SELECT source, CAST(FLOOR(LOG2(n_tok)) AS INTEGER) AS len_bucket, COUNT(*) AS n_docs, " +
      "MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok " +
      "FROM t GROUP BY source, len_bucket ORDER BY source, len_bucket") { (s, d) =>
      docs(s, d)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
        .select(col("source"), col("n_tok"),
          floor(log2(col("n_tok"))).cast("int").as("len_bucket"))
        .groupBy("source", "len_bucket").agg(
          count(lit(1)).as("n_docs"),
          min("n_tok").as("min_tok"), max("n_tok").as("max_tok"))
        .orderBy("source", "len_bucket")
    },

    // Token-budget mixture sampling: within each source, take docs in
    // deterministic md5 order until the running token total crosses the
    // budget (greedy-include: the crossing doc is kept, so every stratum
    // reaches its budget). This is how a training mixture's per-source
    // weights become an actual document selection. One window per source
    // stratum — identical distribution shape to pipeline_pack_sequences.
    Op("pipeline_budget_sample",
      "WITH t AS (SELECT doc_id, source, CAST(LEN(STRING_SPLIT(text,' ')) AS INTEGER) AS n_tok FROM documents), " +
      "c AS (SELECT doc_id, source, n_tok, CAST(SUM(n_tok) OVER (PARTITION BY source " +
      "ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t) " +
      "SELECT doc_id, source, n_tok, cum FROM c WHERE cum - n_tok < 600 ORDER BY source, doc_id") { (s, d) =>
      val nTok = size(tokens(col("text")))
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .select(col("doc_id"), col("source"), nTok.as("n_tok"))
        .withColumn("cum", sum(col("n_tok").cast("long")).over(w))
        .filter(col("cum") - col("n_tok") < 600)
        .orderBy("source", "doc_id")
    },

    // Quality gate with REASONS: a per-doc bitmask of which filters fired
    // (1 = too short, 2 = low stopword ratio, 4 = high non-alpha ratio,
    // 8 = high intra-doc repetition) — the auditable form of the C4/Gopher
    // gate `pipeline_clean_corpus` applies. Real pipelines keep this table
    // to tune thresholds and report *why* documents were dropped, not just
    // how many. All comparisons are on exact integer-ratio doubles, so the
    // bitmask is value-exact cross-engine; one codegen'd pass per row.
    Op("text_quality_flags",
      "WITH t AS (SELECT doc_id, text, STRING_SPLIT(text,' ') AS w FROM documents), " +
      "s AS (SELECT doc_id, CAST(LEN(w) AS INTEGER) AS n_tok, " +
      "CAST(LEN(LIST_FILTER(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE)/LEN(w) AS stop_ratio, " +
      "CAST(LENGTH(REGEXP_REPLACE(text,'[a-z ]','','g')) AS DOUBLE)/LENGTH(text) AS nonalpha_ratio, " +
      "CASE WHEN LEN(w) >= 3 THEN CAST(LEN(w)-2-LEN(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(w) AS INTEGER)-2), " +
      "i -> CONCAT_WS(' ', w[i], w[i+1], w[i+2])))) AS DOUBLE) / (LEN(w)-2) ELSE 0.0 END AS dup_frac FROM t) " +
      "SELECT doc_id, n_tok, CAST((CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) + (CASE WHEN stop_ratio < 0.02 THEN 2 ELSE 0 END) " +
      "+ (CASE WHEN nonalpha_ratio > 0.5 THEN 4 ELSE 0 END) + (CASE WHEN dup_frac > 0.2 THEN 8 ELSE 0 END) AS INTEGER) AS flags " +
      "FROM s ORDER BY doc_id") { (s, d) =>
      val nTok = size(tokens(col("text")))
      val (nTri, nDup) = dupShingleCounts(col("text"), 3)
      val dupFrac = when(nTri > 0, nDup.cast("double") / nTri).otherwise(0.0)
      docs(s, d)
        .select(col("doc_id"), nTok.as("n_tok"),
          (when(nTok < 20, 1).otherwise(0) +
            when(stopwordRatio(col("text"), Seq("the", "a", "of", "and", "in")) < 0.02, 2).otherwise(0) +
            when(nonAlphaRatio(col("text")) > 0.5, 4).otherwise(0) +
            when(dupFrac > 0.2, 8).otherwise(0)).cast("int").as("flags"))
        .orderBy("doc_id")
    },

    // Per-source quality report: how many documents each filter would drop,
    // per stratum — the table a corpus owner reads before tuning thresholds
    // or re-weighting the mixture (a source that is 40% repetitive needs a
    // crawler fix, not a lower mixture weight). Same filter expressions as
    // text_quality_flags, one codegen pass + one two-phase aggregation.
    Op("corpus_quality_report",
      "WITH t AS (SELECT doc_id, source, text, STRING_SPLIT(text,' ') AS w FROM documents), " +
      "s AS (SELECT doc_id, source, CAST(LEN(w) AS INTEGER) AS n_tok, " +
      "CAST(LEN(LIST_FILTER(w, x -> x IN ('the','a','of','and','in'))) AS DOUBLE)/LEN(w) AS stop_ratio, " +
      "CAST(LENGTH(REGEXP_REPLACE(text,'[a-z ]','','g')) AS DOUBLE)/LENGTH(text) AS nonalpha_ratio, " +
      "CASE WHEN LEN(w) >= 3 THEN CAST(LEN(w)-2-LEN(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(w) AS INTEGER)-2), " +
      "i -> CONCAT_WS(' ', w[i], w[i+1], w[i+2])))) AS DOUBLE) / (LEN(w)-2) ELSE 0.0 END AS dup_frac FROM t) " +
      "SELECT source, COUNT(*) AS n_docs, " +
      "CAST(SUM(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short, " +
      "CAST(SUM(CASE WHEN stop_ratio < 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_lowstop, " +
      "CAST(SUM(CASE WHEN nonalpha_ratio > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol, " +
      "CAST(SUM(CASE WHEN dup_frac > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive, " +
      "CAST(SUM(CASE WHEN n_tok >= 20 AND stop_ratio >= 0.02 AND nonalpha_ratio <= 0.5 AND dup_frac <= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean " +
      "FROM s GROUP BY source ORDER BY source") { (s, d) =>
      val nTok = size(tokens(col("text")))
      val stopR = stopwordRatio(col("text"), Seq("the", "a", "of", "and", "in"))
      val nonA = nonAlphaRatio(col("text"))
      val (nTri, nDup) = dupShingleCounts(col("text"), 3)
      val dupFrac = when(nTri > 0, nDup.cast("double") / nTri).otherwise(0.0)
      docs(s, d)
        .select(col("source"), nTok.as("n_tok"), stopR.as("stop_ratio"),
          nonA.as("nonalpha_ratio"), dupFrac.as("dup_frac"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_tok") < 20, 1L).otherwise(0L)).as("n_short"),
          sum(when(col("stop_ratio") < 0.02, 1L).otherwise(0L)).as("n_lowstop"),
          sum(when(col("nonalpha_ratio") > 0.5, 1L).otherwise(0L)).as("n_symbol"),
          sum(when(col("dup_frac") > 0.2, 1L).otherwise(0L)).as("n_repetitive"),
          sum(when(col("n_tok") >= 20 && col("stop_ratio") >= 0.02 &&
            col("nonalpha_ratio") <= 0.5 && col("dup_frac") <= 0.2, 1L).otherwise(0L)).as("n_clean"))
        .orderBy("source")
    },

    // Top-3 characteristic terms per document by tf-idf, tokenizing the
    // corpus ONCE: the (doc, term) aggregate completes on the pre-explosion
    // doc_id clustering (subset rule), then document frequency is a window
    // count over the term clustering the score needs anyway — NOT a
    // separate df-aggregate branch + join, which re-runs the whole
    // scan+explode pipeline (the dedup_jaccard lesson; measured there as a
    // duplicated multi-second stage). The corpus size joins in as a
    // broadcast single-row aggregate, not a driver-side collect. Scores
    // round to 4dp before ranking so cross-engine FP near-ties resolve
    // identically via the term tiebreak.
    Op("text_tfidf_topk",
      "WITH n AS (SELECT COUNT(*) AS n_docs FROM documents), " +
      "w AS (SELECT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1,2), " +
      "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
      "sc AS (SELECT tf.doc_id, tf.term, ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE)/df.df), 4) AS score " +
      "FROM tf JOIN df USING (term), n) " +
      "SELECT doc_id, term, score FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id " +
      "ORDER BY score DESC, term) AS rk FROM sc) WHERE rk <= 3 ORDER BY doc_id, score DESC, term") { (s, d) =>
      val nPart = s.sessionState.conf.numShufflePartitions
      val tf = docs(s, d)
        .repartition(nPart, col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .repartition(col("term"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("score"))
      val rk = row_number().over(Window.partitionBy("doc_id").orderBy(col("score").desc, col("term")))
      scored.withColumn("rk", rk).filter(col("rk") <= 3)
        .select("doc_id", "term", "score")
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    },

    // Unigram language-model quality score: each document scored by the mean
    // log10-probability of its tokens under the corpus's own unigram
    // distribution — the classic cheap proxy for "typical vs garbage" text
    // (gibberish and boilerplate sit in the tails). Scale shape: token counts
    // aggregate with map-side combine (only (term, partial) rows shuffle),
    // then broadcast back onto the exploded stream so the corpus itself never
    // shuffles by term (hot stopword keys would skew any term-keyed
    // exchange); recomputing the explode for the probe side is the cheap
    // price. Cross-engine determinism: doubles sum in shuffle order, so each
    // token's logprob is quantized to an integer milli-grid first — the
    // BIGINT per-doc sum is order-independent, and the two final divisions
    // are exact IEEE on both engines.
    Op("text_lm_score",
      "WITH w AS (SELECT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS term FROM documents), " +
      "c AS (SELECT term, COUNT(*) AS cnt FROM w GROUP BY 1), " +
      "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c), " +
      "q AS (SELECT w.doc_id, CAST(ROUND(LOG10(CAST(c.cnt AS DOUBLE)/t.total)*1000) AS BIGINT) AS logq " +
      "FROM w JOIN c USING (term), t) " +
      "SELECT doc_id, COUNT(*) AS n_tok, " +
      "(CAST(SUM(logq) AS BIGINT)/1000.0)/COUNT(*) AS lm_score " +
      "FROM q GROUP BY doc_id ORDER BY doc_id") { (s, d) =>
      val nPart = s.sessionState.conf.numShufflePartitions
      val w = docs(s, d).repartition(nPart, col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val cnts = w.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = cnts.agg(sum("cnt").as("total"))
      w.join(broadcast(cnts.crossJoin(total)), "term")
        .select(col("doc_id"),
          round(log10(col("cnt").cast("double") / col("total")) * 1000).cast("long").as("logq"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          ((sum("logq") / 1000.0) / count(lit(1))).as("lm_score"))
        .orderBy("doc_id")
    },

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): importance weight
    // log(p_target/p_raw) over HASHED unigram features — here 256 md5
    // buckets, target = the English slice, raw = the whole corpus, add-1
    // smoothing. The hashing is the scale contract: the per-bucket
    // log-ratio table is 256 rows at ANY corpus size, so it broadcasts and
    // the exploded corpus never shuffles by term; the per-doc score is a
    // BIGINT sum of integer micro-nat units (the lm_score float policy), so
    // the reduction is order-independent and cross-engine exact. Top-50 by
    // weight = the docs most target-like relative to the raw distribution.
    Op("pipeline_dsir_weights", {
      val bucketSql = "((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1))"
      "WITH w AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text,' ')) AS term FROM documents), " +
      s"b AS (SELECT doc_id, lang, $bucketSql AS bucket FROM w), " +
      "r AS (SELECT bucket, COUNT(*) AS rc FROM b GROUP BY 1), " +
      "tg AS (SELECT bucket, COUNT(*) AS tc FROM b WHERE lang = 'en' GROUP BY 1), " +
      "n AS (SELECT (SELECT CAST(SUM(rc) AS BIGINT) FROM r) AS nr, " +
      "(SELECT CAST(SUM(tc) AS BIGINT) FROM tg) AS nt), " +
      "u AS (SELECT r.bucket, CAST(ROUND((LN((COALESCE(tg.tc, 0) + 1.0) / (n.nt + 256)) - " +
      "LN((r.rc + 1.0) / (n.nr + 256))) * 1000000) AS BIGINT) AS unit " +
      "FROM r LEFT JOIN tg USING (bucket), n) " +
      "SELECT b.doc_id, b.lang, COUNT(*) AS n_tok, CAST(SUM(u.unit) AS BIGINT) AS dsir_micro " +
      "FROM b JOIN u USING (bucket) GROUP BY 1, 2 " +
      "ORDER BY dsir_micro DESC, doc_id LIMIT 50"
    }) { (s, d) =>
      val nPart = s.sessionState.conf.numShufflePartitions
      val b = docs(s, d).repartition(nPart, col("doc_id"))
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("term"))
        .withColumn("bucket", conv(substring(md5(col("term")), 1, 2), 16, 10).cast("int"))
      // raw and target counts in ONE aggregation (a conditional sum rides
      // the same map-side partials), so the corpus is scanned twice total:
      // once for the bucket table, once for the scoring probe — separate
      // r/tg/total branches re-planned the scan ~4x (PlanAudit-measured)
      val counts = b.groupBy("bucket").agg(count(lit(1)).as("rc"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"))
      val totals = counts.agg(sum("rc").as("nr"), sum("tc").as("nt"))
      val u = counts.crossJoin(totals)
        .select(col("bucket"),
          round((log((col("tc") + 1.0) / (col("nt") + 256)) -
            log((col("rc") + 1.0) / (col("nr") + 256))) * 1e6).cast("long").as("unit"))
      b.join(broadcast(u), "bucket")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tok"), sum("unit").as("dsir_micro"))
        .orderBy(col("dsir_micro").desc, col("doc_id"))
        .limit(50)
    },

    // Vocabulary coverage curve: what fraction of corpus token OCCURRENCES
    // the top-k most frequent terms cover, at the k values a tokenizer /
    // vocab budget is sized against. Scale contract: only the top-5000
    // terms are ever globally ordered — a distributed TakeOrdered over the
    // partial-combined term counts — so no window ranks the full vocab
    // (which a 100 TB corpus makes billions of rows); the cumulative sum
    // then runs over 5000 rows. Coverage is integer micro-units
    // (covered * 1e6 div total), exact on both engines.
    Op("pipeline_vocab_coverage",
      "WITH w AS (SELECT UNNEST(STRING_SPLIT(text,' ')) AS term FROM documents), " +
      "c AS (SELECT term, COUNT(*) AS cnt FROM w GROUP BY 1), " +
      "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c), " +
      "top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 5000), " +
      "r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rk, " +
      "CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM top) " +
      "SELECT k, CAST(MAX(r.cum) AS BIGINT) AS covered, t.total, " +
      "CAST(MAX(r.cum) * 1000000 // t.total AS BIGINT) AS coverage_micro " +
      "FROM (VALUES (100), (500), (1000), (2000), (5000)) ks(k) " +
      "JOIN r ON r.rk <= ks.k, t GROUP BY k, t.total ORDER BY k") { (s, d) =>
      val c = docs(s, d)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = c.agg(sum("cnt").cast("long").as("total"))
      val wOrd = Window.orderBy(col("cnt").desc, col("term"))
      val ranked = c.orderBy(col("cnt").desc, col("term")).limit(5000)
        .withColumn("rk", row_number().over(wOrd).cast("long"))
        .withColumn("cum", sum("cnt").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      s.sql("SELECT * FROM VALUES (100), (500), (1000), (2000), (5000) AS ks(k)")
        .join(broadcast(ranked), col("rk") <= col("k"))
        .crossJoin(broadcast(total))
        .groupBy("k", "total").agg(max("cum").as("covered"))
        .select(col("k"), col("covered"),
          col("total"), expr("covered * 1000000L div total").as("coverage_micro"))
        .orderBy("k")
    },

    // Vocabulary growth curve (Heaps' law): distinct terms seen after the
    // first N documents in a deterministic md5 order, at checkpoint sizes —
    // the diagnostic that says whether a corpus is still contributing new
    // vocabulary or has gone repetitive. Distributed shape: no running
    // distinct — each term's FIRST-occurrence rank is a plain min
    // aggregate over the exploded corpus (doc ranks are md5-derived
    // integers, so the explode carries them for free), and the curve is a
    // tiny bucket count over first-occurrence ranks. One explode, two
    // aggregations, nothing ordered over the full corpus.
    // "First N docs" is realized as md5-prefix thresholds (the train-split
    // hash), NOT a global rank: per-doc inclusion is a pure projection, a
    // term's first appearance is MIN(doc hash) — a plain aggregate — and
    // the curve is a tiny threshold count. Nothing globally sorts at any
    // corpus size, and growing the corpus extends each subset consistently
    // (hash membership is content-stable, the property the train-split op
    // relies on too).
    Op("corpus_growth_curve", {
      val h4 = (1 to 4).map { k =>
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $k, 1)) - 1) * ${1 << (4 * (4 - k))}"
      }.mkString("(", " + ", ")")
      s"WITH d AS (SELECT doc_id, text, $h4 AS h FROM documents), " +
      "w AS (SELECT h, UNNEST(STRING_SPLIT(text,' ')) AS term FROM d), " +
      "f AS (SELECT term, MIN(h) AS first_h FROM w GROUP BY 1) " +
      "SELECT t, CAST((SELECT COUNT(*) FROM d WHERE d.h < ks.t) AS BIGINT) AS n_docs, " +
      "CAST((SELECT COUNT(*) FROM f WHERE f.first_h < ks.t) AS BIGINT) AS distinct_terms " +
      "FROM (VALUES (4096), (16384), (65536)) ks(t) ORDER BY t"
    }) { (s, d) =>
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
      val withH = docs(s, d).select(col("text"), h.as("h"))
      val first = withH
        .select(col("h"), explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(min("h").as("first_h"))
      val ks = s.sql("SELECT * FROM VALUES (4096), (16384), (65536) AS ks(t)")
      val docCounts = ks.crossJoin(withH.select("h"))
        .groupBy("t").agg(sum(when(col("h") < col("t"), 1L).otherwise(0L)).as("n_docs"))
      val termCounts = ks.crossJoin(first)
        .groupBy("t").agg(sum(when(col("first_h") < col("t"), 1L).otherwise(0L)).as("distinct_terms"))
      docCounts.join(termCounts, "t")
        .select(col("t"), col("n_docs"), col("distinct_terms"))
        .orderBy("t")
    },

    // Cross-source contamination matrix: trigram-set Jaccard between every
    // source pair — the corpus-level view of sharing (mirror sites, syndicated
    // text, template reuse) that decides which sources can't be mixed at full
    // weight. One gram explosion total (the jaccardPairs shape, source-keyed):
    // the explode spreads on doc_id (full cluster width — partitioning by
    // source alone would cap the heavy CPU at the source count; measured 7.1
    // vs 4.3 s at 10x on the 20-source fixture — and the original
    // three-explosion aggregate-branch shape was 6.2 s), the (source, gram)
    // distinct
    // shuffles once, the per-source set size windows over only the DEDUPED
    // grams, and both pair-join sides read the SAME gram-clustered subtree
    // via ReusedExchange; sizes travel in the aggregate keys (constant per
    // source), so no size joins follow.
    Op("corpus_source_overlap",
      "WITH w AS (SELECT source, STRING_SPLIT(text,' ') AS words FROM documents), " +
      "g AS (SELECT DISTINCT source, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-2), " +
      "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM w), " +
      "sz AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1), " +
      "pairs AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter FROM g a " +
      "JOIN g b ON a.gram=b.gram AND a.source < b.source GROUP BY 1,2) " +
      "SELECT src_a, src_b, inter, ROUND(CAST(inter AS DOUBLE)/(sa.n+sb.n-inter), 6) AS jaccard " +
      "FROM pairs JOIN sz sa ON sa.source=src_a JOIN sz sb ON sb.source=src_b ORDER BY src_a, src_b") { (s, d) =>
      val nPart = s.sessionState.conf.numShufflePartitions
      val g = docs(s, d)
        .repartition(nPart, col("doc_id"))
        .select(col("source"), explode(wordShingles(col("text"), 3)).as("gram"))
        .dropDuplicates("source", "gram")
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .repartition(col("gram"))
      g.as("a").hint("shuffle_hash").join(g.as("b"),
          col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .select(col("src_a"), col("src_b"), col("inter"),
          round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    Op("text_repetition",
      "WITH t AS (SELECT doc_id, STRING_SPLIT(text,' ') AS w FROM documents), " +
      "g AS (SELECT doc_id, CASE WHEN LEN(w) >= 3 THEN CAST(LEN(w) - 2 AS INTEGER) ELSE 0 END AS n_tri, " +
      "CASE WHEN LEN(w) >= 3 THEN CAST(LEN(w) - 2 - LEN(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(w) AS INTEGER) - 2), " +
      "i -> CONCAT_WS(' ', w[i], w[i+1], w[i+2])))) AS INTEGER) ELSE 0 END AS n_dup FROM t) " +
      "SELECT doc_id, n_tri, n_dup, " +
      "CASE WHEN n_tri > 0 THEN ROUND(CAST(n_dup AS DOUBLE) / n_tri, 4) ELSE 0.0 END AS dup_frac " +
      "FROM g ORDER BY doc_id") { (s, d) =>
      val (nTri, nDup) = dupShingleCounts(col("text"), 3)
      docs(s, d).select(
        col("doc_id"),
        nTri.as("n_tri"),
        nDup.as("n_dup"),
        when(nTri > 0, round(nDup.cast("double") / nTri, 4)).otherwise(0.0).as("dup_frac")
      ).orderBy("doc_id")
    },

    // Exact repeated-substring mining (the ExactSubstr dedup family: find
    // every k-token span that occurs verbatim in >=2 documents — boilerplate
    // headers, license blocks, syndicated passages — so a downstream pass
    // can cut the spans rather than whole docs). Every 10-token window at
    // stride 1 is hashed and aggregated: linear in corpus tokens, one
    // shuffle on the span hash, no pairwise comparison anywhere — the shape
    // that holds at 100 TB (suffix automata don't distribute; stride-1
    // window hashing is the standard cluster formulation). The pre-explosion
    // doc_id repartition spreads the window CPU like triRows does.
    Op("dedup_substring",
      "WITH w AS (SELECT doc_id, STRING_SPLIT(text,' ') AS words FROM documents WHERE LEN(STRING_SPLIT(text,' ')) >= 10), " +
      "s AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(words) AS INTEGER)-9), i -> " +
      (0 until 10).map(j => s"words[i+$j]").mkString("CONCAT_WS(' ', ", ", ", ")") + ")) AS span FROM w) " +
      "SELECT MD5(span) AS span_md5, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS occ, " +
      "MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc " +
      "FROM s GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2 ORDER BY span_md5") { (s, d) =>
      val n = s.sessionState.conf.numShufflePartitions
      docs(s, d)
        .filter(col("doc_id").isNotNull)
        .repartition(n, col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("words"))
        .filter(size(col("words")) >= 10)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("words")) - 9),
          i => array_join(slice(col("words"), i, lit(10)), " "))).as("span"))
        .groupBy(md5(col("span")).as("span_md5"))
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("occ"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .filter(col("df") >= 2)
        .orderBy("span_md5")
    },

    // Out-of-vocabulary rate per document against the corpus's own top-200
    // document-frequency vocabulary — the cheap proxy for "how well does a
    // fixed tokenizer/embedding vocab cover this doc" that flags
    // transliterated, templated, or wrong-language text. The vocab is a
    // top-k aggregate (TakeOrdered, no global sort) broadcast back onto the
    // exploded corpus, so the probe side never shuffles by term: one doc_id
    // clustering in, per-doc counts complete on it.
    Op("text_oov_rate",
      "WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS tok FROM documents), " +
      "df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf FROM tok GROUP BY 1), " +
      "v AS (SELECT tok FROM df ORDER BY df DESC, tf DESC, tok LIMIT 200) " +
      "SELECT t.doc_id, COUNT(*) AS n_tok, " +
      "CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
      "ROUND(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*), 4) AS oov_rate " +
      "FROM tok t LEFT JOIN v ON t.tok = v.tok GROUP BY t.doc_id ORDER BY t.doc_id") { (s, d) =>
      val n = s.sessionState.conf.numShufflePartitions
      val w = docs(s, d).repartition(n, col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val vocab = w.groupBy("tok")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))
        .orderBy(col("df").desc, col("tf").desc, col("tok")).limit(200)
        .select(col("tok"), lit(1).as("in_v"))
      w.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_v").isNull, 1).otherwise(0)).as("n_oov"),
          round(sum(when(col("in_v").isNull, 1).otherwise(0)).cast("double") /
            count(lit(1)), 4).as("oov_rate"))
        .orderBy("doc_id")
    },

    // Curriculum phase assignment: exact global decile over (token count,
    // doc_id) — the short-to-long schedule curriculum training reads. Uses
    // the distributed globalNtile (range-partitioned sort + offset join),
    // NOT `NTILE() OVER (ORDER BY ...)`, which would move the corpus onto
    // one task.
    Op("pipeline_curriculum",
      "WITH t AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS n_tok FROM documents) " +
      "SELECT doc_id, n_tok, CAST(NTILE(10) OVER (ORDER BY n_tok, doc_id) AS INTEGER) AS phase " +
      "FROM t ORDER BY doc_id") { (s, d) =>
      Windows.globalNtile(
        docs(s, d).select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok")),
        10, Seq(col("n_tok"), col("doc_id")), "phase")
        .orderBy("doc_id")
    },

    // Per-doc unigram Shannon entropy (bits) — low entropy flags templated/
    // repetitive text, high flags noise; a standard quality feature next to
    // `text_stats` and `text_lm_score`. Cross-engine float policy (the
    // lm_score pattern): each term's -p*log2(p) is quantized to integer
    // milli-bits BEFORE the sum, so the per-doc reduction is
    // order-independent BIGINT arithmetic and the final /1000.0 is one IEEE
    // division both engines perform identically. One doc_id clustering in:
    // the (doc,term) counts, both per-doc window totals, and the final
    // collapse all complete on it — a single shuffle end-to-end.
    Op("text_entropy",
      "WITH w AS (SELECT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS term FROM documents), " +
      "g AS (SELECT doc_id, term, COUNT(*) AS c FROM w GROUP BY 1, 2), " +
      "t AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_terms FROM g GROUP BY 1), " +
      "q AS (SELECT g.doc_id, t.n, t.n_terms, " +
      "CAST(ROUND(-(CAST(g.c AS DOUBLE)/t.n)*LOG2(CAST(g.c AS DOUBLE)/t.n)*1000) AS BIGINT) AS e " +
      "FROM g JOIN t USING (doc_id)) " +
      "SELECT doc_id, n AS n_tok, n_terms, CAST(SUM(e) AS BIGINT)/1000.0 AS entropy " +
      "FROM q GROUP BY 1, 2, 3 ORDER BY doc_id") { (s, d) =>
      val nPart = s.sessionState.conf.numShufflePartitions
      val byDoc = Window.partitionBy("doc_id")
      val g = docs(s, d).repartition(nPart, col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .withColumn("n", sum("c").over(byDoc))
        .withColumn("n_terms", count(lit(1)).over(byDoc))
      val p = col("c").cast("double") / col("n")
      g.select(col("doc_id"), col("n"), col("n_terms"),
          round(-p * log2(p) * 1000).cast("long").as("e"))
        .groupBy("doc_id", "n", "n_terms")
        .agg((sum("e") / 1000.0).as("entropy"))
        .select(col("doc_id"), col("n").as("n_tok"), col("n_terms"), col("entropy"))
        .orderBy("doc_id")
    },

    // Dataset card: the one-row release summary (doc/token/char totals,
    // source and language breadth, exact-dup count) every corpus drop ships
    // with. Exact COUNT(DISTINCT) triples the aggregation input via Expand —
    // fine for a release gate; an advisory dashboard at 100 TB would swap
    // them for approx_count_distinct and keep the same shape.
    Op("pipeline_dataset_card",
      "SELECT COUNT(*) AS n_docs, CAST(SUM(LEN(STRING_SPLIT(text,' '))) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(n_chars) AS BIGINT) AS n_chars, COUNT(DISTINCT source) AS n_sources, " +
      "COUNT(DISTINCT lang) AS n_langs, COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups " +
      "FROM documents") { (s, d) =>
      docs(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"),
        (count(lit(1)) - countDistinct("text")).as("n_exact_dups"))
    }
  )
}
