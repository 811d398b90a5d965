package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkTestHarness, Tables}

/** Operator-level assertions beyond the driver's DuckDB differential check:
  * properties the oracle can't express (LSH recall, sketch accuracy,
  * streaming-batch parity live in StreamingSpec).
  */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private val dir = SparkTestHarness.sfDir

  test("positional join: i-th row pairs with i-th row, shorter side NULL-padded either way") {
    import spark.implicits._
    val a = Seq(("x", 1), ("y", 2), ("z", 3)).toDF("s", "i")
    val b = Seq(10L, 20L).toDF("v")
    val ab = Relational.positionalJoin(a, b).orderBy("i").collect()
      .map(r => (r.getString(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(ab == Seq(("x", 10L), ("y", 20L), ("z", -1L)), "right side padded")
    val ba = Relational.positionalJoin(b, a).orderBy("v").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSeq
    // padded left rows have NULL v; sort puts them first
    assert(ba == Seq((-1L, "z"), (10L, "x"), (20L, "y")), "left side padded")
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every op runs and every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // names are unique
    assert(SparkEntry.allOps.map(_.name).distinct.size == SparkEntry.allOps.size)
  }

  test("every bench headline query exists and is oracle-checked") {
    // The comparator tool and the driver's per-round bench both key on this
    // list; a headline entry without an oracle would make the same-window
    // gate ratio silently incomparable.
    val missingQuery = graft.Bench.headline.filterNot(SparkEntry.queries.contains)
    val missingOracle = graft.Bench.headline.filterNot(SparkEntry.oracleSql.contains)
    assert(missingQuery.isEmpty, s"headline without query impl: $missingQuery")
    assert(missingOracle.isEmpty, s"headline without oracle: $missingOracle")
  }

  test("every registered query analyzes (plan-time smoke for the whole inventory)") {
    // .schema forces full analysis (resolution, type-checking) without
    // executing — catches broken column refs / SQL syntax across all ops in
    // seconds. Side-effecting ops (DDL/sinks) execute their setup, which is
    // fine at sf0.001.
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, dir).schema; None }
      catch { case e: Throwable => Some(s"$name: ${e.toString.take(160)}") }
    }
    assert(failures.isEmpty, s"ops failed analysis:\n${failures.mkString("\n")}")
  }

  test("no oracle-checked query returns a top-level array/map column (comparator can't hash them)") {
    // The driver's comparator sorts result columns with pandas before
    // hashing; an array cell is an unhashable numpy.ndarray and the row goes
    // red regardless of value correctness (r7: compat_duckdb_sql,
    // compat_list_syntax). Digest or array_to_string such columns in the
    // same-text SQL — embed_sq8's md5 pattern — so this class of harness
    // failure can't recur.
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val offenders = SparkEntry.allOps.filter(_.oracle.isDefined).sortBy(_.name).flatMap { op =>
      try {
        val bad = op.run(spark, dir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType] =>
            s"${op.name}.${f.name}: ${f.dataType.simpleString}"
        }
        bad
      } catch { case _: Throwable => Nil } // analysis failures are the previous test's job
    }
    assert(offenders.isEmpty,
      s"oracle-checked ops with unsortable result columns:\n${offenders.mkString("\n")}")
  }

  test("shareable-gram-restricted Jaccard join is lossless vs a brute-force all-pairs reference") {
    Tables.ensure(spark, dir)
    val texts = spark.table("documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def grams(s: String): Set[String] =
      s.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = texts.map { case (id, t) => id -> grams(t) }
    for (t <- Seq(0.12, 0.5, 0.8)) {
      val expected = (for {
        (ia, ga) <- sets; (ib, gb) <- sets if ia < ib
        inter = (ga & gb).size
        jac = inter.toDouble / (ga.size + gb.size - inter)
        if jac >= t
      } yield (ia, ib)).toSet
      val got = TextPipeline.jaccardPairs(spark.table("documents"), t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"threshold $t: prefix filter dropped or invented pairs")
    }
  }

  test("constructed gram skew: a gram in 20% of docs salt-splits the join and pairs stay exact") {
    // Pathological-skew pin for the inverted-index self-join: one hot gram
    // concentrates 20% of the corpus in a single join partition. The
    // equi-join must (a) stay EXACT and (b) split that partition's
    // quadratic pair work rather than serializing it on one task.
    import spark.implicits._
    val hot = "hot1 hot2 hot3"
    val n = 400
    val docsDf = (0 until n).map { i =>
      val uniq = s"u${i}a u${i}b u${i}c u${i}d"
      (i.toLong, if (i % 5 == 0) s"$uniq $hot" else uniq)
    }.toDF("doc_id", "text")
    // brute-force truth
    def grams(s: String): Set[String] =
      s.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = (0 until n).map { i =>
      val uniq = s"u${i}a u${i}b u${i}c u${i}d"
      i.toLong -> grams(if (i % 5 == 0) s"$uniq $hot" else uniq)
    }
    val expected = (for {
      (ia, ga) <- sets; (ib, gb) <- sets if ia < ib
      inter = (ga & gb).size if inter > 0
      jac = inter.toDouble / (ga.size + gb.size - inter)
      if jac >= 0.1
    } yield (ia, ib)).toSet
    assert(expected.size == 80 * 79 / 2, "fixture sanity: every hot pair qualifies")
    // AQE skew-join cannot split this join (the df window sits between the
    // shuffle and the join — no raw shuffle read to slice), so the engine
    // salts df-heavy grams instead: triangle-block decomposition on
    // (gram, i, j). Salted run: the hot gram's C(80,2) pairs spread over
    // salts*(salts+1)/2 = 10 join blocks, and the result stays EXACT.
    val salted = TextPipeline.jaccardPairs(docsDf, 0.1, hotDfCap = 16, salts = 4)
    val gotSalted = salted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSalted == expected, "salting changed the pair result")
    // the block ids are real join keys — that IS the skew split: the hot
    // gram now hashes to up to 10 distinct shuffle keys instead of 1. The
    // plan is a static cold/hot union, so there are TWO hash joins: the
    // cold one on [gram] alone (no extra exchange on benign corpora) and
    // the salted one on [gram, i, j] that the hot rows route through.
    val plan = salted.queryExecution.executedPlan.toString
    // (executedPlan.toString under AQE prints Final + Initial sections, so
    // each join line can appear twice — assert on presence, not count)
    val joinLines = plan.linesIterator.filter(_.contains("ShuffledHashJoin")).toSeq
    assert(joinLines.exists(l =>
        l.contains("gram") && l.contains("i#") && l.contains("j#")),
      s"expected a salted (gram, i, j) join key, got: ${joinLines.mkString("\n")}")
    assert(joinLines.exists(l =>
        l.contains("gram") && !l.contains("i#") && !l.contains("j#")),
      s"expected an unsalted cold join on [gram], got: ${joinLines.mkString("\n")}")
    // default cap (benign corpus): identical result through the salt-0 path
    val gotDefault = TextPipeline.jaccardPairs(docsDf, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotDefault == expected)
    // gated batch form, hot path: the hot gram (df=80 > cap=16) trips the
    // pinned-index df probe, so the full cold/hot union is built over the
    // checkpointed index — values must stay EXACT
    val gotGatedHot = TextPipeline.jaccardPairsGated(docsDf, 0.1, hotDfCap = 16, salts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotGatedHot == expected, "gated hot-merge path changed the pair result")
    // gated benign path (default cap): the salted branch is never BUILT —
    // only the unsalted cold join over the pinned index runs. Assert on the
    // PRE-materialization plan (the public form checkpoints the result, so
    // its executed plan is just the LogicalRDD leaf).
    val (gatedBenign, _) = TextPipeline.jaccardPairsGatedPlan(docsDf, 0.1, 1 << 12, 16)
    assert(gatedBenign.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    val benignJoins = gatedBenign.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ShuffledHashJoin")).toSeq
    assert(benignJoins.nonEmpty && benignJoins.forall(l => !l.contains("i#")),
      s"benign gated plan must contain only the unsalted cold join, got: ${benignJoins.mkString("\n")}")
    // public gated form: same values, and the pinned index blocks are FREED
    // after the call (r11 verdict: long-lived servers must not accumulate
    // checkpoint blocks)
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
    val gotGatedBenign = TextPipeline.jaccardPairsGated(docsDf, 0.1, 1 << 12, 16)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- beforeIds
    assert(gotGatedBenign.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    // exactly one new pinned RDD may remain: the result checkpoint itself
    assert(leaked.size <= 1,
      s"gated form leaked pinned RDDs beyond its result checkpoint: $leaked")
  }

  test("MinHash LSH candidates are a superset of true Jaccard pairs") {
    Tables.ensure(spark, dir)
    val docs = spark.table("documents")
    val truePairs = TextPipeline.jaccardPairs(docs, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candidates = TextPipeline.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.nonEmpty, "fixture should contain near-duplicates")
    val recall = truePairs.intersect(candidates).size.toDouble / truePairs.size
    assert(recall >= 0.9, s"LSH recall $recall too low; missed ${truePairs -- candidates}")
  }

  test("groupedPairs emits exactly the group self-join's strictly-ordered pairs") {
    // r18: bandPairs/cleanCorpus generate within-group pairs via a sorted
    // collect_list + chained generators. Constructed groups of size 1-4
    // (singletons must vanish; members repeat across groups) against the
    // reference self-join x.m < y.m within each group.
    import spark.implicits._
    val rows = Seq(
      ("g1", 3L), ("g1", 1L), ("g1", 2L),
      ("g2", 7L),
      ("g3", 2L), ("g3", 9L),
      ("g4", 4L), ("g4", 1L), ("g4", 9L), ("g4", 2L)).toDF("grp", "m")
    val got = TextPipeline.groupedPairs(rows, Seq("grp"), col("m"))
      .withColumn("grp", lit("x")) // groupCols are not in the output; pairs only
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val ref = rows.as("x").join(rows.as("y"),
        col("x.grp") === col("y.grp") && col("x.m") < col("y.m"))
      .select(col("x.m").as("a"), col("y.m").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == ref, s"got $got, reference $ref")
    // every emitted pair is strictly ordered
    assert(got.forall { case (a, b) => a < b })
  }

  test("groupedPairs never pairs members whose group key is NULL") {
    // The reference self-join's x.grp = y.grp is never true for NULL, so
    // NULL-keyed rows must not form a group (a bare groupBy would pair them).
    import spark.implicits._
    val rows = Seq[(Option[String], Option[Int], Long)](
      (Some("g1"), Some(1), 1L), (Some("g1"), Some(1), 2L),
      (None, Some(1), 3L), (None, Some(1), 4L), (None, Some(1), 5L),
      (Some("g2"), None, 6L), (Some("g2"), None, 7L),
      (Some("g3"), Some(2), 8L)).toDF("grp", "band", "m")
    val got = TextPipeline.groupedPairs(rows, Seq("grp", "band"), col("m"))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val ref = rows.as("x").join(rows.as("y"),
        col("x.grp") === col("y.grp") && col("x.band") === col("y.band") &&
          col("x.m") < col("y.m"))
      .select(col("x.m").as("a"), col("y.m").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(ref == Seq((1L, 2L)))
    assert(got == ref, s"got $got, reference $ref")
  }

  test("banded pair generation equals the reference bucket self-join exactly") {
    // r18: bandPairs generates within-bucket pairs from a sorted
    // collect_list via chained generators instead of a bucket self-join.
    // Pin the equivalence against an independent reference: the same
    // trigram -> 16-min signature -> band-bucket rows (rebuilt here from
    // the public hash pieces), paired by the r15-r17 self-join shape.
    import TextPipeline.MinHashParams._
    Tables.ensure(spark, dir)
    val docs = spark.table("documents")
    val P0 = TextPipeline.MinHashParams.P
    val ws = graft.functions.TextFunctions.tokens(col("text"))
    val grams = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), ws.as("w0"),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))).as("s1"),
        slice(ws, lit(3), greatest(size(ws) - 2, lit(0))).as("s2"))
      .select(col("doc_id"), explode(arrays_zip(col("w0"), col("s1"), col("s2"))).as("t"))
      .filter(col("t.s2").isNotNull)
      .select(col("doc_id"),
        (TextPipeline.md5Hash60(concat_ws(" ", col("t.w0"), col("t.s1"), col("t.s2")))
          % P0).as("hm"))
      .distinct()
    val sigCols = (0 until numHashes).map(j =>
      min((lit(A(j)) * col("hm") + lit(B(j))) % P0).as(s"m$j"))
    val sig = grams.groupBy("doc_id").agg(sigCols.head, sigCols.drop(1): _*)
    val bandCols = (0 until bands).map(b =>
      (col(s"m${2 * b}") * P0 + col(s"m${2 * b + 1}")).as(s"band$b"))
    val buckets = sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), posexplode(
        array((0 until bands).map(b => col(s"band$b")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val reference = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = TextPipeline.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reference.nonEmpty, "fixture should produce candidate pairs")
    assert(got == reference,
      s"pair sets diverge: only-new=${got -- reference} only-ref=${reference -- got}")
  }

  test("trailing-window actives (wau/stickiness) equi-join the day spine — no nested-loop") {
    // r9 verdict #2: the BETWEEN interval join planned as a
    // BroadcastNestedLoopJoin — O(activity x days) predicate evaluations.
    // The bounded-explode reshape must plan as a hash equi-join on the
    // anchor day (bounded 7x/30x row expansion instead of a spine scan
    // per activity row).
    Tables.ensure(spark, dir)
    for (name <- Seq("events_wau", "events_stickiness")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name still plans a nested-loop interval join:\n$plan")
      assert(plan.contains("Generate explode"), s"$name lost the bounded explode")
    }
  }

  test("no fact table is ever a broadcast build in the TPC-H join family") {
    // Round-7 regression guard: the planner used to broadcast full or
    // lightly-filtered LINEITEM scans (a 300-600k-row single-threaded
    // driver hash build per execution). The fixed shapes keep the big fact
    // on shuffle/stream sides everywhere; dimension scans, HAVING-shrunk
    // aggregates, and planner-chosen under-threshold orders builds (which
    // self-revert to shuffle once orders outgrows the threshold) remain
    // legal.
    Tables.ensure(spark, dir)
    val factFiles = Seq("lineitem.parquet")
    for (name <- Seq("join_inner_h03", "tpch_h05", "tpch_h09", "tpch_h18",
        "join_self_nation", "join_left_hist")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize AQE so the executed plan is the real one
      val plan = df.queryExecution.executedPlan
      def offenders(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
        (p +: p.subqueries.flatMap(sub => Seq(sub))).flatMap(_.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
            b.child.collect {
              case f: org.apache.spark.sql.execution.FileSourceScanExec
                  // An aggregate between the scan and the build shrinks the
                  // relation to its key count — allowed.
                  if factFiles.exists(f.relation.location.rootPaths.mkString.contains) &&
                    !b.child.exists(_.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]) =>
                f.relation.location.rootPaths.mkString
            }
        }.flatten)
      val bad = offenders(plan)
      assert(bad.isEmpty, s"$name broadcasts a fact scan: $bad")
    }
  }

  test("PQ/ADC coarse search recalls the exact cosine top-10") {
    // The quantized coarse pass may rank approximately, but after the exact
    // re-rank the returned set should recover most of the true top-10
    // (probed 1.0 at m=8, k=32, 64 candidates on the sf0.01 fixture; the
    // bar here leaves room for fixture regeneration).
    val exact = SparkEntry.queries("embed_cosine_topk")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val pq = SparkEntry.queries("embed_pq_rerank")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall@10 $recall; missed ${exact -- pq}")
  }

  test("SimHash: near-duplicate pairs have small hamming distance") {
    Tables.ensure(spark, dir)
    val docs = spark.table("documents")
    val sh = TextPipeline.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearDups = TextPipeline.jaccardPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearDups.nonEmpty)
    val hd = nearDups.map { case (a, b) => java.lang.Long.bitCount(sh(a) ^ sh(b)) }
    assert(hd.max <= 16, s"hamming distances of near-dups too large: ${hd.toSeq}")
  }

  test("8 concurrent mixed operators complete with zero failures") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Tables.ensure(spark, dir)
    // tpch_h05 not h07: the h07 nation-pair filter is legitimately empty at
    // the harness's sf0.001.
    val names = Seq("agg_h01", "join_inner_h03", "dedup_simhash", "tpch_h05",
      "win_frames", "embed_cosine_topk", "fn_datetime3", "set_union_byname")
    val queries = SparkEntry.queries
    val counts = Await.result(
      Future.sequence(names.map(n => Future(n -> queries(n)(spark, dir).count()))),
      5.minutes)
    assert(counts.forall(_._2 > 0), s"all ops should return rows: $counts")
  }

  test("md5Hash60 matches a reference MessageDigest implementation") {
    import spark.implicits._
    val vals = Seq("hello world", "", "a b c", "NATION_7", "日本語 text")
    val got = vals.toDF("s").select(TextPipeline.md5Hash60(col("s"))).as[Long].collect()
    val exp = vals.map { s =>
      val hex = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    assert(got.toSeq == exp)
  }

  test("hash sampling partitions the table into disjoint exhaustive classes") {
    Tables.ensure(spark, dir)
    val orders = spark.table("orders")
    val total = orders.count()
    val cls = TextPipeline.md5Hash60(col("o_orderkey").cast("string")) % 20
    val counts = orders.groupBy(cls.as("c")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keys.forall(k => k >= 0 && k < 20))
    assert(counts.values.sum == total)
    val fair = total.toDouble / 20
    assert(counts.values.forall(v => v > fair / 3 && v < fair * 3),
      s"sampling classes should be roughly uniform: $counts")
  }

  test("approx_count_distinct is within 5% of exact") {
    Tables.ensure(spark, dir)
    val li = spark.table("lineitem")
    val exact = li.select(countDistinct(col("l_suppkey"))).collect().head.getLong(0)
    val approx = li.select(approx_count_distinct(col("l_suppkey"))).collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05)
  }

  test("IVF search returns vectors from the probe cluster, ranked by cosine") {
    Tables.ensure(spark, dir)
    val e = spark.table("embeddings")
    val query = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).first().getSeq[Double](0)
    val res = Embeddings.ivfSearch(e.filter(col("vec_id") =!= 0), e.filter(col("vec_id") < 8), query, 5)
      .collect()
    assert(res.length == 5)
    val scores = res.map(_.getAs[Double]("cos"))
    assert(scores.sameElements(scores.sortBy(-_.asInstanceOf[Double])))
  }

  test("MMR rerank: first pick is the relevance argmax, and picks diversify") {
    Tables.ensure(spark, dir)
    val res = SparkEntry.queries("embed_mmr_rerank")(spark, dir).collect()
    assert(res.length == 10)
    assert(res.map(_.getAs[Int]("rank")).toSeq == (1 to 10))
    // greedy invariant: rank 1 is the plain cosine argmax
    val top1 = SparkEntry.queries("embed_cosine_topk")(spark, dir)
      .collect().head.getAs[Long]("vec_id")
    assert(res.head.getAs[Long]("vec_id") == top1)
    // diversity: the MMR set's mean pairwise cosine is strictly below the
    // plain top-10's (the whole point of the λ-mix)
    def meanPairSim(ids: Set[Long]): Double = {
      val vs = spark.table("embeddings").filter(col("vec_id").isin(ids.toSeq: _*))
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      val sims = for (i <- vs.indices; j <- vs.indices if i < j) yield {
        def d(a: Array[Double], b: Array[Double]) = a.zip(b).map(p => p._1 * p._2).sum
        d(vs(i), vs(j)) / (math.sqrt(d(vs(i), vs(i))) * math.sqrt(d(vs(j), vs(j))))
      }
      sims.sum / sims.size
    }
    val mmrIds = res.map(_.getAs[Long]("vec_id")).toSet
    val topIds = SparkEntry.queries("embed_cosine_topk")(spark, dir)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(meanPairSim(mmrIds) < meanPairSim(topIds))
  }

  test("k-center greedy matches driver-side brute force and covers the corpus") {
    Tables.ensure(spark, dir)
    val e = spark.table("embeddings")
    val picks = Embeddings.kCenterGreedy(e, seedId = 0L, k = 6)
    assert(picks.map(_._1) == (1 to 6) && picks.head._2 == 0L)
    // brute-force replay of the same greedy recursion on collected vectors
    val vs = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d(a: Array[Double], b: Array[Double]) = {
      def dot(x: Array[Double], y: Array[Double]) = x.zip(y).map(p => p._1 * p._2).sum
      BigDecimal(1 - dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    var sel = Vector(0L)
    while (sel.size < 6) {
      val next = vs.keys.filterNot(sel.contains).minBy { id =>
        (-sel.map(s => d(vs(id), vs(s))).min, id)
      }
      sel = sel :+ next
    }
    assert(picks.map(_._2) == sel, s"greedy mismatch: ${picks.map(_._2)} vs $sel")
  }

  test("codegen cosine/dot expressions match the composable formulation bit-for-bit") {
    import graft.functions.VectorFunctions._
    Tables.ensure(spark, dir)
    val e = spark.table("embeddings").select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val pairs = e.filter(col("vec_id") < 40).as("a")
      .crossJoin(e.filter(col("vec_id") < 40).as("b"))
      .select(
        cosine(col("a.v"), col("b.v")).as("native"),
        cosineComposable(col("a.v"), col("b.v")).as("composable"),
        dot(col("a.v"), col("b.v")).as("ndot"),
        dotComposable(col("a.v"), col("b.v")).as("cdot"))
    val rows = pairs.collect()
    assert(rows.length == 1600)
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)), "cosine mismatch")
    assert(rows.forall(r => r.getDouble(2) == r.getDouble(3)), "dot mismatch")
  }

  test("graft_cosine is callable from SQL (SparkSessionExtensions registration)") {
    val r = spark.sql("SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 1.0d)) AS c").collect().head
    assert(math.abs(r.getDouble(0) - 1.0 / math.sqrt(2)) < 1e-15)
  }

  test("funnel matches the relational form's NULL-user semantics: stage 1 yes, stages 2-3 no") {
    import spark.implicits._
    // Confirmed against DuckDB on the oracle SQL: a NULL user's signup
    // counts (GROUP BY keeps the NULL group) but its click/purchase never
    // join through (NULL never equals NULL).
    val e = Seq(
      (Option.empty[Long], "signup", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (Option.empty[Long], "click", java.sql.Timestamp.valueOf("2024-01-01 01:00:00")),
      (Option.empty[Long], "purchase", java.sql.Timestamp.valueOf("2024-01-01 02:00:00")),
      (Some(7L), "signup", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (Some(7L), "click", java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
      .toDF("user_id", "event_type", "ts")
    val out = Events.funnel(e).collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(out.toSeq === Seq((1, 2L), (2, 1L), (3, 0L)))
  }

  test("sq8 quantization: absmax scaling, half-away-from-zero rounding, zero vector") {
    // -0.5/1.0*127 = -63.5 exactly (no FP noise): away-from-zero gives -64;
    // Math.round-style half-up would give -63.
    val rows = spark.sql(
      "SELECT graft_sq8(array(1.0d, -0.5d)) AS a, graft_sq8(array(0.0d, 0.0d)) AS z, " +
      "graft_sq8(array(-2.0d)) AS n").collect().head
    assert(rows.getSeq[Int](0) === Seq(127, -64))
    assert(rows.getSeq[Int](1) === Seq(0, 0))
    assert(rows.getSeq[Int](2) === Seq(-127))
  }

  test("sq8 codegen matches the interpreted eval on fixture embeddings") {
    import graft.functions.VectorFunctions._
    Tables.ensure(spark, dir)
    def run(): Seq[Seq[Int]] = spark.table("embeddings").filter(col("vec_id") < 50)
      .orderBy("vec_id").select(sq8(asDouble(col("embedding"))).as("c"))
      .collect().toSeq.map(_.getSeq[Int](0))
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(gen.nonEmpty && gen === interp)
  }

  test("null element nulls sq8/lsh_buckets/cosine/dot under codegen AND interpreted") {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    // containsNull=true input: the gated null scan must run and null the
    // whole result; the clean row must still compute through the same path.
    val df = Seq(
      (1L, Seq(Option(1.0), Option.empty[Double])),
      (2L, Seq(Option(1.0), Option(2.0)))).toDF("id", "v")
    def run(): Seq[(Boolean, Boolean, Boolean, Boolean)] = df
      .select(col("id"), sq8(col("v")).as("s"), lshBuckets(col("v"), 8, 16).as("b"),
        cosine(col("v"), col("v")).as("c"), dot(col("v"), col("v")).as("d"))
      .orderBy("id").collect().toSeq
      .map(r => (r.isNullAt(1), r.isNullAt(2), r.isNullAt(3), r.isNullAt(4)))
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(gen === Seq((true, true, true, true), (false, false, false, false)))
    assert(interp === gen)
  }

  test("hyperplane-LSH auto shape: pinned floor, log2 growth, cost cap") {
    import graft.plans.HyperplaneLsh.autoShape
    assert(autoShape(1) == (8, 16) && autoShape(64) == (8, 16),
      "tiny corpora keep the pinned fixture shape")
    assert(autoShape(20000) == (17, 34),
      "bits ~ log2(n)+2 with bands = 2x bits at the 10x-fixture scale")
    assert(autoShape(Long.MaxValue / 2)._1 == 24, "bit width is cost-capped")
    val shapes = Seq(1L, 1000L, 100000L, 10000000L).map(autoShape)
    assert(shapes == shapes.sortBy(_._1), "bits grow monotonically with n")
  }

  test("exact dedup keeps one representative per distinct text") {
    Tables.ensure(spark, dir)
    val docs = spark.table("documents")
    val distinctTexts = docs.select("text").distinct().count()
    val kept = SparkEntry.queries("dedup_exact")(spark, dir).count()
    assert(kept == distinctTexts)
  }

  test("dedup clusters: transitive chains collapse to one representative") {
    import spark.implicits._
    // A~B and B~C at jaccard >= 0.5, but A~C only 0.33 — a greedy pairwise
    // drop sees two independent pairs; the component must still be ONE
    // cluster labeled with the minimum doc_id. Doc 9 is isolated.
    val docsDf = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "c d e f g h i j k l"),
      (3L, "e f g h i j k l m n"),
      (9L, "totally different words here entirely"))
      .toDF("doc_id", "text")
    val out = TextPipeline.dedupClusters(docsDf, 0.5)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L)))
  }

  test("keep-best selects exactly one representative per cluster, the longest text") {
    import spark.implicits._
    // Docs 1-3 form one cluster (chained near-dups); doc 2 has the longest
    // text so it is the keeper even though the cluster is labeled rep_id=1.
    // Isolated doc 9 keeps itself.
    val docsDf = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "c d e f g h i j k l extra"),
      (3L, "e f g h i j k l m n"),
      (9L, "totally different words here entirely"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextPipeline.dedupKeepBest(docsDf, 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, 1L, 0), (2L, 1L, 1), (3L, 1L, 0), (9L, 9L, 1)))
    assert(out.groupBy(_._2).values.forall(_.map(_._3).sum == 1))
  }

  test("sequence packing: exclusive prefix-sum chunking per source") {
    import spark.implicits._
    // Budget is 512 tokens. Source s1: 300+300 tokens -> doc 2 starts at
    // cumulative 300 (chunk 0), doc 3 at 600 (chunk 1). A single doc larger
    // than the budget (doc 4, 600 tokens) owns its own chunk and shifts the
    // next doc to the boundary AFTER it. Chunk ids restart per source.
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docsDf = Seq(
      (1L, "s1", words(300)), (2L, "s1", words(300)), (3L, "s1", words(300)),
      (4L, "s2", words(600)), (5L, "s2", words(100)))
      .toDF("doc_id", "source", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "pipeline_pack_sequences").get.run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("boilerplate mining: df counts documents, tf counts occurrences") {
    import spark.implicits._
    // The template trigram "copyright acme corp" appears in 3 docs (df=3),
    // twice in doc 1 (tf=4); "unique words here" appears in only one doc
    // and must be filtered by the df >= 3 gate.
    val docsDf = Seq(
      (1L, "copyright acme corp x copyright acme corp"),
      (2L, "copyright acme corp other text"),
      (3L, "more copyright acme corp"),
      (4L, "unique words here"))
      .toDF("doc_id", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "text_boilerplate").get.run(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(out.head == (("copyright acme corp", 3L, 4L)))
      assert(!out.exists(_._1 == "unique words here"))
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("repetition filter: dup-trigram fraction on constructed documents") {
    import spark.implicits._
    import graft.functions.TextFunctions.dupShingleCounts
    val rows = Seq(
      (1L, "a b c a b c a b c"),      // 7 trigrams, 3 distinct -> 4 dup
      (2L, "all words are different"), // 2 trigrams, both unique
      (3L, "one two"),                // no trigram
      (4L, "x x x x"))                // 2 trigrams, 1 distinct -> 1 dup
      .toDF("doc_id", "text")
    val (nTri, nDup) = dupShingleCounts(col("text"), 3)
    val out = rows.select(col("doc_id"), nTri.as("t"), nDup.as("d"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, 7, 4), (2L, 2, 0), (3L, 0, 0), (4L, 2, 1)))
  }

  test("incremental dedup: exact gate, near gate, and fixed direction") {
    import spark.implicits._
    // Existing corpus = even ids, incoming = odd. Doc 1 is an exact copy of
    // existing doc 2 (exact gate). Doc 3 is a near-dup of doc 2 (one token
    // appended -> jaccard 8/9; near gate). Docs 5 and 7 are identical to
    // EACH OTHER but both incoming — the direction is fixed, so intra-batch
    // dups survive. Doc 9 is unrelated and survives.
    val base = "a b c d e f g h i j"
    val batch = "p q r s t u v w x y"
    val docsDf = Seq(
      (2L, base), (4L, "k l m n o p q r s t"),
      (1L, base), (3L, base + " extra"),
      (5L, batch), (7L, batch),
      (9L, "unrelated words entirely different from everything"))
      .toDF("doc_id", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = TextPipeline.incrementalDedup(spark.table("documents"), 0.5)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(out == Seq(5L, 7L, 9L))
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("train split: bucket is the md5-prefix hash, thresholds are 90/95") {
    import spark.implicits._
    // Expected buckets computed independently of either engine: first 4 hex
    // digits of md5(id) as an int, mod 100. Pins both the hash family and
    // the stable-under-growth membership property (bucket depends only on
    // the id, never on corpus contents or row order).
    def bucket(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      (Integer.parseInt(d.take(2).map("%02x".format(_)).mkString, 16) % 100)
    }
    val docsDf = (0L to 49L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "pipeline_train_split").get.run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      assert(out.length == 50)
      out.foreach { case (id, b, split) =>
        assert(b == bucket(id), s"doc $id bucket")
        val expected = if (b < 90) "train" else if (b < 95) "val" else "test"
        assert(split == expected, s"doc $id split")
      }
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("budget sample: greedy-include stops each stratum at the token budget") {
    import spark.implicits._
    // 10 docs of 200 tokens each in one source: exclusive prefix sums are
    // 0, 200, 400, 600, ... — exactly three docs start under the 600-token
    // budget, whatever the md5 selection order is.
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docsDf = (1L to 10L).map(i => (i, "s1", words(200))).toDF("doc_id", "source", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "pipeline_budget_sample").get.run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
      assert(out.length == 3)
      assert(out.map(_._2).sum == 600)
      assert(out.map(_._3).max == 600L)
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("quality flags: each filter sets its own bit") {
    import spark.implicits._
    val stop20 = (1 to 10).map(_ => "the of").mkString(" ")           // 20 toks, all stopwords
    val nostop = (1 to 25).map(i => s"word$i").mkString(" ")          // 25 toks, no stopwords
    val symbols = "!@# $%^ &*( )_+ []{ }|; ??? !!! ###"               // all non [a-z ]
    val repeat = "the of " + (1 to 10).map(_ => "x y z").mkString(" ") // dup trigrams
    val docsDf = Seq(
      (1L, "the of and in a"),  // 5 tokens, all stopwords: short only -> 1
      (2L, nostop),             // 25 tokens, no stopwords -> 2
      (3L, symbols),            // 9 tokens, no stopwords, all symbols -> 1+2+4
      (4L, repeat),             // 32 toks, stop_ratio 2/32 >= 0.02, dup trigrams -> 8
      (5L, stop20))             // 20 toks all stopwords, "the of the" repeats -> 8
      .toDF("doc_id", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "text_quality_flags").get.run(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(out(1L) == 1)
      assert(out(2L) == 2)
      assert(out(3L) == 7)
      assert(out(4L) == 8)
      assert((out(5L) & 8) == 8) // alternating stopword pairs repeat trigrams
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("tf-idf: corpus-wide terms score zero, rare repeated terms win") {
    import spark.implicits._
    // "common" is in all 3 docs -> idf ln(1) = 0; "rare" appears twice in
    // doc 1 only -> score 2*ln(3) and must rank first for doc 1.
    val docsDf = Seq(
      (1L, "common rare rare alpha"),
      (2L, "common beta gamma delta"),
      (3L, "common epsilon zeta eta"))
      .toDF("doc_id", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "text_tfidf_topk").get.run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val doc1 = out.filter(_._1 == 1L)
      assert(doc1.head._2 == "rare")
      assert(doc1.head._3 == BigDecimal(2 * math.log(3.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(out.filter(_._2 == "common").forall(_._3 == 0.0))
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("semantic dedup: prunes within cells only, keeps the most-central id") {
    import spark.implicits._
    // 8 near-orthogonal "centroid" vectors (ids 0-7) plus two near-copies of
    // vector 3's direction (ids 10, 11). Cell 3 = {3, 10, 11}: both copies
    // are removed with kept_id 3 (the min id among their in-cell neighbors).
    // Vectors in other cells have no >= 0.4 neighbor and survive.
    def unit(i: Int): Array[Float] = {
      val v = new Array[Float](8); v(i) = 1.0f; v
    }
    def near3(eps: Float): Array[Float] = {
      val v = new Array[Float](8); v(3) = 1.0f; v(0) = eps; v
    }
    val rows = (0 to 7).map(i => (i.toLong, unit(i), 0)) ++
      Seq((10L, near3(0.1f), 0), (11L, near3(0.2f), 0))
    val embDf = rows.toDF("vec_id", "embedding", "label")
    embDf.createOrReplaceTempView("embeddings")
    try {
      val out = SparkEntry.allOps.find(_.name == "dedup_semantic").get.run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.toSeq == Seq((3L, 10L, 3L), (3L, 11L, 3L)))
    } finally {
      spark.read.parquet(s"$dir/embeddings.parquet").createOrReplaceTempView("embeddings")
    }
  }

  test("semanticDedup library default derives k~sqrt(n) centroids (auto == explicit sampling)") {
    // VERDICT r10 #3: the k~sqrt(n) rule lived only in ScaleCheck while the
    // op pinned 8 centroids — the library entry now derives k itself. The
    // auto path must equal an explicit call with the same even sampling,
    // and must be a strict sample (step > 1) on the fixture.
    graft.Tables.ensure(spark, dir)
    val e = spark.table("embeddings")
    val n = e.count()
    val step = math.max(1L, n / math.max(8L, math.sqrt(n.toDouble).toLong))
    assert(step > 1, s"fixture too small for a strict auto-k sample (n=$n)")
    val auto = Embeddings.semanticDedup(e, 0.4)
      .orderBy("removed_id").collect().toSeq
    val explicitCent = Embeddings.semanticDedup(e,
      e.filter(pmod(col("vec_id"), lit(step)) === 0), 0.4)
      .orderBy("removed_id").collect().toSeq
    assert(auto == explicitCent)
  }

  test("source overlap: shared trigrams count once per source pair") {
    import spark.implicits._
    // Sources A and B share exactly the trigram "x y z" (A has it in two
    // docs — distinct per source, so inter = 1). A: 4 distinct grams,
    // B: 5 -> jaccard 1/8. C shares nothing, so its pairs are absent.
    val docsDf = Seq(
      (1L, "A", "x y z w"),     // grams: xyz, yzw
      (2L, "A", "x y z q r"),   // grams: xyz, yzq, zqr
      (3L, "B", "p x y z"),     // grams: pxy, xyz
      (4L, "B", "m n o p q"),   // grams: mno, nop, opq  (B total 5 w/ doc3... )
      (5L, "C", "a b c d"))
      .toDF("doc_id", "source", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "corpus_source_overlap").get.run(spark, dir)
        .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
      // A grams: {xyz, yzw, yzq, zqr} (4); B grams: {pxy, xyz, mno, nop, opq} (5)
      assert(out(("A", "B")) == ((1L, BigDecimal(1.0 / 8)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      assert(!out.contains(("A", "C")) && !out.contains(("B", "C")))
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("dedup funnel: stage counts drop at the stage that removes each doc") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the sun sets behind " +
      "distant hills and the river flows quietly toward the sea"
    val docsDf = Seq(
      (1L, "A", s"$base tonight"),            // survives every stage
      (2L, "A", s"$base tonight"),            // exact copy -> dropped at exact
      (3L, "A", s"$base today"),              // 1 gram differs -> near-dup, dropped last
      (4L, "A", "too short"),                 // fails the quality gate
      (5L, "B", "a calm morning breeze drifts across the open field as birds gather " +
        "near a quiet pond and light spreads slowly over the meadow grass"))
      .toDF("doc_id", "source", "text")
    // Register the fixture dir FIRST: Tables.ensure is per-(session, dir)
    // idempotent, so ensuring before the override keeps the op's own
    // ensure() call from re-registering the real table over the test view
    // (matters when this test runs alone).
    graft.Tables.ensure(spark, dir)
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "corpus_dedup_funnel").get.run(spark, dir)
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(out === Map("A" -> ((4L, 3L, 2L, 1L)), "B" -> ((1L, 1L, 1L, 1L))))
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }

  test("substring mining: only cross-document 10-token spans survive the df>=2 gate") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")   // one shared 10-token span
    val rep = (1 to 10).map(i => s"p$i").mkString(" ")      // repeats within ONE doc only
    val docsDf = Seq(
      (1L, "A", s"x $shared y"),     // span at offset 2 of 12 tokens
      (2L, "A", s"$shared z q r"),   // span at offset 1 of 13 tokens
      (3L, "B", s"$rep $rep"),       // same span twice, df=1 -> excluded
      (4L, "B", "too short here"))   // < 10 tokens -> no windows
      .toDF("doc_id", "source", "text")
    docsDf.createOrReplaceTempView("documents")
    try {
      val out = SparkEntry.allOps.find(_.name == "dedup_substring").get.run(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(shared.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(out.toSeq === Seq((md5, 2L, 2L, 1L, 2L)))
    } finally {
      spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    }
  }
}
