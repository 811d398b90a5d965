package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** sf-N fixture generator: the fixture in `srcDir` replicated `copies` times
  * as real parquet files in `outDir`, re-keyed per copy the ScaleCheck way.
  * Facts get shifted keys; document text is token-salted per copy so
  * intra-copy similarity is preserved exactly while copies stay pairwise
  * disjoint (near-dup pairs scale linearly like a real crawl); embedding
  * copies get a hash-chosen sign-flip pattern so cross-copy cosine ~ 0;
  * `nation` and `region` are copied unchanged. Materialized to parquet, not
  * ScaleCheck's cross-join views, so scans, pushdown and the PlanCache
  * input-size probe see a real on-disk dataset.
  *
  * sf0.1 × 10 is the ~sf1 dataset of the round-18 core-count check
  * (`tools/scale_c8_vs_c32_sf1.json`, OPTIMIZATION_r18.md).
  *
  * Run: sbt "runMain graft.tools.ScaleFixture <srcDir> <outDir> [copies]"
  * (copies defaults to 10).
  */
object ScaleFixture {
  /** Stopwords left unsalted, so the stopword-ratio quality gate still
    * passes on scaled docs (salting "the" into "thec3" made
    * pipeline_clean_corpus run over an empty corpus).
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")

  /** Per-table key columns shifted by `copy * shift`. */
  val keyShifts: Map[String, Map[String, Long]] = {
    val K = 100000000L
    Map(
      "lineitem" -> Map("l_orderkey" -> K, "l_partkey" -> K, "l_suppkey" -> K),
      "orders" -> Map("o_orderkey" -> K, "o_custkey" -> K),
      "customer" -> Map("c_custkey" -> K),
      "supplier" -> Map("s_suppkey" -> K),
      "part" -> Map("p_partkey" -> K),
      "documents" -> Map("doc_id" -> 1000000L),
      "events" -> Map("event_id" -> K, "user_id" -> K),
      "embeddings" -> Map("vec_id" -> 1000000L))
  }

  /** Write the scaled fixture. Registers `srcDir`'s tables in `spark` and
    * leaves the session running.
    */
  def generate(spark: SparkSession, srcDir: String, copies: Int, outDir: String): Unit = {
    Tables.ensure(spark, srcDir)
    val cps = spark.range(copies).select(col("id").as("copy"))
    val extra: Map[String, DataFrame => DataFrame] = Map(
      // Unsalted stopwords create a few cross-copy shared trigrams (3
      // consecutive stopwords), bounded and rare: near-dup pairs still
      // scale linearly.
      "documents" -> (_.withColumn("text",
        array_join(transform(split(col("text"), " "),
          x => when(x.isin(stopwords: _*), x)
            .otherwise(concat(x, lit("c"), col("copy")))), " "))),
      "embeddings" -> (_.withColumn("embedding",
        expr("transform(embedding, (x, i) -> x * (1 - 2 * cast(abs(hash(copy, i)) % 2 as int)))"))))
    keyShifts.foreach { case (table, shifts) =>
      val big = spark.table(table).crossJoin(cps)
      val rekeyed = shifts.foldLeft(big) { case (df, (k, shift)) =>
        df.withColumn(k, col(k) + col("copy") * shift)
      }
      extra.getOrElse(table, identity[DataFrame] _)(rekeyed).drop("copy").repartition(16)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    for (t <- Seq("nation", "region"))
      spark.table(t).repartition(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleFixture <srcDir> <outDir> [copies]")
    val copies = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try generate(spark, args(0), copies, args(1))
    finally spark.stop()
    println(s"[scalefixture] generated ${args(1)} at ${copies}x")
  }
}
