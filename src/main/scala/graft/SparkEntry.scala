package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed here as a named
  * query; `oracleSql` carries the DuckDB-equivalent SQL for the driver's
  * value-level differential check (column aliases match exactly — the
  * comparator sorts columns by name before hashing).
  */
object SparkEntry {

  /** The full operator registry, one `Op` per SURVEY §2 inventory row. */
  val allOps: Seq[Op] =
    Relational.ops ++ Aggregates.ops ++ Windows.ops ++ SetsSortsCtes.ops ++
      ScalarFns.ops ++ TpchSuite.ops ++ SourceOps.ops ++ ExtensibilityOps.ops ++
      TextPipeline.ops ++ TextGovernance.ops ++ Embeddings.ops ++ Events.ops ++
      TemporalJoins.ops ++ CoverageOps.ops ++ CorpusPrep.ops ++ Maintenance.ops ++
      Skyline.ops ++ SpatialOps.ops ++ SpatialJoin.ops

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H h03 shape: broadcast + shuffle join, aggregate, top-k.
    */
  def entry(spark: SparkSession): DataFrame = {
    val byName = allOps.map(op => op.name -> op).toMap
    byName("join_inner_h03").run(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Pure operators
    * route through the engine's prepared-plan cache ([[graft.engine
    * .PlanCache]]): a repeated (operator, data dir) pair reuses its analyzed
    * plan instead of re-paying parse+analysis per call, exactly like a
    * re-executed prepared statement on the wire path. Side-effecting
    * operators (`Op.effectful`) rebuild every call.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allOps.map { op =>
      val run: (SparkSession, String) => DataFrame =
        if (op.cacheable)
          (s, d) => graft.engine.PlanCache.get(s, s"op:${op.name}:$d")(op.run(s, d))
        else op.run
      op.name -> run
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allOps.flatMap(op => op.oracle.map(op.name -> _)).toMap

  /** COUNT(*)-action per operator through the plan cache's repeated-action
    * path ([[graft.engine.PlanCache.count]]): each call executes the FULL
    * query on a fresh physical plan (fresh shuffle dependencies — no work
    * reuse across calls) but skips per-call re-optimization and, for plans
    * over small file-scan inputs, the adaptive stage rounds. This is the
    * latency profile a repeated prepared statement gets on the server wire
    * path; the bench times it. Side-effecting operators fall back to a
    * plain rebuild + count.
    */
  def countQueries: Map[String, (SparkSession, String) => Long] =
    allOps.map { op =>
      val f: (SparkSession, String) => Long =
        if (op.cacheable)
          (s, d) => graft.engine.PlanCache.count(s, s"op:${op.name}:$d")(op.run(s, d))
        else (s, d) => op.run(s, d).count()
      op.name -> f
    }.toMap
}
