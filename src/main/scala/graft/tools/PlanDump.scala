package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import java.nio.file.{Files, Paths}

/** Plan artifacts: run each named query once (so AQE plans are final) and
  * write its `explain("formatted")` to `<outDir>/<query>_<suffix>.txt`.
  * `plans/r18/` holds the round-18 dumps (27 headline queries before, the
  * 7 changed ones after).
  *
  * Run: sbt "runMain graft.tools.PlanDump <outDir> <suffix> q1 [q2 ...]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> q1 [q2 ...]")
    val out = Paths.get(args(0))
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.ensure(spark, sfDir)
    Files.createDirectories(out)
    val queries = SparkEntry.queries
    args.drop(2).foreach { name =>
      try {
        val df = queries(name)(spark, sfDir)
        df.collect()
        val text = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(out.resolve(s"${name}_$suffix.txt"), text)
        println(s"[plandump] wrote ${name}_$suffix.txt")
      } catch { case e: Exception =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
