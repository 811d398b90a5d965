package graft.tools

/** Driver-contract smoke: `SparkEntry.entry` must return at least one row.
  *
  * Run: sbt "runMain graft.tools.EntrySmoke"
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows: $n")
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
