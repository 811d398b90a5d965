package org.apache.spark.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The executor-side Arrow encoder allocates from Spark's shared
  * `ArrowUtils.rootAllocator` (package-private, hence this package): a
  * failed, cancelled or timed-out export must hand every buffer back.
  */
class GraftDatasetShimSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestHarness.spark

  test("an Arrow export whose task fails mid-partition releases its buffers") {
    val df = spark.range(0, 10000, 1, 1).select(
      when(col("id") === 5000, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    val before = util.ArrowUtils.rootAllocator.getAllocatedMemory
    val e = intercept[Exception](graft.sources.ArrowIO.toArrowStream(df, batchSize = 512))
    assert(e.getMessage.contains("boom"))
    assert(util.ArrowUtils.rootAllocator.getAllocatedMemory == before)
  }
}
