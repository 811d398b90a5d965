package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestHarness, Tables}
import java.nio.file.Files

/** The sf-N generator at 2 copies of the test fixture: facts double, keys
  * stay distinct across copies, dimensions are copied as they are, and
  * document stopwords survive the per-copy token salt.
  */
class ScaleFixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private lazy val out = {
    val dir = Files.createTempDirectory("graft-scale-fixture").toString
    ScaleFixture.generate(spark, SparkTestHarness.sfDir, 2, dir)
    dir
  }
  private def src(t: String) = { Tables.ensure(spark, SparkTestHarness.sfDir); spark.table(t) }
  private def scaled(t: String) = spark.read.parquet(s"$out/$t.parquet")

  test("every fact table has exactly twice the rows") {
    ScaleFixture.keyShifts.keys.foreach { t =>
      assert(scaled(t).count() == 2 * src(t).count(), t)
    }
  }

  test("each re-keyed key column has twice the distinct values") {
    ScaleFixture.keyShifts.foreach { case (t, shifts) =>
      shifts.keys.foreach { k =>
        assert(scaled(t).select(k).distinct().count() ==
          2 * src(t).select(k).distinct().count(), s"$t.$k")
      }
    }
  }

  test("nation and region are unchanged") {
    Seq("nation", "region").foreach { t =>
      val order = src(t).columns.map(col)
      assert(scaled(t).orderBy(order: _*).collect().toSeq ==
        src(t).orderBy(order: _*).collect().toSeq, t)
    }
  }

  test("document stopwords survive unsalted; other tokens are salted per copy") {
    def tokens(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(col("text"), " ")).as("tok")).groupBy("tok").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = tokens(src("documents"))
    val after = tokens(scaled("documents"))
    val present = ScaleFixture.stopwords.filter(before.contains)
    assert(present.nonEmpty, "fixture text has no stopwords to check")
    present.foreach { w =>
      assert(after.get(w).contains(2 * before(w)), w)
      assert(!after.contains(s"${w}c0") && !after.contains(s"${w}c1"), s"$w was salted")
    }
    val word = before.keys.find(w => w.nonEmpty && !ScaleFixture.stopwords.contains(w)).get
    assert(!after.contains(word), s"$word left unsalted")
    assert(after.get(s"${word}c0").contains(before(word)) &&
      after.get(s"${word}c1").contains(before(word)), word)
  }
}
