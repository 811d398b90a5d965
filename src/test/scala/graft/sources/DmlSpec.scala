package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Copy-on-write row-level DML: affected counts, partition-scoped rewrites,
  * the empty-partition delete fallback, and merge action semantics.
  */
class DmlSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession.local()

  private def freshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  private def dataFiles(table: String): Map[String, Long] = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == "Location").get.getString(1).stripPrefix("file:")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(loc)).map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("UPDATE returns the affected count and rewrites matching rows only") {
    import spark.implicits._
    freshTable("dml_u1")
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0))
      .toDF("id", "grp", "v").write.saveAsTable("dml_u1")
    val affected = RowDml.execute(spark,
      "UPDATE dml_u1 SET v = v * 2 WHERE grp = 'a'").collect().head.getLong(0)
    assert(affected == 2)
    val rows = spark.table("dml_u1").orderBy("id").select("v").as[Double].collect().toSeq
    assert(rows == Seq(20.0, 20.0, 60.0))
  }

  test("DELETE keeps non-matching rows (NULL condition keeps the row)") {
    import spark.implicits._
    freshTable("dml_d1")
    Seq((1, Some(5)), (2, None), (3, Some(-1)))
      .toDF("id", "v").write.saveAsTable("dml_d1")
    val affected = RowDml.execute(spark,
      "DELETE FROM dml_d1 WHERE v < 0").collect().head.getLong(0)
    assert(affected == 1)
    assert(spark.table("dml_d1").select("id").as[Int].collect().toSet == Set(1, 2))
  }

  test("partition-scoped UPDATE leaves untouched partitions' files alone") {
    import spark.implicits._
    freshTable("dml_p1")
    Seq((1, "p0", 1.0), (2, "p0", 2.0), (3, "p1", 3.0), (4, "p2", 4.0))
      .toDF("id", "part", "v").write.partitionBy("part").saveAsTable("dml_p1")
    val before = dataFiles("dml_p1")
    Thread.sleep(1100) // mtime granularity
    val affected = RowDml.execute(spark,
      "UPDATE dml_p1 SET v = 0 WHERE part = 'p1'").collect().head.getLong(0)
    assert(affected == 1)
    val after = dataFiles("dml_p1")
    val untouchedBefore = before.filter(!_._1.contains("part=p1"))
    val untouchedAfter = after.filter(!_._1.contains("part=p1"))
    assert(untouchedAfter == untouchedBefore,
      "files outside the affected partition must be byte-identical (same path+mtime)")
    assert(after.keySet.filter(_.contains("part=p1")) !=
      before.keySet.filter(_.contains("part=p1")) ||
      after.filter(_._1.contains("part=p1")) != before.filter(_._1.contains("part=p1")))
    assert(spark.table("dml_p1").filter(col("part") === "p1").select("v")
      .as[Double].collect().toSeq == Seq(0.0))
  }

  test("DELETE that empties a partition still removes its rows (full-rewrite fallback)") {
    import spark.implicits._
    freshTable("dml_p2")
    Seq((1, "p0"), (2, "p1"), (3, "p1"))
      .toDF("id", "part").write.partitionBy("part").saveAsTable("dml_p2")
    val affected = RowDml.execute(spark,
      "DELETE FROM dml_p2 WHERE part = 'p1'").collect().head.getLong(0)
    assert(affected == 2)
    assert(spark.table("dml_p2").select("id").as[Int].collect().toSeq == Seq(1))
  }

  test("RETURNING: UPDATE yields the post-image, DELETE the deleted rows, pinned pre-rewrite") {
    import spark.implicits._
    freshTable("dml_r1")
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0))
      .toDF("id", "grp", "v").write.saveAsTable("dml_r1")
    // UPDATE ... RETURNING: post-update values of the affected rows only;
    // the WHERE is evaluated on the PRE-image even when the assignment
    // falsifies it
    val upd = RowDml.execute(spark,
      "UPDATE dml_r1 SET v = 0 WHERE v > 15 RETURNING id, v, grp")
      .orderBy("id").collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2)))
    assert(upd.toSeq == Seq((2, 0.0, "b"), (3, 0.0, "a")))
    assert(spark.table("dml_r1").filter(col("v") === 0).count() == 2)
    // DELETE ... RETURNING *: the deleted rows, readable AFTER their files
    // are gone (localCheckpoint pins them)
    val del = RowDml.execute(spark, "DELETE FROM dml_r1 WHERE grp = 'a' RETURNING *")
    assert(spark.table("dml_r1").count() == 1) // rewrite already happened
    val delRows = del.orderBy("id").collect().map(_.getInt(0))
    assert(delRows.toSeq == Seq(1, 3))
    // RETURNING supports expressions and aliases
    freshTable("dml_r2")
    Seq((1, 5.0)).toDF("id", "v").write.saveAsTable("dml_r2")
    val expr = RowDml.execute(spark,
      "UPDATE dml_r2 SET v = v + 1 RETURNING id * 10 AS id10, v")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(expr.toSeq == Seq((10, 6.0)))
    // a RETURNING inside a string literal is NOT a clause
    val lit = RowDml.execute(spark,
      "UPDATE dml_r2 SET v = 9 WHERE 'RETURNING x' = 'RETURNING x'")
      .collect().head.getLong(0)
    assert(lit == 1)
    // MERGE ... RETURNING (r12): post-image + merge_action discriminator
    val mret = RowDml.execute(spark,
      "MERGE INTO dml_r2 t USING dml_r2 s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = 1 RETURNING id, v, merge_action")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2)))
    assert(mret.toSeq == Seq((1, 1.0, "UPDATE")))
  }

  test("MERGE applies conditional update, delete, and insert actions in order") {
    import spark.implicits._
    freshTable("dml_m1")
    Seq((1, "keep", 10), (2, "upd", 20), (3, "del", 30))
      .toDF("id", "tag", "v").write.saveAsTable("dml_m1")
    Seq((2, "updated", 200), (3, "whatever", 0), (9, "new", 900))
      .toDF("id", "tag", "v").createOrReplaceTempView("dml_m1_src")
    val affected = RowDml.execute(spark,
      "MERGE INTO dml_m1 t USING dml_m1_src s ON t.id = s.id " +
      "WHEN MATCHED AND t.tag = 'del' THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET tag = s.tag, v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, s.tag, s.v)")
      .collect().head.getLong(0)
    assert(affected == 3, "one update + one delete + one insert")
    val out = spark.table("dml_m1").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(out == Seq((1, "keep", 10), (2, "updated", 200), (9, "new", 900)))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates/deletes unmatched target rows; subquery source works") {
    import spark.implicits._
    freshTable("dml_m2")
    Seq((1, 1), (2, 2), (3, 3), (4, 4)).toDF("id", "v").write.saveAsTable("dml_m2")
    Seq((1, 10)).toDF("id", "v").createOrReplaceTempView("dml_m2_src")
    // matched row updates from source; unmatched-by-source rows route
    // through their own action family (conditional delete, then update)
    val affected = RowDml.execute(spark,
      "MERGE INTO dml_m2 t USING dml_m2_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED BY SOURCE AND t.id = 4 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v * 100")
      .collect().head.getLong(0)
    assert(affected == 4, "one matched update + one NMBS delete + two NMBS updates")
    val out = spark.table("dml_m2").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(out == Seq((1, 10), (2, 200), (3, 300)))
    // aliased subquery sources are legal (the ON CONFLICT desugar feeds
    // `USING (SELECT ...) AS excluded`)
    RowDml.execute(spark,
      "MERGE INTO dml_m2 t USING (SELECT 1 AS id, 2 AS v) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(spark.table("dml_m2").orderBy("id").collect().head.getInt(1) == 2)
  }

  test("MERGE NMBS: a source-column reference fails at bind time, not silently as NULL (r12 advice)") {
    import spark.implicits._
    freshTable("dml_m2b")
    Seq((1, 1), (2, 2)).toDF("id", "v").write.saveAsTable("dml_m2b")
    Seq((1, 10)).toDF("id", "v").createOrReplaceTempView("dml_m2b_src")
    // The joined frame carries the source alias columns (NULL on NMBS rows),
    // so without the explicit walk `SET v = s.v` would silently write NULL
    // and `AND s.v > 0` would silently never fire — DuckDB and the standard
    // reject both at bind time.
    val e1 = intercept[IllegalArgumentException](RowDml.execute(spark,
      "MERGE INTO dml_m2b t USING dml_m2b_src s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v"))
    assert(e1.getMessage.contains("NOT MATCHED BY SOURCE"))
    val e2 = intercept[IllegalArgumentException](RowDml.execute(spark,
      "MERGE INTO dml_m2b t USING dml_m2b_src s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE"))
    assert(e2.getMessage.contains("`s.v`"))
    // an unqualified column that exists only in the source is the same bug
    spark.sql("SELECT 1 AS id, 7 AS src_only").createOrReplaceTempView("dml_m2b_src2")
    intercept[IllegalArgumentException](RowDml.execute(spark,
      "MERGE INTO dml_m2b t USING dml_m2b_src2 s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = src_only"))
    // target-only references still work, table untouched by the failures
    assert(spark.table("dml_m2b").count() == 2)
    RowDml.execute(spark,
      "MERGE INTO dml_m2b t USING dml_m2b_src s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE AND t.v > 0 THEN UPDATE SET v = t.v + 1")
    assert(spark.table("dml_m2b").orderBy("id")
      .collect().map(_.getInt(1)).toSeq == Seq(1, 3))
  }

  test("MERGE cardinality: multi-source match on one target row errors; no-action dup matches collapse") {
    import spark.implicits._
    freshTable("dml_m3")
    Seq((1, 1), (2, 2)).toDF("id", "v").write.saveAsTable("dml_m3")
    // two source rows hit target id=1 with an applicable update -> SQL error
    Seq((1, 10), (1, 11), (2, 20)).toDF("id", "v").createOrReplaceTempView("dml_m3_src")
    val e = intercept[IllegalStateException](RowDml.execute(spark,
      "MERGE INTO dml_m3 t USING dml_m3_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v"))
    assert(e.getMessage.contains("cardinality"))
    assert(spark.table("dml_m3").orderBy("id").collect().map(_.getInt(1)).toSeq ==
      Seq(1, 2), "a failed MERGE must leave the table untouched")
    // duplicate matches whose action condition selects NEITHER copy: the
    // target row must come out exactly once, unchanged
    val affected = RowDml.execute(spark,
      "MERGE INTO dml_m3 t USING dml_m3_src s ON t.id = s.id " +
      "WHEN MATCHED AND s.v > 50 THEN UPDATE SET v = s.v")
      .collect().head.getLong(0)
    assert(affected == 0)
    assert(spark.table("dml_m3").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 1), (2, 2)),
      "no-action duplicate join copies must collapse to one output row")
    // exactly ONE of several matches selecting the action is legal
    val one = RowDml.execute(spark,
      "MERGE INTO dml_m3 t USING dml_m3_src s ON t.id = s.id " +
      "WHEN MATCHED AND s.v = 11 THEN UPDATE SET v = s.v")
      .collect().head.getLong(0)
    assert(one == 1)
    assert(spark.table("dml_m3").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 11), (2, 2)))
  }

  test("MERGE RETURNING: all three actions discriminated, pinned pre-rewrite") {
    import spark.implicits._
    freshTable("dml_m4")
    Seq((1, "u", 10), (2, "d", 20), (3, "untouched", 30))
      .toDF("id", "tag", "v").write.saveAsTable("dml_m4")
    Seq((1, "upd", 100), (2, "x", 0), (9, "new", 900))
      .toDF("id", "tag", "v").createOrReplaceTempView("dml_m4_src")
    val ret = RowDml.execute(spark,
      "MERGE INTO dml_m4 t USING dml_m4_src s ON t.id = s.id " +
      "WHEN MATCHED AND t.tag = 'd' THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET tag = s.tag, v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, s.tag, s.v) " +
      "RETURNING id, v, merge_action")
      .orderBy("id").collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(ret.toSeq == Seq((1, 100, "UPDATE"), (2, 20, "DELETE"), (9, 900, "INSERT")),
      "update post-image, delete pre-image, insert values")
    assert(spark.table("dml_m4").orderBy("id").collect().map(_.getInt(0)).toSeq ==
      Seq(1, 3, 9))
  }

  test("expressions survive without a SQL-text round-trip: quoted identifiers, quotes in literals") {
    import spark.implicits._
    freshTable("dml_q1")
    // A column name needing backquotes and values containing single quotes:
    // under the old expr(e.sql) round-trip either could re-parse wrongly.
    Seq((1, "it's a", 1.0), (2, "plain", 2.0))
      .toDF("id", "odd name", "v").write.saveAsTable("dml_q1")
    val affected = RowDml.execute(spark,
      "UPDATE dml_q1 SET `odd name` = concat(`odd name`, ' — isn''t it'), v = v + 0.5 " +
      "WHERE `odd name` = 'it''s a'").collect().head.getLong(0)
    assert(affected == 1)
    val got = spark.table("dml_q1").orderBy("id")
      .select(col("odd name"), col("v")).as[(String, Double)].collect().toSeq
    assert(got == Seq(("it's a — isn't it", 1.5), ("plain", 2.0)))
    // Same through MERGE assignments on the quoted column.
    Seq((2, "wasn't"), (3, "new'un")).toDF("id", "nv").createOrReplaceTempView("dml_q1_src")
    val m = RowDml.execute(spark,
      "MERGE INTO dml_q1 t USING dml_q1_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET `odd name` = s.nv " +
      "WHEN NOT MATCHED THEN INSERT (id, `odd name`, v) VALUES (s.id, s.nv, 9.0)")
      .collect().head.getLong(0)
    assert(m == 2)
    val after = spark.table("dml_q1").orderBy("id")
      .select(col("odd name")).as[String].collect().toSeq
    assert(after == Seq("it's a — isn't it", "wasn't", "new'un"))
  }

  test("bare DML is an implicit transaction: journal cleared, manifest dropped on completion") {
    import spark.implicits._
    import graft.engine.{ManifestCatalog, TxnJournal}
    freshTable("dml_a1")
    Seq((1, 1.0), (2, 2.0)).toDF("id", "v").write.saveAsTable("dml_a1")
    RowDml.execute(spark, "UPDATE dml_a1 SET v = v * 2 WHERE id = 1")
    assert(spark.table("dml_a1").orderBy("id").select("v").as[Double].collect().toSeq
      == Seq(2.0, 2.0))
    val jdir = TxnJournal.journalDir(spark)
    assert(!java.nio.file.Files.isDirectory(jdir) ||
      !java.nio.file.Files.list(jdir).iterator().hasNext,
      "completed autocommit must clear its journal")
    assert(!ManifestCatalog.read(spark)._2.contains("dml_a1"),
      "completed autocommit must drop its manifest entry")
  }

  test("autocommit snapshot of a partition-scoped UPDATE is a FULL post-image (hardlink composition)") {
    import spark.implicits._
    import graft.engine.TxnJournal
    freshTable("dml_a2")
    // keep this test's snapshot alive past its tombstone
    spark.conf.set("spark.graft.txn.snapshotGraceMs", (60L * 60 * 1000).toString)
    Seq((1, "p0", 1.0), (2, "p1", 2.0), (3, "p2", 3.0))
      .toDF("id", "part", "v").write.partitionBy("part").saveAsTable("dml_a2")
    val root = TxnJournal.stageRoot(spark)
    def stagedDirs: Set[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      if (!java.nio.file.Files.isDirectory(root)) Set.empty
      else java.nio.file.Files.list(root).iterator().asScala.toSet
    }
    val before = stagedDirs
    RowDml.execute(spark, "UPDATE dml_a2 SET v = v * 10 WHERE part = 'p1'")
    val snap = (stagedDirs -- before).head
    // The snapshot wrote only partition p1 but must READ as the whole
    // table's post-image — the unaffected partitions are hardlinked in.
    val snapRows = spark.read.parquet(snap.toString)
      .select("id", "part", "v").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(snapRows == Seq((1, "p0", 1.0), (2, "p1", 20.0), (3, "p2", 3.0)))

    // Crash-redo drill on the partition-structured snapshot: corrupt the
    // base, journal the snapshot, recover — foldFull must restore the full
    // post-image with the catalog column order (partition col reads LAST
    // from the snapshot but sits mid-schema in the table).
    spark.sql("INSERT OVERWRITE TABLE dml_a2 SELECT 99 AS id, CAST(0 AS DOUBLE) AS v, 'px' AS part")
    assert(spark.table("dml_a2").count() == 1)
    TxnJournal.write(spark, "auto-crash-a2", Seq("dml_a2" -> snap.toString))
    TxnJournal.recover(spark)
    val after = spark.table("dml_a2").select("id", "part", "v").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(after == Seq((1, "p0", 1.0), (2, "p1", 20.0), (3, "p2", 3.0)),
      "journal redo must fold the composed snapshot back, column-order-safe")
  }

  test("zero-affected DML never rewrites a file") {
    import spark.implicits._
    freshTable("dml_a3")
    Seq((1, 1.0)).toDF("id", "v").write.saveAsTable("dml_a3")
    val before = dataFiles("dml_a3")
    assert(RowDml.execute(spark, "UPDATE dml_a3 SET v = 9 WHERE id = 42")
      .collect().head.getLong(0) == 0)
    assert(RowDml.execute(spark, "DELETE FROM dml_a3 WHERE id = 42")
      .collect().head.getLong(0) == 0)
    assert(dataFiles("dml_a3") == before,
      "a DML statement matching no rows must not touch the table's files")
  }

  test("concurrent bare UPDATEs on one table serialize (no lost update)") {
    import spark.implicits._
    freshTable("dml_a4")
    Seq((1, 0.0)).toDF("id", "v").write.saveAsTable("dml_a4")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to 2).map { _ =>
      scala.concurrent.Future {
        (1 to 3).foreach { _ =>
          RowDml.execute(spark, "UPDATE dml_a4 SET v = v + 1")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs), scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(spark.table("dml_a4").select("v").as[Double].collect().toSeq == Seq(6.0),
      "6 serialized increments must all land — the commit lock forbids lost updates")
  }

  test("an ingest append waits out a concurrent DML commit instead of being folded away") {
    import spark.implicits._
    freshTable("dml_ing")
    (1 to 10).map(i => (i, i.toDouble)).toDF("id", "v").write.saveAsTable("dml_ing")
    // Session A's DELETE holds its commit open for 4 s between the manifest
    // publish and the fold; session B ingests into that window.
    val a = spark.newSession()
    a.conf.set("spark.graft.dml.crashTestDelayMs", "4000")
    val b = spark.newSession()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val deleter = new Thread(() =>
      try RowDml.execute(a, "DELETE FROM dml_ing WHERE id = 1").collect(): Unit
      catch { case t: Throwable => failure.set(t) })
    deleter.start()
    val deadline = System.currentTimeMillis() + 60000
    while (!graft.engine.ManifestCatalog.read(spark)._2.contains("dml_ing") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    val res = Ingest.ingest(b,
      b.range(11, 16).selectExpr("CAST(id AS INT) AS id", "CAST(id AS DOUBLE) AS v"),
      "dml_ing", Ingest.IfExists.Append)
    deleter.join(120000)
    assert(failure.get == null, s"DELETE failed: ${failure.get}")
    assert(res.rowsIngested == 5)
    assert(spark.table("dml_ing").count() == 14,
      "9 rows survive the DELETE and all 5 ingested rows must land after its fold")
  }

  test("a non-transactional write refuses to race a foreign unfolded manifest entry") {
    import spark.implicits._
    import graft.engine.{CommitLock, ManifestCatalog}
    freshTable("dml_a5")
    Seq((1, 1.0)).toDF("id", "v").write.saveAsTable("dml_a5")
    val dir = graft.engine.TxnJournal.stageRoot(spark)
      .resolve(java.util.UUID.randomUUID().toString).toString
    spark.sql("SELECT id, v * 2 AS v FROM dml_a5").write.parquet(dir)
    ManifestCatalog.publish(spark, Seq("dml_a5" -> dir))
    try {
      val e = intercept[IllegalStateException](
        CommitLock.withExclusiveWrite(spark, "dml_a5") { fail("must not run") })
      assert(e.getMessage.contains("being committed"))
    } finally {
      ManifestCatalog.drop(spark, Seq("dml_a5" -> dir))
      ManifestCatalog.refresh(spark)
    }
  }

  test("the statement guard classifies row-level DML as writes (read-only blocked)") {
    import graft.engine.StatementGuard
    Seq("UPDATE dml_u1 SET v = 1",
        "DELETE FROM dml_u1 WHERE v = 1",
        "MERGE INTO dml_u1 t USING dml_u1 s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = 1")
      .foreach { sql =>
        StatementGuard.check(spark, sql, isAdmin = false, readOnly = true) match {
          case StatementGuard.Blocked(_) => ()
          case StatementGuard.Allowed => fail(s"read-only session must not run: $sql")
        }
      }
  }
}
