package graft.engine

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestHarness
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** One session's returned write is visible to every other session's next
  * statement: a writer, a reader holding a cached statement plan and a
  * memoized prepared execute, and a fresh session, all through the engine's
  * statement path.
  */
class MultiSessionVisibilitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private lazy val global = new GlobalSettings
  private lazy val sessions = new SessionManager(spark, global)

  private def run(s: SessionState, sql: String): DataFrame =
    Statement.create(sessions, s, global, sql)

  private def newSession(prefix: String): SessionState =
    sessions.getOrCreate(s"$prefix-${UUID.randomUUID()}", "alice", "admin")

  private def countSql(table: String) =
    s"SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s FROM $table"

  private def pair(df: DataFrame): (Long, Long) = {
    val r = df.collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The three ways a session reads `table`, each as the server runs it. */
  private final class Reader(table: String) {
    val session: SessionState = newSession("vis-reader")
    private val handle = session.prepare(s"${countSql(table)} WHERE v >= :lo").handle
    def cached: (Long, Long) = pair(run(session, countSql(table)))
    def prepared: (Long, Long) = {
      sessions.refreshManifest(session) // what /execute runs first
      pair(session.executePrepared(handle, Map("lo" -> 0)))
    }
    def fresh: (Long, Long) = pair(run(newSession("vis-fresh"), countSql(table)))
    def all: Seq[(Long, Long)] = Seq(cached, prepared, fresh)
  }

  /** Create `table` as (1,10), (2,20), (3,30), prime a reader's cached plan
    * and prepared memo on it, then run each step's write in the writer
    * session and check that all three reads see `expected` right after.
    */
  private def visible(table: String)(steps: (SessionState => Unit, (Long, Long))*): Unit = {
    val w = newSession("vis-writer")
    run(w, s"DROP TABLE IF EXISTS $table")
    run(w, s"CREATE TABLE $table USING parquet AS " +
      "SELECT id, v FROM VALUES (1, 10), (2, 20), (3, 30) AS x(id, v)")
    val r = new Reader(table)
    assert(Seq.fill(2)(r.cached) == Seq((3L, 60L), (3L, 60L)))
    assert(run(r.session, countSql(table)) eq run(r.session, countSql(table)),
      "the reader's statement must be a plan-cache hit before the write")
    assert(Seq.fill(2)(r.prepared) == Seq((3L, 60L), (3L, 60L)))
    steps.foreach { case (write, expected) =>
      write(w)
      assert(r.all == Seq.fill(3)(expected), "cached statement, prepared execute, fresh session")
    }
  }

  private def sql(stmts: String*): SessionState => Unit = w => stmts.foreach(run(w, _))

  test("INSERT is visible to other sessions") {
    visible("vis_insert")(sql("INSERT INTO vis_insert VALUES (4, 40)") -> ((4L, 100L)))
  }

  test("INSERT OVERWRITE is visible to other sessions") {
    visible("vis_overwrite")(
      sql("INSERT OVERWRITE TABLE vis_overwrite VALUES (7, 70)") -> ((1L, 70L)))
  }

  test("UPDATE and DELETE are visible to other sessions") {
    visible("vis_rowdml")(
      sql("UPDATE vis_rowdml SET v = v + 1") -> ((3L, 63L)),
      sql("DELETE FROM vis_rowdml WHERE id = 1") -> ((2L, 52L)))
  }

  test("COPY FROM is visible to other sessions") {
    val dir = java.nio.file.Files.createTempDirectory("vis-copy").resolve("rows").toString
    spark.sql("SELECT id, v FROM VALUES (5, 50), (6, 60) AS x(id, v)").write.parquet(dir)
    visible("vis_copy")(sql(s"COPY vis_copy FROM '$dir'") -> ((5L, 170L)))
  }

  test("DROP then CREATE is visible to other sessions") {
    visible("vis_recreate")(sql("DROP TABLE vis_recreate",
      "CREATE TABLE vis_recreate USING parquet AS SELECT id, v FROM VALUES (9, 90) AS x(id, v)") ->
      ((1L, 90L)))
  }

  test("CREATE OR REPLACE is visible to other sessions") {
    visible("vis_replace")(sql("CREATE OR REPLACE TABLE vis_replace USING parquet AS " +
      "SELECT id, v FROM VALUES (8, 80), (9, 90) AS x(id, v)") -> ((2L, 170L)))
  }

  test("a transaction is invisible until COMMIT, then visible to other sessions") {
    visible("vis_txn")(
      sql("BEGIN", "UPDATE vis_txn SET v = v * 10") -> ((3L, 60L)),
      sql("COMMIT") -> ((3L, 600L)))
  }

  test("an Arrow ingest append is visible to other sessions") {
    val append: SessionState => Unit = w =>
      graft.sources.Ingest.ingest(w.spark, w.spark.sql("SELECT 4 AS id, 40 AS v"),
        "vis_ingest", graft.sources.Ingest.IfExists.Append): Unit
    visible("vis_ingest")(append -> ((4L, 100L)))
  }

  test("concurrent readers never see a count older than one acknowledged or already seen") {
    val table = "vis_stress"
    val w = newSession("vis-writer")
    run(w, s"DROP TABLE IF EXISTS $table")
    run(w, s"CREATE TABLE $table USING parquet AS SELECT id, v FROM VALUES (0, 0) AS x(id, v)")
    val inserts = 12
    val acked = new AtomicLong(1)
    val done = new AtomicBoolean(false)
    val faults = new ConcurrentLinkedQueue[String]()
    val readers = (0 until 2).map { k =>
      val r = new Reader(table)
      val t = new Thread(() => {
        var seen = 0L
        var i = 0
        try while (!done.get) {
          val floor = acked.get
          val n = (if (i % 2 == 0) r.cached else r.prepared)._1
          if (n < floor || n < seen)
            faults.add(s"reader $k read $n after acknowledged $floor and seen $seen")
          seen = math.max(seen, n)
          i += 1
        } catch { case e: Throwable => faults.add(s"reader $k: $e") }
      })
      t.start()
      (r, t)
    }
    try (1 to inserts).foreach { i =>
      run(w, s"INSERT INTO $table VALUES ($i, $i)")
      acked.set(i + 1L)
    } finally done.set(true)
    readers.foreach(_._2.join(120000))
    assert(faults.isEmpty, faults.asScala.mkString("\n"))
    readers.foreach { case (r, _) =>
      assert(r.cached._1 == inserts + 1 && r.prepared._1 == inserts + 1)
    }
  }
}
