package graft.engine

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Fork the server's logs into a `logs` table in a writable attached
  * catalog, re-expressing the reference's enterprise catalog log sink
  * (`/root/reference/src/enterprise/catalog_logging/catalog_log_sink.h:
  * 29-41`, `catalog_log_sink.cpp`):
  *
  *   - [[GraftLog]] delivery calls [[enqueue]] — cheap, bounded,
  *     non-blocking; records arriving on a full queue are DROPPED and
  *     counted (a slow catalog must never block session threads), with the
  *     running drop total reported loudly (throttled) by the writer;
  *   - a dedicated daemon writer thread drains up to [[maxBatch]] records
  *     and lands each batch as ONE append-only INSERT on the attached
  *     table, through the same commit-lock + job-commit protocol every
  *     non-transactional INSERT uses ([[CommitLock.withExclusiveWrite]] +
  *     Spark's output-committer: a failed job publishes NO files, so a
  *     failed batch rolls back — the reference wraps each batch in an
  *     explicit transaction for the same guarantee);
  *   - a batch that fails is retried record-by-record so one poison record
  *     never drops the whole batch (`catalog_log_sink.cpp:330-374`);
  *     records that still fail are counted and reported;
  *   - the writer thread runs under [[GraftLog.withSinkGuard]], so its own
  *     warnings go only to the console — never re-dispatched into this
  *     sink (the reference's ScopedLogSinkGuard).
  *
  * The log catalog is system-managed and ADMIN-READ-ONLY, like the
  * instrumentation catalog: non-admin statements may not reference it, SQL
  * writes into it are blocked for everyone (only this sink's writer
  * appends), and DETACH is refused while the sink is active
  * ([[StatementGuard]] / [[Statement]] enforce via [[CatalogLogSink.activeCatalog]];
  * reference: `test_catalog_logging.cpp:181-199`, `GetCatalogAccess`).
  *
  * Scale posture: the table is date-partitioned (`log_date`), so time-range
  * reads prune and retention is a partition drop; each batch is one
  * distributed append job writing O(batch) rows; nothing accumulates on the
  * driver beyond the bounded queue. The reference adds per-column indexes
  * on its DuckDB file — the Spark-side analogue is partition pruning +
  * parquet column statistics, which the layout already provides.
  */
final class CatalogLogSink(
    spark: SparkSession,
    attachments: AttachManager,
    dir: String,
    val catalog: String = "_graft_logs",
    maxQueueDepth: Int = 100000,
    maxBatch: Int = 512) extends AutoCloseable {

  import CatalogLogSink._

  require(maxQueueDepth > 0, "maxQueueDepth must be positive")

  // ---- schema bootstrap ----------------------------------------------------

  {
    val d = new java.io.File(dir)
    if (!d.isDirectory) { d.mkdirs(); () }
    // Idempotent: a restarted server re-attaches the same path and
    // re-discovers the logs table (attach refreshes same-path attachments).
    attachments.attach(spark, catalog, dir, readOnly = false)
    // The table directory exists from the start: a refresh or scan before
    // the first batch lands lists an empty table instead of warning.
    val logsDir = new java.io.File(dir, "logs")
    logsDir.mkdirs()
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS `$catalog`.logs (
         |  log_time TIMESTAMP, level STRING, instance_id STRING,
         |  cluster_id STRING, session_id STRING, username STRING,
         |  role STRING, peer STRING, component STRING, trace_id STRING,
         |  span_id STRING, pid INT, tid STRING, source_file STRING,
         |  source_line INT, func STRING, message STRING, fields STRING,
         |  log_date DATE)
         |USING parquet PARTITIONED BY (log_date)
         |LOCATION '${logsDir.getAbsolutePath}'""".stripMargin)
    ()
  }

  private val queue = new LinkedBlockingQueue[GraftLog.LogRecord](maxQueueDepth)
  private val dropped = new AtomicLong(0)
  private val insertFailed = new AtomicLong(0)
  @volatile private var droppedReported = 0L
  @volatile private var shutdownRequested = false

  /** Total records dropped on a full queue (tests/metrics). */
  def droppedCount: Long = dropped.get
  /** Total records that failed to insert even individually. */
  def failedCount: Long = insertFailed.get

  /** Enqueue one record for asynchronous write — called on logging threads;
    * never blocks. Drops (and counts) when the queue is full.
    */
  def enqueue(record: GraftLog.LogRecord): Unit = {
    if (shutdownRequested) return
    if (!queue.offer(record)) { dropped.incrementAndGet(); () }
  }

  private val writer = new Thread(() => GraftLog.withSinkGuard(writerLoop()),
    s"graft-catalog-log-$catalog")
  writer.setDaemon(true)
  CatalogLogSink.register(catalog, Set("logs"))
  writer.start()

  private def writerLoop(): Unit = {
    while (!(shutdownRequested && queue.isEmpty)) {
      val first = queue.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (first != null) {
        val batch = new java.util.ArrayList[GraftLog.LogRecord](maxBatch)
        batch.add(first)
        queue.drainTo(batch, maxBatch - 1)
        writeBatch(batch.asScala.toSeq)
      }
      val totalDropped = dropped.get
      if (totalDropped != droppedReported) {
        GraftLog.warn("catalog-log", s"dropped ${totalDropped - droppedReported} " +
          s"log record(s) due to a full queue (depth limit $maxQueueDepth; " +
          s"total dropped $totalDropped)")
        droppedReported = totalDropped
      }
    }
  }

  private def writeBatch(batch: Seq[GraftLog.LogRecord]): Unit = {
    if (batch.isEmpty) return
    // Fast path: the whole batch in one append job — Spark's output
    // committer publishes all of the batch's files at job commit or none
    // (the rollback the reference gets from its explicit transaction).
    try insertRows(batch)
    catch {
      case scala.util.control.NonFatal(e) =>
        GraftLog.warn("catalog-log", s"batch write failed (${batch.size} " +
          s"record(s)); retrying individually: ${e.getMessage}")
        var failed = 0
        batch.foreach { r =>
          try insertRows(Seq(r))
          catch { case scala.util.control.NonFatal(_) => failed += 1 }
        }
        if (failed > 0) {
          insertFailed.addAndGet(failed.toLong)
          GraftLog.warn("catalog-log",
            s"dropped $failed record(s) that failed to insert individually")
        }
    }
  }

  private def insertRows(batch: Seq[GraftLog.LogRecord]): Unit = {
    val rows: Seq[Row] = batch.map { r =>
      val ts = new java.sql.Timestamp(r.timestampMs)
      Row(ts, r.level, uuidOrNull(r.instanceId), uuidOrNull(r.clusterId),
        uuidOrNull(r.sessionId), strOrNull(r.username), strOrNull(r.role),
        strOrNull(r.peer), strOrNull(r.component), strOrNull(r.traceId),
        strOrNull(r.spanId), r.pid, strOrNull(r.tid), strOrNull(r.sourceFile),
        r.sourceLine, strOrNull(r.func), r.message, strOrNull(r.fieldsJson),
        new java.sql.Date(r.timestampMs))
    }
    val df = spark.createDataFrame(rows.asJava, LogSchema)
    // Same protocol as a client INSERT: the table's commit lock serializes
    // against any concurrent fold, and the append publishes atomically at
    // job commit.
    CommitLock.withExclusiveWrite(spark, s"$catalog.logs") {
      df.write.mode("append").insertInto(s"`$catalog`.logs")
    }
  }

  /** Stop accepting work, drain the remaining queue, and join the writer.
    * Call [[GraftLog.clearSinks]] BEFORE this so no further records are
    * dispatched into a half-torn-down sink.
    */
  override def close(): Unit = {
    if (shutdownRequested) return
    shutdownRequested = true
    writer.join(15000)
    CatalogLogSink.unregister(catalog)
  }
}

object CatalogLogSink {

  /** The columns mirror the reference's promoted log fields
    * (`catalog_log_sink.cpp:95-118`) plus the `log_date` partition column;
    * UUID/JSON become validated/opaque STRINGs (Spark has neither type).
    */
  val LogSchema: StructType = StructType(Seq(
    StructField("log_time", TimestampType), StructField("level", StringType),
    StructField("instance_id", StringType), StructField("cluster_id", StringType),
    StructField("session_id", StringType), StructField("username", StringType),
    StructField("role", StringType), StructField("peer", StringType),
    StructField("component", StringType), StructField("trace_id", StringType),
    StructField("span_id", StringType), StructField("pid", IntegerType),
    StructField("tid", StringType), StructField("source_file", StringType),
    StructField("source_line", IntegerType), StructField("func", StringType),
    StructField("message", StringType), StructField("fields", StringType),
    StructField("log_date", DateType)))

  private val UuidRe =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$".r

  /** The reference's UUID-typed id columns store NULL for a malformed id —
    * a logging sink must never drop a record over a bad id
    * (`catalog_log_sink.cpp:36-49`).
    */
  private def uuidOrNull(s: String): String =
    if (s != null && UuidRe.matches(s)) s else null

  private def strOrNull(s: String): String =
    if (s == null || s.isEmpty) null else s

  // Live sink catalogs → their system-managed tables, consulted by
  // StatementGuard (admin-read-only gate), Statement (DETACH refusal,
  // pre-resolve REFRESH), and PlanCache (volatile-table bypass).
  // Process-wide, like AttachManager's read-only-roots registry. The
  // instrumentation sink registers here too — identical protection
  // contract, different table set.
  private val active = new AtomicReference[Map[String, Set[String]]](Map.empty)
  private[engine] def register(name: String, tables: Set[String]): Unit = {
    active.updateAndGet(_ + (name.toLowerCase -> tables)); ()
  }
  private[engine] def unregister(name: String): Unit = {
    active.updateAndGet(_ - name.toLowerCase); ()
  }
  def activeCatalogs: Set[String] = active.get.keySet
  def isLogCatalog(db: String): Boolean = active.get.contains(db.toLowerCase)
  /** The sink-managed tables of an active catalog (empty when inactive). */
  def tablesOf(catalog: String): Set[String] =
    active.get.getOrElse(catalog.toLowerCase, Set.empty)
}
