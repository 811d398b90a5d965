package graft.engine

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Server instrumentation into a writable attached catalog, re-expressing
  * the reference's enterprise instrumentation manager backed by an attached
  * (DuckLake) store rather than the local instrumentation file
  * (`/root/reference/src/enterprise/instrumentation/instrumentation_manager.cpp:45-148`
  * table shapes; attached-backend behavior contract
  * `tests/integration/test_instrumentation_ducklake.cpp:20-27`):
  *
  *   - the four reference tables — `instances`, `sessions`,
  *     `sql_statements`, `sql_executions` — are created in the attached
  *     catalog with the reference's column names (UUID/JSON → STRING,
  *     TIMESTAMPTZ → TIMESTAMP, Spark having neither type);
  *   - records flow through the same bounded-queue + daemon-writer append
  *     protocol as [[CatalogLogSink]]: callers enqueue cheaply and never
  *     block, batches land as single append jobs under the table's commit
  *     lock, a failing batch retries record-by-record;
  *   - the catalog registers in the [[CatalogLogSink]] registry, so the
  *     whole protection contract applies unchanged: admin-read-only,
  *     SQL-append-only, DETACH refused while live, PlanCache volatile-table
  *     bypass, pre-resolve REFRESH;
  *   - declared divergence: the reference UPDATEs lifecycle rows in place
  *     (stop_time on `instances`/`sessions`, rows_fetched on
  *     `sql_executions`); an append-only parquet store records lifecycle
  *     transitions as EVENT rows instead — a stopped instance has a
  *     `running` row and a later `stopped` row for the same `instance_id`,
  *     and readers take the latest row per id (max(start_time desc,
  *     status)). This keeps every write a distributed append — no
  *     copy-on-write rewrite of a hot table on every session close — which
  *     is the posture that survives 1000 sessions/s where per-row UPDATEs
  *     on parquet would not.
  *
  * Scale posture: `sql_statements`/`sql_executions` are date-partitioned so
  * time-range reads prune and retention is a partition drop; `instances`/
  * `sessions` are low-volume lifecycle tables. Nothing accumulates on the
  * driver beyond the bounded queue.
  */
final class InstrumentationSink(
    spark: SparkSession,
    attachments: AttachManager,
    dir: String,
    val catalog: String = "_graft_instrumentation",
    maxQueueDepth: Int = 100000,
    maxBatch: Int = 512) extends AutoCloseable {

  import InstrumentationSink._

  require(maxQueueDepth > 0, "maxQueueDepth must be positive")

  {
    val d = new java.io.File(dir)
    if (!d.isDirectory) { d.mkdirs(); () }
    attachments.attach(spark, catalog, dir, readOnly = false)
    Tables.foreach { case (name, schema) =>
      // The table directory exists from the start: a refresh or scan before
      // the first batch lands lists an empty table instead of warning.
      val tableDir = new java.io.File(dir, name)
      tableDir.mkdirs()
      val partition = PartitionCol.get(name)
      val cols = schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val partClause = partition.map(c => s"PARTITIONED BY ($c)").getOrElse("")
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS `$catalog`.$name ($cols)
           |USING parquet $partClause
           |LOCATION '${tableDir.getAbsolutePath}'""".stripMargin)
      ()
    }
  }

  private val queue = new LinkedBlockingQueue[(String, Row)](maxQueueDepth)
  // rows enqueued and not yet landed (or given up on): the queued ones plus
  // the batch the writer has taken — what `flush` waits for
  private val pending = new AtomicLong(0)
  private val dropped = new AtomicLong(0)
  private val insertFailed = new AtomicLong(0)
  @volatile private var shutdownRequested = false

  def droppedCount: Long = dropped.get
  def failedCount: Long = insertFailed.get

  private def emit(table: String, values: Map[String, Any]): Unit = {
    if (shutdownRequested) return
    val schema = Tables(table)
    val row = Row.fromSeq(schema.fields.map(f => values.getOrElse(f.name, null)).toIndexedSeq)
    pending.incrementAndGet()
    if (!queue.offer(table -> row)) { pending.decrementAndGet(); dropped.incrementAndGet(); () }
  }

  // ---- typed emitters (the reference's record classes,
  // instrumentation_records.h:17-158) --------------------------------------

  def instanceStart(instanceId: String, clusterId: String, edition: String,
      hostname: String, port: Int, tlsEnabled: Boolean, mtlsRequired: Boolean,
      readonly: Boolean, instanceTag: String): Unit =
    emit("instances", Map(
      "instance_id" -> uuidOrNull(instanceId), "cluster_id" -> uuidOrNull(clusterId),
      "gizmosql_version" -> BuildVersion, "gizmosql_edition" -> edition,
      "engine_version" -> spark.version,
      "hostname" -> hostname, "port" -> port,
      "tls_enabled" -> tlsEnabled, "mtls_required" -> mtlsRequired,
      "readonly" -> readonly,
      "os_platform" -> sys.props.getOrElse("os.name", null),
      "os_version" -> sys.props.getOrElse("os.version", null),
      "cpu_arch" -> sys.props.getOrElse("os.arch", null),
      "cpu_count" -> Runtime.getRuntime.availableProcessors(),
      "memory_total_bytes" -> Runtime.getRuntime.maxMemory(),
      "start_time" -> now(), "status" -> "running",
      "instance_tag" -> strOrNull(instanceTag)))

  def instanceStop(instanceId: String, stopReason: String): Unit =
    emit("instances", Map(
      "instance_id" -> uuidOrNull(instanceId),
      "gizmosql_version" -> BuildVersion, "gizmosql_edition" -> "",
      "engine_version" -> spark.version,
      "tls_enabled" -> false, "mtls_required" -> false, "readonly" -> false,
      "start_time" -> now(), "stop_time" -> now(),
      "status" -> "stopped", "stop_reason" -> strOrNull(stopReason)))

  def sessionStart(sessionId: String, instanceId: String, username: String,
      role: String, authMethod: String, peer: String,
      connectionProtocol: String, sessionTag: String): Unit =
    emit("sessions", Map(
      "session_id" -> uuidOrNull(sessionId), "instance_id" -> uuidOrNull(instanceId),
      "username" -> username, "role" -> role, "auth_method" -> authMethod,
      "peer" -> strOrNull(peer), "connection_protocol" -> connectionProtocol,
      "start_time" -> now(), "status" -> "active",
      "session_tag" -> strOrNull(sessionTag)))

  def sessionStop(sessionId: String, instanceId: String, username: String,
      role: String, stopReason: String): Unit =
    emit("sessions", Map(
      "session_id" -> uuidOrNull(sessionId), "instance_id" -> uuidOrNull(instanceId),
      "username" -> username, "role" -> role, "auth_method" -> "",
      "connection_protocol" -> "", "start_time" -> now(), "stop_time" -> now(),
      "status" -> "closed", "stop_reason" -> strOrNull(stopReason)))

  def statement(statementId: String, sessionId: String, sqlText: String,
      method: String, isInternal: Boolean, prepareError: String,
      queryTag: String): Unit = {
    val t = System.currentTimeMillis()
    emit("sql_statements", Map(
      "statement_id" -> uuidOrNull(statementId), "session_id" -> uuidOrNull(sessionId),
      "sql_text" -> sqlText, "flight_method" -> strOrNull(method),
      "is_internal" -> isInternal,
      "prepare_success" -> (prepareError == null || prepareError.isEmpty),
      "prepare_error" -> strOrNull(prepareError),
      "created_time" -> new java.sql.Timestamp(t),
      "query_tag" -> strOrNull(queryTag),
      "created_date" -> new java.sql.Date(t)))
  }

  /** One recorded statement execution (the server's statement record):
    * its `sql_executions` row, preceded by its `sql_statements` row when
    * the statement was not prepared beforehand (`/sql`; `/prepare` writes
    * a prepared statement's row once).
    */
  def record(r: Observability.StatementRecord, withStatement: Boolean): Unit = {
    if (withStatement)
      statement(r.statementId, r.sessionId, r.sql, r.operation, isInternal = false,
        prepareError = "", queryTag = r.tag)
    execution(java.util.UUID.randomUUID().toString, r.statementId, r.status, r.error,
      r.outputRows, r.startMs, r.endMs, r.profile)
  }

  def execution(executionId: String, statementId: String, status: String,
      errorMessage: String, rowsFetched: Long, startMs: Long, endMs: Long,
      queryProfile: String): Unit =
    emit("sql_executions", Map(
      "execution_id" -> uuidOrNull(executionId),
      "statement_id" -> uuidOrNull(statementId),
      "execution_start_time" -> new java.sql.Timestamp(startMs),
      "execution_end_time" -> new java.sql.Timestamp(endMs),
      "rows_fetched" -> (if (rowsFetched < 0) null else rowsFetched),
      "status" -> status, "error_message" -> strOrNull(errorMessage),
      "duration_ms" -> (endMs - startMs), "total_duration_ms" -> (endMs - startMs),
      "query_profile" -> strOrNull(queryProfile),
      "execution_date" -> new java.sql.Date(startMs)))

  // ---- writer --------------------------------------------------------------

  private val writer = new Thread(() => GraftLog.withSinkGuard(writerLoop()),
    s"graft-instrumentation-$catalog")
  writer.setDaemon(true)
  CatalogLogSink.register(catalog, Tables.keySet)
  writer.start()

  private def writerLoop(): Unit = {
    while (!(shutdownRequested && queue.isEmpty)) {
      val first = queue.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (first != null) {
        val batch = new java.util.ArrayList[(String, Row)](maxBatch)
        batch.add(first)
        queue.drainTo(batch, maxBatch - 1)
        try batch.asScala.toSeq.groupBy(_._1).foreach { case (table, rows) =>
          writeBatch(table, rows.map(_._2))
        } finally { pending.addAndGet(-batch.size); () }
      }
    }
  }

  private def writeBatch(table: String, rows: Seq[Row]): Unit = {
    try insertRows(table, rows)
    catch {
      case scala.util.control.NonFatal(e) =>
        GraftLog.warn("instrumentation", s"batch write to $table failed " +
          s"(${rows.size} record(s)); retrying individually: ${e.getMessage}")
        var failed = 0
        rows.foreach { r =>
          try insertRows(table, Seq(r))
          catch { case scala.util.control.NonFatal(_) => failed += 1 }
        }
        if (failed > 0) {
          insertFailed.addAndGet(failed.toLong)
          GraftLog.warn("instrumentation",
            s"dropped $failed $table record(s) that failed to insert individually")
        }
    }
  }

  private def insertRows(table: String, rows: Seq[Row]): Unit = {
    val df = spark.createDataFrame(rows.asJava, Tables(table))
    CommitLock.withExclusiveWrite(spark, s"$catalog.$table") {
      df.write.mode("append").insertInto(s"`$catalog`.$table")
    }
  }

  /** Flush synchronously (tests): wait until the queue drains and the
    * in-flight batch lands, bounded by `timeoutMs`.
    */
  def flush(timeoutMs: Long = 30000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (pending.get > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    pending.get == 0
  }

  override def close(): Unit = {
    if (shutdownRequested) return
    shutdownRequested = true
    writer.join(15000)
    CatalogLogSink.unregister(catalog)
  }
}

object InstrumentationSink {

  private val BuildVersion = "graft-spark"

  /** Reference column names (`instrumentation_manager.cpp:52-141`), Spark
    * types; `duckdb_version`/`arrow_version` become one `engine_version`
    * (the Spark version) — this engine has neither component. The two
    * high-volume tables carry an added date partition column (scale:
    * time-range pruning + partition-drop retention).
    */
  val Tables: Map[String, StructType] = Map(
    "instances" -> StructType(Seq(
      StructField("instance_id", StringType), StructField("cluster_id", StringType),
      StructField("gizmosql_version", StringType),
      StructField("gizmosql_edition", StringType),
      StructField("engine_version", StringType),
      StructField("hostname", StringType), StructField("port", IntegerType),
      StructField("tls_enabled", BooleanType),
      StructField("mtls_required", BooleanType),
      StructField("readonly", BooleanType),
      StructField("os_platform", StringType), StructField("os_version", StringType),
      StructField("cpu_arch", StringType), StructField("cpu_count", IntegerType),
      StructField("memory_total_bytes", LongType),
      StructField("start_time", TimestampType), StructField("stop_time", TimestampType),
      StructField("status", StringType), StructField("stop_reason", StringType),
      StructField("instance_tag", StringType))),
    "sessions" -> StructType(Seq(
      StructField("session_id", StringType), StructField("instance_id", StringType),
      StructField("username", StringType), StructField("role", StringType),
      StructField("auth_method", StringType), StructField("peer", StringType),
      StructField("connection_protocol", StringType),
      StructField("start_time", TimestampType), StructField("stop_time", TimestampType),
      StructField("status", StringType), StructField("stop_reason", StringType),
      StructField("session_tag", StringType))),
    "sql_statements" -> StructType(Seq(
      StructField("statement_id", StringType), StructField("session_id", StringType),
      StructField("sql_text", StringType), StructField("flight_method", StringType),
      StructField("is_internal", BooleanType),
      StructField("prepare_success", BooleanType),
      StructField("prepare_error", StringType),
      StructField("created_time", TimestampType),
      StructField("query_tag", StringType),
      StructField("created_date", DateType))),
    "sql_executions" -> StructType(Seq(
      StructField("execution_id", StringType), StructField("statement_id", StringType),
      StructField("execution_start_time", TimestampType),
      StructField("execution_end_time", TimestampType),
      StructField("rows_fetched", LongType),
      StructField("status", StringType), StructField("error_message", StringType),
      StructField("duration_ms", LongType), StructField("total_duration_ms", LongType),
      StructField("query_profile", StringType),
      StructField("execution_date", DateType))))

  private val PartitionCol: Map[String, String] = Map(
    "sql_statements" -> "created_date", "sql_executions" -> "execution_date")

  /** The reference's id columns are UUID-typed; here they are STRING, so a
    * non-UUID configured id (e.g. a human-readable instance_id) stores
    * verbatim instead of nulling out.
    */
  private def uuidOrNull(s: String): String = strOrNull(s)

  private def strOrNull(s: String): String =
    if (s == null || s.isEmpty) null else s

  private def now(): java.sql.Timestamp =
    new java.sql.Timestamp(System.currentTimeMillis())
}
