package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Query instrumentation, re-implementing the reference's observability layer
  * (`/root/reference/src/common/gizmosql_telemetry.cpp` metrics,
  * `gizmosql_logging.cpp` structured logs with SQL redaction, and the
  * per-execution profile capture `duckdb_statement.cpp:2210-2221`) on
  * Spark's native hooks: a `QueryExecutionListener` records per-statement
  * rows/duration/status, and profile capture stores the executed physical
  * plan (`df.queryExecution`) when `gizmosql.capture_query_profile` is on.
  * Memory stays bounded however long the server runs: only the newest
  * `Observability.Capacity` records are kept, next to cumulative totals.
  */
final class Observability(captureProfile: () => Boolean,
    tagFor: SparkSession => String = _ => "") extends QueryExecutionListener {
  import Observability.Capacity

  final case class QueryRecord(
      name: String, durationNs: Long, status: String,
      outputRows: Option[Long], profile: Option[String],
      tag: String = "",
      completedAtMs: Long = System.currentTimeMillis())

  // The newest `Capacity` records in a ring: record number i sits in slot
  // i % Capacity. `next` numbers every record ever added (readers keep it
  // as a cursor); `floor` is where `clear` cut the history. The totals
  // count every record, dropped ones included.
  private val ring = new Array[QueryRecord](Capacity)
  private var next = 0L
  private var floor = 0L
  private var errors = 0L
  private var rows = 0L
  private var nanos = 0L

  private def add(r: QueryRecord): Unit = synchronized {
    ring((next % Capacity).toInt) = r
    next += 1
    if (r.status.startsWith("error")) errors += 1
    rows += r.outputRows.getOrElse(0L)
    nanos += r.durationNs
  }

  /** Redact literals from logged SQL, as the reference's logger does. */
  def redact(sql: String): String = Observability.redact(sql)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val rows = qe.executedPlan.metrics.get("numOutputRows").map(_.value)
    val profile = if (captureProfile()) Some(qe.executedPlan.toString) else None
    add(QueryRecord(funcName, durationNs, "success", rows, profile,
      tagFor(qe.sparkSession)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    add(QueryRecord(funcName, 0L, s"error: ${error.getMessage}", None, None,
      tagFor(qe.sparkSession)))

  /** The retained records numbered `from` on, oldest first, and the number
    * the next record will get — the cursor for the following call.
    */
  def since(from: Long): (Seq[QueryRecord], Long) = synchronized {
    val first = math.max(math.max(from, floor), next - Capacity)
    ((first until next).map(i => ring((i % Capacity).toInt)), next)
  }

  /** The newest `n` retained records, oldest first. */
  def recent(n: Int): Seq[QueryRecord] = synchronized { since(next - n)._1 }

  def snapshot: Seq[QueryRecord] = since(0L)._1

  /** Every record ever added: (statements, errors, output rows, duration ns). */
  def totals: (Long, Long, Long, Long) = synchronized { (next, errors, rows, nanos) }

  def clear(): Unit = synchronized { floor = next }

  def install(spark: SparkSession): this.type = {
    spark.listenerManager.register(this)
    this
  }

  /** Instrumentation view (the enterprise `gizmosql_statements` table shape,
    * reference dir `src/enterprise/instrumentation`): recorded executions as
    * a queryable DataFrame.
    */
  def statementsView(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("operation", StringType), StructField("duration_ms", DoubleType),
      StructField("status", StringType), StructField("output_rows", LongType),
      StructField("has_profile", BooleanType),
      // the reference's sql_statements.query_tag: the session's tag at
      // execution time, '' when unset (test_instance_session_query_tags.cpp)
      StructField("query_tag", StringType)))
    val rows = snapshot.map(r => Row(r.name, r.durationNs / 1e6, r.status,
      r.outputRows.map(Long.box).orNull, r.profile.isDefined, r.tag))
    spark.createDataFrame(rows.asJava, schema)
  }

  def installView(spark: SparkSession): Unit =
    statementsView(spark).createOrReplaceTempView("gizmosql_statements")
}

object Observability {
  /** Records kept for `/metrics`, the statements view and the OTLP spans. */
  val Capacity = 1000

  /** Redact literals from logged SQL, as the reference's logger does —
    * shared by the listener records and the query log. */
  def redact(sql: String): String =
    sql.replaceAll("'[^']*'", "'?'").replaceAll("(?<=[=<>(,\\s])\\d+(\\.\\d+)?", "?")
}
