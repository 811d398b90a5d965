package graft.engine

/** The bounded store of per-statement records, re-implementing the
  * reference's observability layer (`/root/reference/src/common/
  * gizmosql_telemetry.cpp` metrics, `gizmosql_logging.cpp` SQL redaction,
  * the per-execution profile capture `duckdb_statement.cpp:2210-2221`).
  *
  * The server records each client statement (`/sql`, `/execute`) once, on
  * its serving path, as one [[Observability.StatementRecord]]; `/metrics`,
  * [[OtlpExporter]] and [[InstrumentationSink]] all read that record. The
  * server's own Spark work (health probes, sink appends) is not a client
  * statement and is not recorded. Memory stays bounded however long the
  * server runs: only the newest `Observability.Capacity` records are kept,
  * next to cumulative totals.
  */
final class Observability {
  import Observability.{Capacity, StatementRecord}

  // The newest `Capacity` records in a ring: record number i sits in slot
  // i % Capacity. `next` numbers every record ever added (readers keep it
  // as a cursor); `floor` is where `clear` cut the history. The totals
  // count every record, dropped ones included.
  private val ring = new Array[StatementRecord](Capacity)
  private var next = 0L
  private var floor = 0L
  private var errors = 0L
  private var rows = 0L
  private var nanos = 0L

  def add(r: StatementRecord): Unit = synchronized {
    ring((next % Capacity).toInt) = r
    next += 1
    if (r.status != "success") errors += 1
    rows += math.max(r.outputRows, 0L)
    nanos += r.durationNs
  }

  /** The retained records numbered `from` on, oldest first, and the number
    * the next record will get — the cursor for the following call.
    */
  def since(from: Long): (Seq[StatementRecord], Long) = synchronized {
    val first = math.max(math.max(from, floor), next - Capacity)
    ((first until next).map(i => ring((i % Capacity).toInt)), next)
  }

  /** The newest `n` retained records, oldest first. */
  def recent(n: Int): Seq[StatementRecord] = synchronized { since(next - n)._1 }

  def snapshot: Seq[StatementRecord] = since(0L)._1

  /** Every record ever added: (statements, errors, output rows, duration ns). */
  def totals: (Long, Long, Long, Long) = synchronized { (next, errors, rows, nanos) }

  def clear(): Unit = synchronized { floor = next }
}

object Observability {
  /** Records kept for `/metrics` and the OTLP spans. */
  val Capacity = 1000

  /** One client statement execution — the reference's StatementRecord and
    * ExecutionRecord pair (`instrumentation_records.h:102-158`) in one row.
    *
    * @param statementId the `sql_statements` key: fresh for `/sql`, the
    *                    prepared handle for `/execute`
    * @param operation   the Flight method the endpoint stands in for
    * @param sql         the statement text, literals redacted
    * @param status      `success`, `error` or `timeout`
    * @param error       the failure message, "" on success
    * @param outputRows  the rows streamed to the client, -1 when the
    *                    result did not stream to the end
    * @param tag         the session's `gizmosql.query_tag`, "" when unset
    * @param profile     the executed physical plan when the session's
    *                    `gizmosql.capture_query_profile` is on, else ""
    */
  final case class StatementRecord(
      statementId: String, sessionId: String, operation: String, sql: String,
      status: String, error: String, outputRows: Long,
      startMs: Long, durationNs: Long, tag: String, profile: String) {
    def endMs: Long = startMs + durationNs / 1000000
  }

  /** Redact literals from logged SQL, as the reference's logger does —
    * shared by the statement records and the query log. */
  def redact(sql: String): String =
    sql.replaceAll("'[^']*'", "'?'").replaceAll("(?<=[=<>(,\\s])\\d+(\\.\\d+)?", "?")
}
