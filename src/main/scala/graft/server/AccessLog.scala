package graft.server

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** HTTP access log, re-expressing the reference's access-log middleware
  * (`/root/reference/src/common/access_log_middleware.cpp`): one entry per
  * request with method, path, authenticated user, status, duration, and
  * response bytes. Statement text is stored REDACTED (literals stripped by
  * [[graft.engine.Observability.redact]]) — the raw SQL never reaches the
  * log, matching the reference's logging policy.
  *
  * Bounded in memory (ring of `capacity`); `snapshot` is the queryable view
  * the metrics endpoint and tests read.
  */
object AccessLog {
  final case class Entry(
      epochMs: Long, method: String, path: String, user: String,
      status: Int, durationMs: Long, bytes: Long, detail: String)
}

final class AccessLog(capacity: Int = 1000) {
  import AccessLog.Entry

  private val entries = new ConcurrentLinkedQueue[Entry]()
  // ConcurrentLinkedQueue.size walks the whole queue; count alongside it.
  private val count = new java.util.concurrent.atomic.AtomicInteger()

  def record(e: Entry): Unit = {
    entries.add(e)
    if (count.incrementAndGet() > capacity && entries.poll() != null) count.decrementAndGet()
  }

  def snapshot: Seq[Entry] = entries.asScala.toSeq

  /** One line per entry in common-log-ish form, for console sinks. */
  def format(e: Entry): String =
    s"${e.epochMs} ${e.user} ${e.method} ${e.path} ${e.status} ${e.durationMs}ms ${e.bytes}B" +
      (if (e.detail.nonEmpty) s" ${e.detail}" else "")
}
