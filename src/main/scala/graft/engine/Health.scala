package graft.engine

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Health service, re-implementing the reference's background prober
  * (`/root/reference/src/common/health_service.cpp`, wiring
  * `gizmosql_library.cpp:1006-1127`): a background thread runs
  * `health_check_query` (default `SELECT 1`) every `intervalSeconds`; if the
  * last success is older than `stalenessSeconds` the service reports
  * NOT_SERVING. The gRPC health proto endpoint would front `status` 1:1.
  */
final class Health(
    spark: SparkSession,
    healthCheckQuery: String = "SELECT 1",
    intervalSeconds: Long = 10,
    stalenessSeconds: Long = 30) extends AutoCloseable {

  sealed trait Status
  case object Serving extends Status
  case object NotServing extends Status

  private val lastSuccessMs = new AtomicLong(0L)
  private var scheduler: ScheduledExecutorService = _

  /** One probe, synchronously (also what the background loop runs). */
  def probe(): Boolean =
    try {
      spark.sql(healthCheckQuery).collect()
      lastSuccessMs.set(System.currentTimeMillis())
      true
    } catch { case _: Exception => false }

  def start(): this.type = {
    probe()
    scheduler = Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-health"); t.setDaemon(true); t
    })
    scheduler.scheduleAtFixedRate(() => probe(), intervalSeconds, intervalSeconds, TimeUnit.SECONDS)
    this
  }

  def status: Status =
    if (System.currentTimeMillis() - lastSuccessMs.get() <= stalenessSeconds * 1000) Serving
    else NotServing

  override def close(): Unit = if (scheduler != null) scheduler.shutdownNow()
}

/** Graceful shutdown state machine
  * (`/root/reference/src/common/include/detail/shutdown_state.h`, handler
  * behavior `duckdb_server.cpp:806-818, 989-997, 1193-1210`): first signal →
  * Draining (new sessions/statements rejected with a retriable error,
  * in-flight work allowed for a grace period); second signal or grace expiry
  * → Stopped (in-flight interrupted).
  */
final class ShutdownState(gracePeriodSeconds: Long = 30) {

  sealed trait Phase
  case object Running extends Phase
  case object Draining extends Phase
  case object Stopped extends Phase

  @volatile private var phase: Phase = Running
  @volatile private var drainStartMs: Long = 0L
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  def current: Phase = phase

  /** First signal: drain. Second signal: hard stop. */
  def signal(): Phase = synchronized {
    phase = phase match {
      case Running => drainStartMs = System.currentTimeMillis(); Draining
      case _ => Stopped
    }
    phase
  }

  def graceExpired: Boolean =
    phase == Draining &&
      System.currentTimeMillis() - drainStartMs > gracePeriodSeconds * 1000

  /** Gate for new work: Left(retriable-unavailable) while draining/stopped. */
  def admitNew(): Either[String, Unit] = phase match {
    case Running => inFlight.incrementAndGet(); Right(())
    case _ => Left("server is shutting down (UNAVAILABLE, retriable)")
  }

  def finishWork(): Unit = inFlight.decrementAndGet()

  /** Drain completes when in-flight work hits zero (or grace expires). */
  def drained: Boolean = phase != Running && (inFlight.get() == 0 || graceExpired)
}
