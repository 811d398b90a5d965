package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ThreadLocalRandom

/** OTLP/HTTP telemetry export — the wire half of the observability layer.
  *
  * Mirrors the reference's OpenTelemetry integration
  * (`/root/reference/src/common/gizmosql_telemetry.cpp:139-180`: OtlpHttp
  * exporters posting to `<endpoint>/v1/traces` and `<endpoint>/v1/metrics`,
  * `service.name` + `deployment.environment` resource attributes, custom
  * OTLP headers) and its configuration contract
  * (`/root/reference/docs/opentelemetry.md`: `GIZMOSQL_OTEL_ENABLED`,
  * `GIZMOSQL_OTEL_ENDPOINT` default `http://localhost:4318`,
  * `GIZMOSQL_OTEL_SERVICE_NAME` default `gizmosql`, `GIZMOSQL_OTEL_HEADERS`
  * as `k1=v1,k2=v2`, disabled by default).
  *
  * The payloads are the OTLP protobuf-JSON mapping posted with the JDK HTTP
  * client — no OTel SDK dependency, which is the point: the environment has
  * no OTLP jars, and the JSON encoding is part of the OTLP spec, so any
  * collector accepts it. Export failures never propagate: telemetry must not
  * take the server down (the reference's exporters drop on error the same
  * way).
  *
  * Both read the server's statement records ([[Observability]]). Metrics
  * are cumulative monotonic sums over every recorded statement
  * (statements, errors, output rows, total duration); each flush also
  * exports one span per statement recorded since the previous flush and
  * still held in the bounded record history (the metrics count the
  * records it dropped as well): named by the statement's operation, with
  * the rows streamed as an attribute.
  */
final class OtlpExporter(obs: Observability, endpoint: String, serviceName: String,
    headers: Map[String, String] = Map.empty, environment: Option[String] = None) {

  // Bounded I/O everywhere: a collector that accepts TCP but never answers
  // must not wedge the flush timer or server shutdown.
  private val client = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(5)).build()
  private val startNano = System.currentTimeMillis() * 1000000L
  private var exported = 0L // record-number cursor into obs.since

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def resourceJson: String = {
    val attrs = Seq("service.name" -> serviceName) ++
      environment.map("deployment.environment" -> _)
    attrs.map { case (k, v) =>
      s"""{"key":"${esc(k)}","value":{"stringValue":"${esc(v)}"}}"""
    }.mkString("""{"attributes":[""", ",", "]}")
  }

  private def sumMetric(name: String, unit: String, value: Long, now: Long): String =
    s"""{"name":"${esc(name)}","unit":"$unit","sum":{"aggregationTemporality":2,""" +
      s""""isMonotonic":true,"dataPoints":[{"startTimeUnixNano":"$startNano",""" +
      s""""timeUnixNano":"$now","asInt":"$value"}]}}"""

  private def metricsJson(now: Long): String = {
    val (nStatements, nErrors, nRows, nsDuration) = obs.totals
    val metrics = Seq(
      sumMetric("gizmosql.statements", "1", nStatements, now),
      sumMetric("gizmosql.statement.errors", "1", nErrors, now),
      sumMetric("gizmosql.statement.output_rows", "1", nRows, now),
      sumMetric("gizmosql.statement.duration", "ns", nsDuration, now))
    s"""{"resourceMetrics":[{"resource":$resourceJson,"scopeMetrics":[{""" +
      s""""scope":{"name":"graft"},"metrics":[${metrics.mkString(",")}]}]}]}"""
  }

  private def hex(bytes: Int): String = {
    val b = new Array[Byte](bytes)
    ThreadLocalRandom.current().nextBytes(b)
    b.map(x => f"$x%02x").mkString
  }

  private def tracesJson(rs: Seq[Observability.StatementRecord]): String = {
    val spans = rs.map { r =>
      val code = if (r.status == "success") 1 else 2
      val start = r.startMs * 1000000L
      s"""{"traceId":"${hex(16)}","spanId":"${hex(8)}","name":"${esc(r.operation)}",""" +
        s""""kind":2,"startTimeUnixNano":"$start","endTimeUnixNano":"${start + r.durationNs}",""" +
        s""""attributes":[{"key":"gizmosql.rows","value":{"intValue":"${r.outputRows}"}}],""" +
        s""""status":{"code":$code}}"""
    }
    s"""{"resourceSpans":[{"resource":$resourceJson,"scopeSpans":[{""" +
      s""""scope":{"name":"graft"},"spans":[${spans.mkString(",")}]}]}]}"""
  }

  private def post(path: String, body: String): Unit =
    try {
      val builder = HttpRequest.newBuilder(URI.create(endpoint + path))
        .timeout(java.time.Duration.ofSeconds(10))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
      headers.foreach { case (k, v) => builder.header(k, v) }
      client.send(builder.build(), HttpResponse.BodyHandlers.discarding())
    } catch { case _: Exception => () } // telemetry never takes the server down

  /** Export the cumulative metric state and any spans recorded since the
    * previous flush. Safe to call from a timer thread and from shutdown.
    */
  def flush(): Unit = synchronized {
    val (fresh, cursor) = obs.since(exported)
    exported = cursor
    val now = System.currentTimeMillis() * 1000000L
    post("/v1/metrics", metricsJson(now))
    if (fresh.nonEmpty) post("/v1/traces", tracesJson(fresh))
  }
}

object OtlpExporter {
  /** The reference's env contract: enabled only when GIZMOSQL_OTEL_ENABLED
    * is `true`/`1`; endpoint/service-name/headers from the matching vars;
    * `deployment.environment` from GIZMOSQL_ENVIRONMENT falling back to
    * ENVIRONMENT (`docs/opentelemetry.md`).
    */
  def fromEnv(obs: Observability, env: Map[String, String] = sys.env): Option[OtlpExporter] = {
    val enabled = env.get("GIZMOSQL_OTEL_ENABLED")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    if (!enabled) None
    else Some(new OtlpExporter(
      obs,
      endpoint = env.getOrElse("GIZMOSQL_OTEL_ENDPOINT", "http://localhost:4318"),
      serviceName = env.getOrElse("GIZMOSQL_OTEL_SERVICE_NAME", "gizmosql"),
      headers = env.get("GIZMOSQL_OTEL_HEADERS").map(parseHeaders).getOrElse(Map.empty),
      environment = env.get("GIZMOSQL_ENVIRONMENT").orElse(env.get("ENVIRONMENT"))))
  }

  private[engine] def parseHeaders(s: String): Map[String, String] =
    s.split(",").iterator.map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
}
