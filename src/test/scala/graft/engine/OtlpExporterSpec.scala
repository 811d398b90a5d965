package graft.engine

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestHarness

/** OTLP/HTTP export against a local fake collector: payload shape, resource
  * attributes, custom headers, the span cursor, and the env gate — the parts
  * of `docs/opentelemetry.md`'s contract testable without a real backend.
  */
class OtlpExporterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private final class Collector {
    @volatile var metricBodies: List[String] = Nil
    @volatile var traceBodies: List[String] = Nil
    @volatile var lastHeaders: Map[String, String] = Map.empty
    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    private def handler(sink: String => Unit) = new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        import scala.jdk.CollectionConverters._
        lastHeaders = ex.getRequestHeaders.asScala.map { case (k, v) =>
          k.toLowerCase -> v.get(0)
        }.toMap
        sink(body)
        ex.sendResponseHeaders(200, 2)
        ex.getResponseBody.write("{}".getBytes); ex.close()
      }
    }
    server.createContext("/v1/metrics", handler(b => metricBodies ::= b))
    server.createContext("/v1/traces", handler(b => traceBodies ::= b))
    server.start()
    def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  private def recordedObservability(): Observability = {
    val obs = new Observability(() => false).install(spark)
    spark.range(100).count() // a real action so the listener records a statement
    val deadline = System.currentTimeMillis() + 10000
    while (obs.snapshot.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(obs.snapshot.nonEmpty, "listener never fired")
    obs
  }

  test("flush posts OTLP metrics and spans with resource attributes and headers") {
    val collector = new Collector
    try {
      val obs = recordedObservability()
      val exporter = new OtlpExporter(obs, collector.endpoint, "graft-test",
        headers = Map("x-api-key" -> "secret"), environment = Some("ci"))
      exporter.flush()
      assert(collector.metricBodies.nonEmpty && collector.traceBodies.nonEmpty)
      val m = collector.metricBodies.head
      assert(m.contains(""""key":"service.name","value":{"stringValue":"graft-test"}"""))
      assert(m.contains(""""key":"deployment.environment","value":{"stringValue":"ci"}"""))
      assert(m.contains(""""name":"gizmosql.statements""""))
      assert(m.contains(""""isMonotonic":true"""))
      val t = collector.traceBodies.head
      assert(t.contains(""""spans":[{"traceId":""") && t.contains(""""status":{"code":1}"""))
      assert(collector.lastHeaders.get("x-api-key").contains("secret"))
      assert(collector.lastHeaders.get("content-type").contains("application/json"))
    } finally collector.stop()
  }

  test("spans export once per record; metrics stay cumulative") {
    val collector = new Collector
    try {
      // NOT installed on the shared session: suites run in parallel against
      // one SparkContext, so a listener-fed instance can pick up a
      // concurrent suite's query between the two flushes (observed flake:
      // a Health.scala collect span landed in flush #2). Feeding the
      // listener callback directly keeps the record set exact.
      val obs = new Observability(() => false)
      obs.onSuccess("count", spark.range(1).queryExecution, 1000000L)
      val exporter = new OtlpExporter(obs, collector.endpoint, "graft-test")
      exporter.flush()
      val firstTraces = collector.traceBodies.size
      exporter.flush() // no new records: metrics re-post, no new trace post
      assert(collector.traceBodies.size == firstTraces)
      assert(collector.metricBodies.size == 2)
    } finally collector.stop()
  }

  test("the record history is a bounded ring; each retained record exports once") {
    val collector = new Collector
    try {
      val obs = new Observability(() => false)
      val qe = spark.range(1).queryExecution
      val exporter = new OtlpExporter(obs, collector.endpoint, "graft-test")
      (1 to 3).foreach(i => obs.onSuccess(s"a$i", qe, 1000L))
      exporter.flush()
      // capacity + 5 more: the oldest five of them drop before the next flush
      val n = Observability.Capacity + 5
      (1 to n).foreach(i => obs.onSuccess(s"b$i", qe, 1000L))
      val retained = (6 to n).map(i => s"b$i")
      assert(obs.snapshot.map(_.name) == retained)
      assert(obs.recent(3).map(_.name) == retained.takeRight(3))
      exporter.flush()
      exporter.flush()
      val spans = collector.traceBodies.flatMap(
        """"name":"([ab]\d+)"""".r.findAllMatchIn(_).map(_.group(1)))
      assert(spans.sorted == (Seq("a1", "a2", "a3") ++ retained).sorted)
      // the cumulative metrics still count the dropped records
      val statements = """"gizmosql\.statements".*?"asInt":"(\d+)"""".r
      assert(statements.findFirstMatchIn(collector.metricBodies.head).map(_.group(1))
        .contains((3 + n).toString))
    } finally collector.stop()
  }

  test("export failures never propagate (unreachable endpoint)") {
    val obs = recordedObservability()
    val exporter = new OtlpExporter(obs, "http://127.0.0.1:1", "graft-test")
    exporter.flush() // must not throw
  }

  test("env gate: disabled by default, enabled by GIZMOSQL_OTEL_ENABLED; headers parse") {
    val obs = new Observability(() => false)
    assert(OtlpExporter.fromEnv(obs, Map.empty).isEmpty)
    assert(OtlpExporter.fromEnv(obs, Map("GIZMOSQL_OTEL_ENDPOINT" -> "http://x")).isEmpty)
    assert(OtlpExporter.fromEnv(obs, Map("GIZMOSQL_OTEL_ENABLED" -> "true")).isDefined)
    assert(OtlpExporter.fromEnv(obs, Map("GIZMOSQL_OTEL_ENABLED" -> "1")).isDefined)
    assert(OtlpExporter.parseHeaders("a=1, b=2=3") === Map("a" -> "1", "b" -> "2=3"))
  }
}
