package graft.server

import graft.{SparkTestHarness, Tables}
import graft.engine.{Auth, GraftLog}
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.cert.X509Certificate
import java.util.Base64
import javax.net.ssl.{HostnameVerifier, HttpsURLConnection, SSLContext, SSLSession, SSLSocket, X509TrustManager}
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** TLS end-to-end over a real socket: keystore and PEM material, TLS 1.3
  * negotiation, plaintext refusal, and chunked (streamed) result bodies —
  * the reference's TLS listener behavior
  * (`/root/reference/src/common/gizmosql_library.cpp:497-560`).
  */
class TlsServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private val secret = "tls-spec-secret"
  private val password = "pw"

  private lazy val workDir = Files.createTempDirectory("graft-tls").toFile
  private lazy val ksPath = new java.io.File(workDir, "server.p12").getAbsolutePath
  private val ksPass = "changeit"

  // Self-signed server identity for 127.0.0.1, generated with the JDK's own
  // keytool (no external CA needed for a loopback test).
  private lazy val keystore: String = {
    val cmd = Seq("keytool", "-genkeypair", "-alias", "server", "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12", "-keystore", ksPath,
      "-storepass", ksPass, "-dname", "CN=127.0.0.1",
      "-ext", "SAN=IP:127.0.0.1", "-validity", "2")
    assert(cmd.! == 0, "keytool keypair generation failed")
    ksPath
  }

  // this spec's servers, told apart from other suites' in the shared log
  private val instanceId = "tls-spec-instance"

  private def newServer(tls: GraftHttpServer.Tls): (GraftHttpServer, Int) = {
    Tables.ensure(spark, SparkTestHarness.sfDir)
    val s = new GraftHttpServer(spark, secret, Auth.hashPassword(secret, password),
      instanceId = instanceId,
      onSessionCreate = Tables.ensure(_, SparkTestHarness.sfDir), tls = Some(tls))
    (s, s.start())
  }

  private lazy val (server, port) =
    newServer(GraftHttpServer.Tls.fromKeystore(keystore, ksPass.toCharArray))

  // Trust-all client context: the server cert is self-signed by design here.
  private lazy val trustAll: SSLContext = {
    val tm = new X509TrustManager {
      override def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def getAcceptedIssuers: Array[X509Certificate] = Array.empty
    }
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, Array(tm), null)
    ctx
  }

  private def post(port: Int, path: String, body: String,
      headers: (String, String)*): (Int, Map[String, String], Array[Byte]) = {
    val conn = URI.create(s"https://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpsURLConnection]
    conn.setSSLSocketFactory(trustAll.getSocketFactory)
    conn.setHostnameVerifier(new HostnameVerifier {
      override def verify(h: String, s: SSLSession): Boolean = true
    })
    conn.setRequestMethod("POST")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val bytes = if (stream == null) Array.empty[Byte] else stream.readAllBytes()
    import scala.jdk.CollectionConverters._
    val hdrs = conn.getHeaderFields.asScala.collect {
      case (k, v) if k != null => k.toLowerCase -> v.asScala.mkString(",")
    }.toMap
    conn.disconnect()
    (code, hdrs, bytes)
  }

  private def basic(user: String, pass: String): String =
    "Basic " + Base64.getEncoder.encodeToString(
      s"$user:$pass".getBytes(StandardCharsets.UTF_8))

  private lazy val token: String = {
    val (code, _, body) = post(port, "/auth", "",
      "Authorization" -> basic("gizmosql_username", password))
    assert(code == 200)
    new String(body, StandardCharsets.UTF_8).split("\"token\":\"")(1).split("\"")(0)
  }

  test("TLS 1.3 negotiated end-to-end") {
    val sock = trustAll.getSocketFactory
      .createSocket("127.0.0.1", port).asInstanceOf[SSLSocket]
    try {
      sock.startHandshake()
      assert(sock.getSession.getProtocol == "TLSv1.3")
    } finally sock.close()
  }

  test("auth + query succeed over HTTPS") {
    val (code, _, body) = post(port, "/sql", "SELECT COUNT(*) AS n FROM region",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    assert(code == 200)
    assert(new String(body, StandardCharsets.UTF_8) == """[{"n":5}]""")
  }

  test("plaintext client is refused when TLS is configured") {
    val conn = URI.create(s"http://127.0.0.1:$port/healthz").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(2000)
    conn.setReadTimeout(2000)
    intercept[java.io.IOException](conn.getResponseCode)
  }

  test("large JSON result streams chunked without driver materialization") {
    val (code, hdrs, body) = post(port, "/sql",
      "SELECT l_orderkey, l_partkey, l_extendedprice, l_returnflag FROM lineitem",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    assert(code == 200)
    // chunked transfer (no Content-Length): the server never buffered the body
    assert(hdrs.get("transfer-encoding").exists(_.contains("chunked")))
    assert(!hdrs.contains("content-length"))
    val text = new String(body, StandardCharsets.UTF_8)
    val expected = spark.table("lineitem").count()
    assert(text.startsWith("[") && text.endsWith("]"))
    assert(text.split("\\},\\{").length.toLong == expected)
  }

  test("Arrow result streams chunked and round-trips") {
    val (code, hdrs, body) = post(port, "/sql",
      "SELECT r_regionkey FROM region ORDER BY r_regionkey",
      "Authorization" -> s"Bearer $token")
    assert(code == 200)
    assert(hdrs.get("transfer-encoding").exists(_.contains("chunked")))
    val df = graft.sources.ArrowIO.fromArrowStream(spark, body)
    assert(df.collect().map(_.getInt(0)).sorted.sameElements(Array(0, 1, 2, 3, 4)))
  }

  test("PEM cert + PKCS#8 key (the reference's --tls file pair) works") {
    // Export the keytool identity as the reference-style PEM pair.
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(java.nio.file.Paths.get(keystore))
    try ks.load(in, ksPass.toCharArray) finally in.close()
    val key = ks.getKey("server", ksPass.toCharArray)
    val cert = ks.getCertificate("server")
    def pem(label: String, der: Array[Byte]): String =
      s"-----BEGIN $label-----\n" +
        Base64.getMimeEncoder(64, "\n".getBytes).encodeToString(der) +
        s"\n-----END $label-----\n"
    val certFile = new java.io.File(workDir, "server.crt")
    val keyFile = new java.io.File(workDir, "server.key")
    Files.writeString(certFile.toPath, pem("CERTIFICATE", cert.getEncoded))
    Files.writeString(keyFile.toPath, pem("PRIVATE KEY", key.getEncoded))
    val (pemServer, pemPort) = newServer(
      GraftHttpServer.Tls.fromPem(certFile.getAbsolutePath, keyFile.getAbsolutePath))
    try {
      val (code, _, body) = post(pemPort, "/auth", "",
        "Authorization" -> basic("gizmosql_username", password))
      assert(code == 200)
      assert(new String(body, StandardCharsets.UTF_8).contains("token"))
    } finally pemServer.close()
  }

  test("access log records authenticated and rejected requests, SQL redacted") {
    val entries = new java.util.concurrent.ConcurrentLinkedQueue[GraftLog.LogRecord]()
    val sink = GraftLog.registerSink { r =>
      if (r.component == "http" && r.instanceId == instanceId) { entries.add(r); () }
    }
    try {
      val (okCode, _, _) = post(port, "/sql",
        "SELECT r_name FROM region WHERE r_regionkey = 3",
        "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
      assert(okCode == 200)
      val (denied, _, _) = post(port, "/metrics", "", "Authorization" -> "Bearer bogus")
      assert(denied == 401)
    } finally GraftLog.removeSink(sink)
    // message "METHOD /path STATUS"; status, duration_ms, bytes, detail in the fields
    def field(r: GraftLog.LogRecord, k: String) =
      s""""$k":("(?:[^"\\\\]|\\\\.)*"|-?\\d+)""".r.findFirstMatchIn(r.fieldsJson).map(_.group(1))
    val all = entries.toArray(Array.empty[GraftLog.LogRecord]).toSeq
    val sqlEntry = all.find(_.message == "POST /sql 200").get // method, path, status
    assert(sqlEntry.username == "gizmosql_username")
    assert(field(sqlEntry, "status").contains("200"))
    assert(field(sqlEntry, "duration_ms").exists(_.toLong >= 0))
    assert(field(sqlEntry, "bytes").exists(_.toLong > 0))
    // redaction: the literal 3 never appears in the logged statement
    val detail = field(sqlEntry, "detail").get
    assert(detail.contains("r_regionkey = ?"))
    assert(!detail.matches(".*=\\s*3.*"))
    val deniedEntry = all.find(_.message.startsWith("POST /metrics")).get
    assert(field(deniedEntry, "status").contains("401") && deniedEntry.username == "")
  }

  test("server closes cleanly") {
    server.close()
  }
}
