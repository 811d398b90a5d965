package graft.server

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestHarness, Tables}
import graft.engine.Auth
import graft.sources.ArrowIO
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.Base64

/** End-to-end over a real socket: auth handshake, bearer-bound statement
  * execution, Arrow IPC and JSON result encodings, guard rejections, health.
  */
class HttpServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private val secret = "server-spec-secret"
  private val password = "pw"

  private val idpKeys = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }
  private def externalToken(email: String): String =
    io.jsonwebtoken.Jwts.builder()
      .issuer("https://idp.example.com").audience().add("graft").and()
      .subject(email).claim("email", email)
      .issuedAt(new java.util.Date())
      .expiration(java.util.Date.from(java.time.Instant.now().plusSeconds(600)))
      .signWith(idpKeys.getPrivate).compact()

  private lazy val (server, port) = {
    Tables.ensure(spark, SparkTestHarness.sfDir)
    val s = new GraftHttpServer(spark, secret, Auth.hashPassword(secret, password),
      onSessionCreate = Tables.ensure(_, SparkTestHarness.sfDir),
      oidc = Some(graft.engine.TokenAuth.Config(
        issuer = "https://idp.example.com", audience = "graft",
        publicKey = idpKeys.getPublic)),
      // this spec exercises KILL SESSION / query_tag without a license —
      // explicit opt-out of the server's Core-unless-licensed default
      unrestrictedLicense = true)
    (s, s.start())
  }
  private lazy val client = HttpClient.newHttpClient()

  private def post(path: String, body: String, headers: (String, String)*): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def basic(user: String, pass: String): String =
    "Basic " + Base64.getEncoder.encodeToString(s"$user:$pass".getBytes(StandardCharsets.UTF_8))

  private def tokenOf(resp: HttpResponse[Array[Byte]]): String =
    new String(resp.body(), StandardCharsets.UTF_8).split("\"token\":\"")(1).split("\"")(0)

  private lazy val token: String = {
    val resp = post("/auth", "", "Authorization" -> basic("gizmosql_username", password))
    assert(resp.statusCode() == 200)
    tokenOf(resp)
  }

  test("oversized request metadata is rejected with 431 (max_metadata_size)") {
    // default cap 8 KiB, matching the reference's SETTINGS_MAX_HEADER_LIST_SIZE
    val big = "x" * 9000
    val resp = post("/sql", "SELECT 1",
      "Authorization" -> s"Bearer $token", "X-Trace-Baggage" -> big)
    assert(resp.statusCode() == 431)
    assert(new String(resp.body(), StandardCharsets.UTF_8).contains("max_metadata_size"))
    // same request under the cap still works
    val ok = post("/sql", "SELECT 1 AS one",
      "Authorization" -> s"Bearer $token", "X-Trace-Baggage" -> ("x" * 100))
    assert(ok.statusCode() == 200)
  }

  test("auth rejects bad credentials and missing header") {
    assert(post("/auth", "", "Authorization" -> basic("gizmosql_username", "wrong")).statusCode() == 401)
    assert(post("/auth", "").statusCode() == 401)
  }

  test("bearer query returns Arrow IPC that round-trips to the right rows") {
    val resp = post("/sql", "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
      "Authorization" -> s"Bearer $token")
    assert(resp.statusCode() == 200)
    assert(resp.headers().firstValue("Content-Type").orElse("") == "application/vnd.apache.arrow.stream")
    val df = ArrowIO.fromArrowStream(spark, resp.body())
    val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(rows.length == 5 && rows.head == (0 -> "AFRICA"))
  }

  test("a nested DATE value comes back over /sql as Arrow") {
    val resp = post("/sql", "SELECT array(DATE '2024-01-15') AS d", "Authorization" -> s"Bearer $token")
    assert(resp.statusCode() == 200)
    val rows = ArrowIO.fromArrowStream(spark, resp.body()).collect()
    assert(rows.map(_.getSeq[java.sql.Date](0)).toSeq == Seq(Seq(java.sql.Date.valueOf("2024-01-15"))))
  }

  test("Accept: application/json returns a JSON row array") {
    val resp = post("/sql", "SELECT COUNT(*) AS n FROM region",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    assert(resp.statusCode() == 200)
    assert(new String(resp.body(), StandardCharsets.UTF_8) == """[{"n":5}]""")
  }

  test("a wire SELECT spanning more result partitions than the fetch window streams every row in order") {
    // own session: the partition count is a session setting
    val tok = tokenOf(post("/auth", "", "Authorization" -> basic("gizmosql_username", password)))
    assert(post("/sql", "SET spark.sql.shuffle.partitions=64",
      "Authorization" -> s"Bearer $tok").statusCode() == 200)
    assert(spark.sparkContext.defaultParallelism < 64, "the result must span several windows")
    val resp = post("/sql", "SELECT id FROM range(0, 200000, 1, 64) ORDER BY id DESC",
      "Authorization" -> s"Bearer $tok")
    assert(resp.statusCode() == 200)
    val ids = ArrowIO.fromArrowStream(spark, resp.body()).collect().map(_.getLong(0))
    assert(ids.length == 200000)
    assert(ids.sameElements((0L until 200000L).reverse), "rows out of order")
  }

  test("a wire result larger than spark.driver.maxResultSize streams when each partition fits") {
    // 16 partitions of about 1.4 MB each (as UnsafeRows): the 2 MB limit
    // admits one partition per job but not two
    val sc = spark.sparkContext
    assert(sc.defaultParallelism >= 2, "a fetch window must be able to hold two partitions")
    val q = "SELECT id, repeat('x', 200) AS pad FROM range(0, 96000, 1, 16)"
    val resp = org.apache.spark.GraftConfShim.withContextConf(sc, "spark.driver.maxResultSize", "2m") {
      post("/sql", q, "Authorization" -> s"Bearer $token")
    }
    assert(resp.statusCode() == 200)
    val rows = ArrowIO.fromArrowStream(spark, resp.body()).collect()
    assert(rows.length == 96000)
    assert(rows.map(_.getLong(0)).sameElements(0L until 96000L), "rows out of order")
    assert(rows.forall(_.getString(1).length == 200))
  }

  test("Arrow and JSON carry the same rows for a multi-partition ORDER BY result") {
    val q = "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders " +
      "ORDER BY o_totalprice DESC, o_orderkey"
    val arrow = post("/sql", q, "Authorization" -> s"Bearer $token")
    val json = post("/sql", q, "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    assert(arrow.statusCode() == 200 && json.statusCode() == 200)
    val decoded = ArrowIO.fromArrowStream(spark, arrow.body())
    val fromArrow = decoded.collect().toSeq
    import spark.implicits._
    val fromJson = spark.read.schema(decoded.schema)
      .json(Seq(new String(json.body(), StandardCharsets.UTF_8)).toDS()).collect().toSeq
    assert(fromArrow.size > 100, "the result must span several rows and partitions")
    assert(fromJson == fromArrow)
  }

  test("garbage bearer token is rejected") {
    assert(post("/sql", "SELECT 1", "Authorization" -> "Bearer not-a-jwt").statusCode() == 401)
  }

  test("staged transaction over the wire: update, read-your-writes, rollback") {
    def sql(s: String): String = {
      val r = post("/sql", s, "Authorization" -> s"Bearer $token",
        "Accept" -> "application/json")
      assert(r.statusCode() == 200, s"$s -> ${r.statusCode()}")
      new String(r.body(), StandardCharsets.UTF_8)
    }
    sql("DROP TABLE IF EXISTS wire_txn")
    sql("CREATE TABLE wire_txn USING parquet AS SELECT 1 AS id, 10 AS v")
    sql("BEGIN")
    assert(sql("UPDATE wire_txn SET v = 99").contains("\"affected\":1"))
    assert(sql("SELECT v FROM wire_txn").contains("99"))
    // Non-DML commands are refused while the transaction is open.
    val refused = post("/sql", "CREATE TABLE wire_txn2(x INT) USING parquet",
      "Authorization" -> s"Bearer $token")
    assert(refused.statusCode() == 400)
    sql("ROLLBACK")
    assert(sql("SELECT v FROM wire_txn").contains("10"))
  }

  test("readonly role cannot execute writes through the wire") {
    val roToken = Auth.mintToken(secret, "reader", "readonly", "graft-instance")
    val resp = post("/sql", "CREATE TABLE wire_spec_t AS SELECT 1 AS x",
      "Authorization" -> s"Bearer $roToken")
    assert(resp.statusCode() == 403)
  }

  test("guard blocks local-path scans for non-admin roles over the wire") {
    val roToken = Auth.mintToken(secret, "reader", "readonly", "graft-instance")
    val resp = post("/sql", "SELECT * FROM parquet.`/etc/passwd`",
      "Authorization" -> s"Bearer $roToken")
    assert(resp.statusCode() == 403)
  }

  test("analysis errors surface as 400 with a JSON error body") {
    val resp = post("/sql", "SELECT no_such_column FROM region",
      "Authorization" -> s"Bearer $token")
    assert(resp.statusCode() == 400)
    assert(new String(resp.body(), StandardCharsets.UTF_8).contains("error"))
  }

  test("healthz reports SERVING") {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/healthz")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200 && resp.body().contains("SERVING"))
  }

  test("10 concurrent wire clients execute queries with zero failures") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val queries = Seq(
      "SELECT COUNT(*) AS n FROM lineitem",
      "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3",
      "SELECT o_orderpriority, COUNT(*) AS c FROM orders GROUP BY o_orderpriority ORDER BY 1",
      "SELECT MAX(s_acctbal) AS m FROM supplier",
      "SELECT r_name FROM region ORDER BY r_regionkey")
    val codes = Await.result(
      Future.sequence((0 until 10).map { i =>
        Future {
          // each client gets its own token => its own isolated session
          val t = {
            val resp = post("/auth", "", "Authorization" -> basic("gizmosql_username", password))
            tokenOf(resp)
          }
          post("/sql", queries(i % queries.length),
            "Authorization" -> s"Bearer $t", "Accept" -> "application/json").statusCode()
        }
      }), 5.minutes)
    assert(codes.forall(_ == 200), s"all wire clients should succeed: $codes")
  }

  test("prepared statement round-trip: prepare, execute with typed params, close") {
    val prep = post("/prepare", "SELECT n_name FROM nation WHERE n_nationkey = :k",
      "Authorization" -> s"Bearer $token")
    assert(prep.statusCode() == 200)
    val handle = new String(prep.body(), StandardCharsets.UTF_8)
      .split("\"handle\":\"")(1).split("\"")(0)

    val exec = post("/execute", "k=3", "Authorization" -> s"Bearer $token",
      "X-Graft-Handle" -> handle, "Accept" -> "application/json")
    assert(exec.statusCode() == 200)
    assert(new String(exec.body(), StandardCharsets.UTF_8) == """[{"n_name":"NATION_3"}]""")

    assert(post("/prepared/close", "", "Authorization" -> s"Bearer $token",
      "X-Graft-Handle" -> handle).statusCode() == 200)
    // executing a closed handle fails
    assert(post("/execute", "k=3", "Authorization" -> s"Bearer $token",
      "X-Graft-Handle" -> handle).statusCode() == 400)
  }

  test("a re-executed prepared SELECT sees another session's committed transaction") {
    val writer = tokenOf(post("/auth", "", "Authorization" -> basic("gizmosql_username", password)))
    val readerId = Auth.validate(secret, token, "graft-instance").toOption.get.sessionId
    assert(Auth.validate(secret, writer, "graft-instance").toOption.get.sessionId != readerId,
      "each login must get its own session")
    def sql(tok: String, s: String): String = {
      val r = post("/sql", s, "Authorization" -> s"Bearer $tok", "Accept" -> "application/json")
      assert(r.statusCode() == 200, s"$s -> ${r.statusCode()}")
      new String(r.body(), StandardCharsets.UTF_8)
    }
    sql(writer, "DROP TABLE IF EXISTS wire_prep_vis")
    sql(writer, "CREATE TABLE wire_prep_vis USING parquet AS SELECT id, id * 10 AS v FROM range(3)")
    val prep = post("/prepare", "SELECT CAST(SUM(v) AS BIGINT) AS s FROM wire_prep_vis",
      "Authorization" -> s"Bearer $token")
    assert(prep.statusCode() == 200)
    val handle = new String(prep.body(), StandardCharsets.UTF_8)
      .split("\"handle\":\"")(1).split("\"")(0)
    def execute(): String = {
      val r = post("/execute", "", "Authorization" -> s"Bearer $token",
        "X-Graft-Handle" -> handle, "Accept" -> "application/json")
      new String(r.body(), StandardCharsets.UTF_8)
    }
    assert(execute() == """[{"s":30}]""")
    sql(writer, "BEGIN")
    sql(writer, "UPDATE wire_prep_vis SET v = v + 1")
    assert(execute() == """[{"s":30}]""", "uncommitted writes must stay invisible")
    sql(writer, "COMMIT")
    assert(execute() == """[{"s":33}]""")
  }

  test("bulk ingest over the wire: create, then append doubles the rows") {
    val payload = ArrowIO.toArrowStream(
      spark.sql("SELECT r_regionkey AS k, r_name AS name FROM region"))
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(payload))
      .header("Authorization", s"Bearer $token")
      .header("X-Graft-Table", "wire_ingest_t").header("X-Graft-Mode", "replace")
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    assert(resp.body().contains("\"rows\":5"))

    val b2 = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(payload))
      .header("Authorization", s"Bearer $token")
      .header("X-Graft-Table", "wire_ingest_t").header("X-Graft-Mode", "append")
    assert(client.send(b2.build(), HttpResponse.BodyHandlers.ofString()).statusCode() == 200)

    val count = post("/sql", "SELECT COUNT(*) AS n FROM wire_ingest_t",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    assert(new String(count.body(), StandardCharsets.UTF_8) == """[{"n":10}]""")
  }

  test("a cached /sql count sees an /ingest append, in the ingesting session and in another") {
    val other = tokenOf(post("/auth", "", "Authorization" -> basic("gizmosql_username", password)))
    val payload = ArrowIO.toArrowStream(
      spark.sql("SELECT r_regionkey AS k, r_name AS name FROM region"))
    def ingest(mode: String): Unit = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(payload))
        .header("Authorization", s"Bearer $token")
        .header("X-Graft-Table", "wire_ingest_vis").header("X-Graft-Mode", mode)
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
    }
    def count(tok: String): String = new String(post("/sql",
      "SELECT COUNT(*) AS n FROM wire_ingest_vis",
      "Authorization" -> s"Bearer $tok", "Accept" -> "application/json").body(),
      StandardCharsets.UTF_8)
    ingest("replace")
    // read twice in each session, so the second read is a plan-cache hit
    for (t <- Seq(token, other); _ <- 1 to 2) assert(count(t) == """[{"n":5}]""")
    ingest("append")
    assert(count(token) == """[{"n":10}]""", "the ingesting session")
    assert(count(other) == """[{"n":10}]""", "another session")
  }

  test("readonly role cannot ingest") {
    val roToken = Auth.mintToken(secret, "reader", "readonly", "graft-instance")
    val resp = post("/ingest", "", "Authorization" -> s"Bearer $roToken",
      "X-Graft-Table" -> "wire_ingest_t2")
    assert(resp.statusCode() == 403)
  }

  test("metrics endpoint reports executions to admins only") {
    // ensure at least one statement has executed through the wire
    post("/sql", "SELECT COUNT(*) AS n FROM region",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/metrics"))
        .GET().header("Authorization", s"Bearer $token").build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200)
    assert(resp.body().contains("\"executions\":") && resp.body().contains("duration_ms"))

    val roToken = Auth.mintToken(secret, "reader", "readonly", "graft-instance")
    val denied = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/metrics"))
        .GET().header("Authorization", s"Bearer $roToken").build(),
      HttpResponse.BodyHandlers.ofString())
    assert(denied.statusCode() == 403)
  }

  test("nested types survive the Arrow wire: arrays, structs, maps") {
    val resp = post("/sql",
      "SELECT n_nationkey, array(n_nationkey, n_regionkey) AS arr, " +
      "named_struct('k', n_nationkey, 'nm', n_name) AS st, map(n_name, n_regionkey) AS mp " +
      "FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
      "Authorization" -> s"Bearer $token")
    assert(resp.statusCode() == 200)
    val rows = ArrowIO.fromArrowStream(spark, resp.body()).orderBy("n_nationkey").collect()
    assert(rows.length == 3)
    assert(rows(1).getSeq[Int](1).head == 1)
    assert(rows(2).getStruct(2).getAs[String]("nm") == "NATION_2")
    assert(rows(0).getMap[String, Int](3).contains("NATION_0"))
  }

  test("JWKS-backed OIDC over the wire: key rotation takes effect without restart") {
    def b64(bi: java.math.BigInteger): String = {
      val raw = bi.toByteArray
      val u = if (raw.length > 1 && raw(0) == 0) raw.drop(1) else raw
      Base64.getUrlEncoder.withoutPadding.encodeToString(u)
    }
    def jwksJson(entries: (String, java.security.interfaces.RSAPublicKey)*): String =
      entries.map { case (kid, k) =>
        s"""{"kty":"RSA","use":"sig","alg":"RS256","kid":"$kid",""" +
          s""""n":"${b64(k.getModulus)}","e":"${b64(k.getPublicExponent)}"}"""
      }.mkString("""{"keys":[""", ",", "]}")
    def kidToken(kp: java.security.KeyPair, kid: String): String =
      io.jsonwebtoken.Jwts.builder()
        .header().keyId(kid).and()
        .issuer("https://idp.example.com").audience().add("graft").and()
        .subject("alice@example.com").claim("email", "alice@example.com")
        .expiration(java.util.Date.from(java.time.Instant.now().plusSeconds(600)))
        .signWith(kp.getPrivate).compact()
    val newKeys = { val g = java.security.KeyPairGenerator.getInstance("RSA"); g.initialize(2048); g.generateKeyPair() }
    val jwksFile = java.nio.file.Files.createTempFile("graft-wire-jwks", ".json")
    java.nio.file.Files.write(jwksFile,
      jwksJson("rot1" -> idpKeys.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey]).getBytes(StandardCharsets.UTF_8))
    // refreshMs = 0: re-read on every auth, so the rotation is immediate
    val mgr = graft.engine.JwksManager.fromFile(jwksFile.toString, refreshMs = 0L)
    val s2 = new GraftHttpServer(spark, secret, Auth.hashPassword(secret, password),
      onSessionCreate = Tables.ensure(_, SparkTestHarness.sfDir),
      oidcJwks = Some(graft.engine.TokenAuth.JwksConfig(
        issuer = "https://idp.example.com", audience = "graft", jwks = mgr)))
    val p2 = s2.start()
    try {
      def auth(jwt: String): Int = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p2/auth"))
          .POST(HttpRequest.BodyPublishers.ofString(""))
          .header("Authorization", basic("token", jwt))
        client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray()).statusCode()
      }
      assert(auth(kidToken(idpKeys, "rot1")) == 200)
      // IdP rotates: same server process, new document on disk
      java.nio.file.Files.write(jwksFile,
        jwksJson("rot2" -> newKeys.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey]).getBytes(StandardCharsets.UTF_8))
      assert(auth(kidToken(idpKeys, "rot1")) == 401, "retired key must stop verifying")
      assert(auth(kidToken(newKeys, "rot2")) == 200, "rotated-in key must verify without restart")
    } finally s2.close()
  }

  test("OIDC bootstrap: username 'token' with an external JWT authenticates; forgeries fail") {
    val resp = post("/auth", "", "Authorization" -> basic("token", externalToken("alice@example.com")))
    assert(resp.statusCode() == 200)
    val t = tokenOf(resp)
    val q = post("/sql", "SELECT COUNT(*) AS n FROM region",
      "Authorization" -> s"Bearer $t", "Accept" -> "application/json")
    assert(q.statusCode() == 200)
    assert(post("/auth", "", "Authorization" -> basic("token", "not.a.jwt")).statusCode() == 401)
    // a structurally valid JWT signed by the WRONG key must also be rejected
    val attacker = { val g = java.security.KeyPairGenerator.getInstance("RSA"); g.initialize(2048); g.generateKeyPair() }
    val forged = io.jsonwebtoken.Jwts.builder()
      .issuer("https://idp.example.com").audience().add("graft").and()
      .subject("alice@example.com").claim("email", "alice@example.com")
      .expiration(java.util.Date.from(java.time.Instant.now().plusSeconds(600)))
      .signWith(attacker.getPrivate).compact()
    assert(post("/auth", "", "Authorization" -> basic("token", forged)).statusCode() == 401)
  }

  test("non-admin roles cannot KILL SESSION; self-kill is rejected") {
    val vResp = post("/auth", "", "Authorization" -> basic("token", externalToken("lowpriv@example.com")))
    val vTok = tokenOf(vResp)
    // default OIDC role is 'user' — denied
    assert(post("/sql", "KILL SESSION 'any-id'",
      "Authorization" -> s"Bearer $vTok").statusCode() == 403)
    // admin killing itself — rejected as a bad request
    val selfId = Auth.validate(secret, token, "graft-instance").toOption.get.sessionId
    assert(post("/sql", s"KILL SESSION '$selfId'",
      "Authorization" -> s"Bearer $token").statusCode() == 400)
  }

  test("SET intercept and settings table function work over the wire") {
    val set = post("/sql", "SET SESSION gizmosql.query_tag = 'wire-test'",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    assert(set.statusCode() == 200, new String(set.body(), StandardCharsets.UTF_8))
    val read = post("/sql",
      "SELECT value FROM gizmosql_settings WHERE name = 'gizmosql.query_tag'",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    assert(new String(read.body(), StandardCharsets.UTF_8) == """[{"value":"wire-test"}]""")
  }

  test("each statement record carries the session's query_tag at execution") {
    def run(sql: String) = assert(post("/sql", sql, "Authorization" -> s"Bearer $token",
      "Accept" -> "application/json").statusCode() == 200, sql)
    def tagOf(probe: String) = server.observability.snapshot.filter(_.sql.contains(probe))
      .map(_.tag)
    try {
      run("""SET SESSION gizmosql.query_tag = '{"request_id":"abc-123"}'""")
      run("SELECT 1 AS tag_on_probe")
      assert(tagOf("tag_on_probe") == Seq("""{"request_id":"abc-123"}"""))
      // clearing the tag (empty string) untags subsequent statements
      run("SET SESSION gizmosql.query_tag = ''")
      run("SELECT 2 AS tag_off_probe")
      assert(tagOf("tag_off_probe") == Seq(""))
    } finally run("SET SESSION gizmosql.query_tag = ''")
  }

  test("KILL SESSION over the wire tombstones the target") {
    // victim = a fresh OIDC session
    val vResp = post("/auth", "", "Authorization" -> basic("token", externalToken("victim@example.com")))
    val vTok = tokenOf(vResp)
    assert(post("/sql", "SELECT 1 AS x", "Authorization" -> s"Bearer $vTok",
      "Accept" -> "application/json").statusCode() == 200)
    // extract the victim's session id from its JWT claims via the server's validator
    val vId = Auth.validate(secret, vTok, "graft-instance").toOption.get.sessionId
    val kill = post("/sql", s"KILL SESSION '$vId'",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    assert(kill.statusCode() == 200)
    // the killed token is now rejected
    assert(post("/sql", "SELECT 1 AS x", "Authorization" -> s"Bearer $vTok").statusCode() == 403)
  }

  test("SET GLOBAL admission settings govern the live controller") {
    // Default path: registry default max_concurrent_statements=0 = unlimited,
    // matching the reference (`gizmosql_library.h:42` DEFAULT_MAX_CONCURRENT
    // _STATEMENTS = 0) — acquire never blocks and holds no slot.
    val before = server.admission
    assert(before.running == 0)
    // Acquire BEFORE the resize: the in-flight count must survive a SET
    // GLOBAL (a swapped-in controller would forget it and transiently
    // over-admit — the exact load-shedding case the setting exists for).
    val held = before.acquire()
    // The admin retunes via the bypass path (gizmosql.bypass_queue — the
    // reference's admin escape hatch): an intercept executes in statement
    // CREATE, so once max_concurrent=1 lands, the SET's own result fetch
    // would otherwise queue behind the held slot it just legislated.
    assert(post("/sql", "SET SESSION gizmosql.bypass_queue = true",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
      .statusCode() == 200)
    assert(post("/sql", "SET GLOBAL gizmosql.max_queue_wait = 0",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
      .statusCode() == 200)
    assert(post("/sql", "SET GLOBAL gizmosql.max_concurrent_statements = 1",
      "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
      .statusCode() == 200)
    val ctl = server.admission
    assert(ctl eq before) // resized in place, not swapped
    // Non-bypass session: a fresh OIDC viewer feels the limit.
    val vResp = post("/auth", "", "Authorization" -> basic("token", externalToken("queued@example.com")))
    val vTok = tokenOf(vResp)
    try {
      // The slot acquired pre-resize (under the unlimited default) still
      // occupies the single slot after the resize: the next non-bypass
      // statement cannot wait (max_queue_wait=0) and is turned away as
      // retriable overload. A swapped-in controller would have forgotten
      // the in-flight count and admitted it.
      assert(ctl.running == 1)
      val rejected = post("/sql", "SELECT COUNT(*) AS n FROM region",
        "Authorization" -> s"Bearer $vTok", "Accept" -> "application/json")
      assert(rejected.statusCode() == 503)
      before.release(held) // path-dependent type: held is before.Admission
      val ok = post("/sql", "SELECT COUNT(*) AS n FROM region",
        "Authorization" -> s"Bearer $vTok", "Accept" -> "application/json")
      assert(ok.statusCode() == 200)
    } finally {
      // Restore the defaults so later tests see the unlimited path.
      post("/sql", "SET GLOBAL gizmosql.max_concurrent_statements = 0",
        "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
      post("/sql", "SET GLOBAL gizmosql.max_queue_wait = 300",
        "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
      post("/sql", "SET SESSION gizmosql.bypass_queue = false",
        "Authorization" -> s"Bearer $token", "Accept" -> "application/json")
    }
  }

  test("close ends the session") {
    val resp = post("/close", "", "Authorization" -> s"Bearer $token")
    assert(resp.statusCode() == 200)
  }
}
