package graft.engine

import java.nio.charset.StandardCharsets
import java.util.Base64

import graft.SparkTestHarness
import org.scalatest.funsuite.AnyFunSuite

/** Instrumentation into a writable attached catalog
  * (`/root/reference/tests/integration/test_instrumentation_ducklake.cpp:20-27`,
  * table shapes `src/enterprise/instrumentation/instrumentation_manager.cpp:
  * 45-148`): the four reference tables exist in the attached catalog, rows
  * append through the sink protocol, and the catalog carries the full
  * log-catalog protection contract.
  */
class InstrumentationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-instr").toString

  test("sink bootstrap creates the four reference tables; typed emitters " +
      "land rows; catalog is admin-read-only + append-only + DETACH-refused") {
    val global = new GlobalSettings
    val sessions = new SessionManager(spark, global)
    val admin = sessions.getOrCreate("instr-admin", "alice", "admin")
    val user = sessions.getOrCreate("instr-user", "bob", "user")
    def run(s: SessionState, sql: String) = Statement.create(sessions, s, global, sql)
    val sink = new InstrumentationSink(spark, sessions.attachments, freshDir(),
      catalog = "instr_gate")
    try {
      for (t <- Seq("instances", "sessions", "sql_statements", "sql_executions"))
        assert(spark.catalog.tableExists(s"instr_gate.$t"), t)
      sink.sessionStart("123e4567-e89b-42d3-a456-426614174000", "inst-1",
        "alice", "admin", "bearer", "127.0.0.1:5", "http", "")
      sink.statement("223e4567-e89b-42d3-a456-426614174000",
        "123e4567-e89b-42d3-a456-426614174000", "SELECT 1", "DoGetStatement",
        isInternal = false, prepareError = "", queryTag = """{"job":"t"}""")
      sink.execution("323e4567-e89b-42d3-a456-426614174000",
        "223e4567-e89b-42d3-a456-426614174000", "success", null,
        rowsFetched = 1L, startMs = 1000L, endMs = 1500L, queryProfile = "")
      assert(sink.flush(), "queue must drain")
      val deadline = System.currentTimeMillis() + 30000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        ok = run(admin,
          """SELECT s.sql_text, e.status, e.rows_fetched, e.duration_ms, s.query_tag
            |FROM instr_gate.sql_statements s
            |JOIN instr_gate.sql_executions e ON e.statement_id = s.statement_id
            |WHERE s.sql_text = 'SELECT 1'""".stripMargin).count() == 1
        if (!ok) Thread.sleep(200)
      }
      assert(ok, "statement + execution rows must join back out of the catalog")
      val row = run(admin,
        """SELECT e.rows_fetched, e.duration_ms FROM instr_gate.sql_statements s
          |JOIN instr_gate.sql_executions e ON e.statement_id = s.statement_id
          |WHERE s.sql_text = 'SELECT 1'""".stripMargin).collect()(0)
      assert(row.getLong(0) == 1L && row.getLong(1) == 500L)
      // full protection contract, inherited via the shared registry
      val e1 = intercept[SecurityException](
        run(user, "SELECT * FROM instr_gate.sessions"))
      assert(e1.getMessage.contains("admin-read-only"))
      val e2 = intercept[SecurityException](
        run(admin, "DELETE FROM instr_gate.sql_executions WHERE status = 'success'"))
      assert(e2.getMessage.contains("append-only"))
      val e3 = intercept[SecurityException](
        run(admin, "DROP TABLE instr_gate.sql_statements"))
      assert(e3.getMessage.contains("append-only"))
      val e4 = intercept[SecurityException](run(admin, "DETACH instr_gate"))
      assert(e4.getMessage.contains("Cannot DETACH"))
    } finally {
      sink.close()
      run(sessions.getOrCreate("instr-admin", "alice", "admin"), "DETACH instr_gate")
      ()
    }
  }

  test("flush returns only once every emitted row has landed") {
    val global = new GlobalSettings
    val sessions = new SessionManager(spark, global)
    val admin = sessions.getOrCreate("instr-flush-admin", "alice", "admin")
    def run(sql: String) = Statement.create(sessions, admin, global, sql)
    val sink = new InstrumentationSink(spark, sessions.attachments, freshDir(),
      catalog = "instr_flush")
    try {
      val n = 40
      (1 to n).foreach { i =>
        sink.statement(java.util.UUID.randomUUID().toString, "flush-session", s"SELECT $i",
          "DoGetStatement", isInternal = false, prepareError = "", queryTag = "")
      }
      assert(sink.flush(), "flush must report the rows landed")
      // no poll: the rows are readable the moment flush returns
      val landed = run("SELECT COUNT(*) FROM instr_flush.sql_statements " +
        "WHERE session_id = 'flush-session'").collect()(0).getLong(0)
      assert(landed == n)
    } finally {
      sink.close()
      run("DETACH instr_flush")
      ()
    }
  }
}

/** Wire contract: execute SQL over HTTP, then read that statement's
  * instrumentation rows back from the attached catalog over the wire as
  * the admin. Each case runs its own server and drops the catalog after,
  * so every case starts from empty tables.
  */
class InstrumentationServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private val instanceId = "423e4567-e89b-42d3-a456-426614174000"

  private final class Wire(val server: graft.server.GraftHttpServer, port: Int) {
    private val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String, headers: (String, String)*) = {
      val b = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      headers.foreach { case (k, v) => b.header(k, v) }
      client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    }
    val token: String = {
      val basic = "Basic " + Base64.getEncoder.encodeToString(
        "gizmosql_username:pw".getBytes(StandardCharsets.UTF_8))
      val auth = post("/auth", "", "Authorization" -> basic)
      assert(auth.statusCode() == 200)
      auth.body().split("\"token\":\"")(1).split("\"")(0)
    }
    def sessionId: String = Auth.validate("instr-secret", token, instanceId).toOption.get.sessionId
    /** `POST /sql` as the admin, JSON rows back. */
    def sql(text: String, headers: (String, String)*) =
      post("/sql", text, Seq("Authorization" -> s"Bearer $token",
        "Accept" -> "application/json") ++ headers: _*)
  }

  private def withServer(f: Wire => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-instr-srv").toString
    val server = new graft.server.GraftHttpServer(spark, "instr-secret",
      Auth.hashPassword("instr-secret", "pw"), instanceId = instanceId,
      instrumentationDir = Some(dir), unrestrictedLicense = true)
    val port = server.start()
    try f(new Wire(server, port))
    finally {
      server.close()
      spark.sql("DROP DATABASE IF EXISTS _graft_instrumentation CASCADE")
      ()
    }
  }

  test("a statement executed over the wire is queryable from the " +
      "instrumentation catalog over the wire") {
    withServer { w =>
      val marker = "SELECT 41 + 1 AS answer"
      // sql_text stores the REDACTED statement (literals → '?', like the
      // reference's logger): the row to look for is 'SELECT ? + ? AS answer'
      val redacted = "SELECT ? + ? AS answer"
      assert(w.sql(marker).statusCode() == 200)
      // instance + session + statement + execution rows, read over the wire
      val deadline = System.currentTimeMillis() + 30000
      var body = ""
      while (!body.contains("\"n\":1") && System.currentTimeMillis() < deadline) {
        val resp = w.sql(
          s"""SELECT COUNT(*) AS n FROM _graft_instrumentation.sql_statements s
             |JOIN _graft_instrumentation.sql_executions e
             |  ON e.statement_id = s.statement_id
             |WHERE s.sql_text = '$redacted' AND e.status = 'success'
             |  AND e.rows_fetched = 1""".stripMargin)
        if (resp.statusCode() == 200) body = resp.body()
        if (!body.contains("\"n\":1")) Thread.sleep(300)
      }
      assert(body.contains("\"n\":1"),
        s"statement execution must round-trip through the catalog: $body")
      val inst = w.sql(
        """SELECT COUNT(*) AS n FROM _graft_instrumentation.instances
          |WHERE status = 'running'""".stripMargin)
      assert(inst.statusCode() == 200 && inst.body().contains("\"n\":1"), inst.body())
      val sess = w.sql(
        """SELECT COUNT(*) AS n FROM _graft_instrumentation.sessions
          |WHERE status = 'active' AND username = 'gizmosql_username'""".stripMargin)
      assert(sess.statusCode() == 200 && sess.body().contains("\"n\":1"), sess.body())
    }
  }

  test("one record per statement: /sql, /prepare and two /execute calls " +
      "reach sql_executions and /metrics once each") {
    withServer { w =>
      def metrics() = {
        val m = w.post("/metrics", "", "Authorization" -> s"Bearer ${w.token}").body()
        ("\"executions\":(\\d+)".r.findFirstMatchIn(m).get.group(1).toLong,
          "\"output_rows\":(-?\\d+)".r.findAllMatchIn(m).map(_.group(1).toLong).toSeq)
      }
      def rowsOf(body: String) = "\\{\"id\":".r.findAllMatchIn(body).size.toLong
      val (before, _) = metrics()
      val direct = w.sql("SELECT id FROM RANGE(3)")
      assert(direct.statusCode() == 200, direct.body())
      val prep = w.post("/prepare", "SELECT id FROM RANGE(10) WHERE id < :n",
        "Authorization" -> s"Bearer ${w.token}")
      assert(prep.statusCode() == 200, prep.body())
      val handle = prep.body().split("\"handle\":\"")(1).split("\"")(0)
      val executes = Seq("n=4", "n=2").map { params =>
        val r = w.post("/execute", params, "Authorization" -> s"Bearer ${w.token}",
          "X-Graft-Handle" -> handle, "Accept" -> "application/json")
        assert(r.statusCode() == 200, r.body())
        r.body()
      }
      val streamed = (direct.body() +: executes).map(rowsOf)
      assert(streamed == Seq(3L, 4L, 2L))
      // read while the sink appends the rows in the background: its own
      // Spark jobs are not client statements
      val (after, outputRows) = metrics()
      assert(after == before + 3)
      assert(outputRows.takeRight(3) == streamed)
      assert(w.server.instrumentation.get.flush(), "instrumentation queue must drain")
      val rows = w.sql(
        s"""SELECT e.statement_id AS sid, s.flight_method AS method, e.rows_fetched AS n
           |FROM _graft_instrumentation.sql_executions e
           |JOIN _graft_instrumentation.sql_statements s ON s.statement_id = e.statement_id
           |WHERE s.session_id = '${w.sessionId}'
           |ORDER BY e.execution_start_time""".stripMargin)
      assert(rows.statusCode() == 200, rows.body())
      val recorded = """"sid":"([^"]+)","method":"(\w+)","n":(\d+)""".r
        .findAllMatchIn(rows.body()).map(m => (m.group(1), m.group(2), m.group(3).toLong)).toSeq
      assert(recorded.map(_._3) == streamed, rows.body())
      assert(recorded.head._1 != handle && recorded.head._2 == "DoGetStatement", rows.body())
      // both executes point at the one statement row /prepare wrote
      assert(recorded.tail.forall(r => r._1 == handle && r._2 == "CreatePreparedStatement"),
        rows.body())
    }
  }

  test("gizmosql.capture_query_profile puts the executed plan in query_profile") {
    withServer { w =>
      assert(w.sql("SET gizmosql.capture_query_profile = true").statusCode() == 200)
      assert(w.sql("SELECT id * 2 AS doubled FROM RANGE(5)").statusCode() == 200)
      assert(w.server.instrumentation.get.flush(), "instrumentation queue must drain")
      val profiles = w.sql(
        s"""SELECT e.query_profile AS p FROM _graft_instrumentation.sql_executions e
           |JOIN _graft_instrumentation.sql_statements s ON s.statement_id = e.statement_id
           |WHERE s.session_id = '${w.sessionId}' AND s.sql_text LIKE '%doubled%'""".stripMargin)
      assert(profiles.statusCode() == 200, profiles.body())
      // the physical plan of the doubled-range query: a Range leaf under a Project
      assert(profiles.body().contains("Range (") && profiles.body().contains("Project"),
        profiles.body())
    }
  }
}
