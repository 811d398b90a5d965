package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestHarness
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

class SettingsSpec extends AnyFunSuite {
  test("defaults come from the registry") {
    val g = new GlobalSettings
    assert(g.get("gizmosql.query_timeout").contains("0"))
    assert(g.get("gizmosql.max_queue_wait").contains("300"))
    assert(g.get("no.such.setting").isEmpty)
  }

  test("GLOBAL writes require admin; session overlays global") {
    val g = new GlobalSettings
    assert(g.set("gizmosql.query_timeout", "60", isAdmin = false).isLeft)
    assert(g.set("gizmosql.query_timeout", "60", isAdmin = true).isRight)
    val s = new SessionSettings(g)
    assert(s.get("gizmosql.query_timeout").contains("60"))
    assert(s.set("gizmosql.query_timeout", "5").isRight)
    assert(s.get("gizmosql.query_timeout").contains("5"))
    assert(g.get("gizmosql.query_timeout").contains("60"))
  }

  test("type validation and scope restrictions") {
    val g = new GlobalSettings
    val s = new SessionSettings(g)
    assert(s.set("gizmosql.query_timeout", "abc").isLeft)
    assert(s.set("gizmosql.capture_query_profile", "TRUE").isRight)
    // GLOBAL-only settings reject session scope (as in the reference registry)
    assert(s.set("gizmosql.max_concurrent_statements", "4").isLeft)
  }

  test("settings rows expose scope provenance") {
    val g = new GlobalSettings
    val s = new SessionSettings(g)
    s.set("gizmosql.query_tag", "t1")
    val rows = s.rows.map(r => r._1 -> r).toMap
    assert(rows("gizmosql.query_tag")._3 == "SESSION")
    assert(rows("gizmosql.query_timeout")._3 == "GLOBAL")
  }
}

class AdmissionSpec extends AnyFunSuite {
  test("slots bound concurrency; queue admits when a slot frees") {
    val ac = new AdmissionController(maxConcurrent = 2, maxQueued = 4, maxQueueWaitSeconds = 10)
    val a = ac.acquire(); val b = ac.acquire()
    assert(a == ac.Admitted && b == ac.Admitted)
    val started = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    val fut = pool.submit(new java.util.concurrent.Callable[ac.Admission] {
      def call(): ac.Admission = { started.countDown(); ac.acquire() }
    })
    started.await()
    Thread.sleep(200)
    assert(!fut.isDone) // queued
    ac.release(a)
    assert(fut.get(5, TimeUnit.SECONDS) == ac.Admitted)
    pool.shutdown()
  }

  test("queue wait times out") {
    val ac = new AdmissionController(1, 2, maxQueueWaitSeconds = 1)
    val a = ac.acquire()
    val r = ac.acquire()
    assert(r.isInstanceOf[ac.Rejected])
    ac.release(a)
  }

  test("abort predicate stops waiting (killed session)") {
    val ac = new AdmissionController(1, 2, maxQueueWaitSeconds = 30)
    val a = ac.acquire()
    @volatile var killed = false
    val t0 = System.nanoTime()
    val pool = Executors.newSingleThreadExecutor()
    val fut = pool.submit(new java.util.concurrent.Callable[ac.Admission] {
      def call(): ac.Admission = ac.acquire(aborted = () => killed)
    })
    Thread.sleep(300); killed = true
    val r = fut.get(5, TimeUnit.SECONDS)
    assert(r.isInstanceOf[ac.Rejected])
    assert((System.nanoTime() - t0) < TimeUnit.SECONDS.toNanos(10))
    ac.release(a)
    pool.shutdown()
  }

  test("bypass and unlimited modes fail open") {
    val ac = new AdmissionController(1, 1, 1)
    val a = ac.acquire()
    assert(ac.acquire(bypass = true) == ac.Bypassed)
    ac.release(a)
    val unlimited = new AdmissionController(0, 0, 1)
    assert(unlimited.acquire() == unlimited.Admitted)
  }
}

class AuthSpec extends AnyFunSuite {
  private val secret = "test-secret"
  private val instance = "instance-1"

  test("basic credential check via HMAC hash") {
    val stored = Auth.hashPassword(secret, "hunter2")
    assert(Auth.checkBasic(secret, "hunter2", stored))
    assert(!Auth.checkBasic(secret, "wrong", stored))
  }

  test("mint + validate round-trips identity claims") {
    val tok = Auth.mintToken(secret, "alice", "admin", instance, sessionId = "sess-1")
    val id = Auth.validate(secret, tok, instance)
    assert(id == Right(Auth.Identity("alice", "admin", "basic", instance, "sess-1")))
  }

  test("wrong secret and cross-instance tokens are rejected") {
    val tok = Auth.mintToken(secret, "alice", "admin", instance)
    assert(Auth.validate("other-secret", tok, instance).isLeft)
    assert(Auth.validate(secret, tok, "instance-2").isLeft)
  }

  test("expired tokens are rejected") {
    val past = java.time.Instant.now().minusSeconds(Auth.TokenLifetimeSeconds + 60)
    val tok = Auth.mintToken(secret, "alice", "admin", instance, now = past)
    assert(Auth.validate(secret, tok, instance).isLeft)
  }
}

class SessionAndStatementSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private lazy val global = new GlobalSettings
  private lazy val sessions = new SessionManager(spark, global)
  private lazy val admission = new AdmissionController(4, 8, 30)

  test("sessions isolate temp views") {
    val s1 = sessions.getOrCreate("s1", "alice", "admin")
    val s2 = sessions.getOrCreate("s2", "bob", "readonly")
    s1.spark.sql("SELECT 1 AS x").createOrReplaceTempView("mine")
    assert(s1.spark.catalog.tableExists("mine"))
    assert(!s2.spark.catalog.tableExists("mine"))
  }

  test("placeholder conversion is quote-aware and arg literals parse typed") {
    import graft.engine.{Sessions => S}
    assert(S.convertPlaceholders("SELECT ? WHERE x = ? AND y = '?'") ==
      "SELECT :p1 WHERE x = :p2 AND y = '?'")
    assert(S.convertPlaceholders("SELECT $2, $1, \"a$1\"") ==
      "SELECT :p2, :p1, \"a$1\"")
    // $ not followed by a digit stays literal
    assert(S.convertPlaceholders("SELECT '$x', c$ FROM t") == "SELECT '$x', c$ FROM t")
    intercept[IllegalArgumentException](S.convertPlaceholders("SELECT ?, $1"))
    assert(S.parseArgs("1, 'a''b', 2.5, TRUE, NULL, DATE '2024-01-02', 9999999999") ==
      Seq(1, "a'b", 2.5, true, null, java.sql.Date.valueOf("2024-01-02"), 9999999999L))
    intercept[IllegalArgumentException](S.parseArgs("now()"))
  }

  test("SQL-level PREPARE/EXECUTE/DEALLOCATE with ? and $N placeholders") {
    val s = sessions.getOrCreate("prep-sql", "alice", "admin")
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    s.spark.sql("SELECT * FROM VALUES (1,'a'),(2,'b'),(3,'c') AS t(id, v)")
      .createOrReplaceTempView("prep_t")
    run("PREPARE q1 AS SELECT v FROM prep_t WHERE id > ? ORDER BY id")
    assert(run("EXECUTE q1(1)").collect().map(_.getString(0)).toSeq == Seq("b", "c"))
    // re-execution with different args reuses the prepared text
    assert(run("EXECUTE q1(2)").collect().map(_.getString(0)).toSeq == Seq("c"))
    // $N placeholders, string + int args, $1 used before $2
    run("PREPARE q2 AS SELECT id FROM prep_t WHERE v = $2 OR id = $1 ORDER BY id")
    assert(run("EXECUTE q2(3, 'a')").collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // re-PREPARE replaces; DEALLOCATE removes; unknown EXECUTE fails loudly
    run("PREPARE q1 AS SELECT COUNT(*) AS n FROM prep_t WHERE id <> ?")
    assert(run("EXECUTE q1(1)").collect().head.getLong(0) == 2)
    run("DEALLOCATE q1")
    intercept[IllegalArgumentException](run("EXECUTE q1(1)"))
    intercept[IllegalArgumentException](run("DEALLOCATE PREPARE q1"))
    // mixing placeholder styles is rejected at PREPARE time, like DuckDB
    intercept[IllegalArgumentException](
      run("PREPARE bad AS SELECT * FROM prep_t WHERE id = ? OR id = $2"))
    // the guard runs at PREPARE time: a blocked statement never registers
    val user = sessions.getOrCreate("prep-user", "carol", "user")
    intercept[SecurityException](Statement.create(sessions, user, global,
      "PREPARE p AS SELECT * FROM parquet.`/etc/passwd`"))
  }

  test("column-level ALTER TABLE rewrites parquet tables copy-on-write") {
    val s = sessions.getOrCreate("alter-s", "alice", "admin")
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    s.spark.sql("DROP TABLE IF EXISTS alt_t")
    s.spark.sql("CREATE TABLE alt_t AS SELECT * FROM VALUES (1, 'a', 1.5), (2, 'b', 2.5) AS t(id, name, v)")
    run("ALTER TABLE alt_t DROP COLUMN v")
    assert(s.spark.table("alt_t").columns.toSeq == Seq("id", "name"))
    run("ALTER TABLE alt_t RENAME COLUMN name TO label")
    assert(s.spark.table("alt_t").columns.toSeq == Seq("id", "label"))
    run("ALTER TABLE alt_t ALTER COLUMN id TYPE BIGINT")
    assert(s.spark.table("alt_t").schema("id").dataType.sql == "BIGINT")
    run("ALTER TABLE alt_t ADD COLUMN score INT DEFAULT 7")
    assert(s.spark.table("alt_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "a", 7), (2L, "b", 7)))
    // data survived every rewrite; IF EXISTS no-ops; errors are loud
    run("ALTER TABLE alt_t DROP COLUMN IF EXISTS ghost")
    intercept[IllegalArgumentException](run("ALTER TABLE alt_t DROP COLUMN ghost"))
    intercept[IllegalArgumentException](run("ALTER TABLE alt_t RENAME COLUMN id TO label"))
    // read-only blocked; temp views refused
    val ro = sessions.getOrCreate("alter-ro", "bob", "readonly")
    intercept[SecurityException](Statement.create(sessions, ro, global,
      "ALTER TABLE alt_t DROP COLUMN label"))
    s.spark.sql("SELECT 1 AS x").createOrReplaceTempView("alt_view")
    intercept[IllegalArgumentException](run("ALTER TABLE alt_view DROP COLUMN x"))
    s.spark.sql("DROP TABLE alt_t")
  }

  test("INSERT ... ON CONFLICT desugars to MERGE (upsert on plain parquet)") {
    val s = sessions.getOrCreate("upsert-s", "alice", "admin")
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    s.spark.sql("DROP TABLE IF EXISTS ups_t")
    s.spark.sql("CREATE TABLE ups_t AS SELECT * FROM VALUES (1, 'a', 10), (2, 'b', 20) AS t(id, name, score)")
    // DO UPDATE with excluded.* references, one conflicting + one new row
    run("INSERT INTO ups_t (id, name, score) VALUES (2, 'B2', 99), (3, 'c', 30) " +
      "ON CONFLICT (id) DO UPDATE SET name = excluded.name, score = excluded.score")
    val rows = s.spark.table("ups_t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1, "a", 10), (2, "B2", 99), (3, "c", 30)))
    // DO NOTHING: the conflicting row is skipped, the new one inserts
    run("INSERT INTO ups_t (id, name, score) VALUES (3, 'zzz', 0), (4, 'd', 40) " +
      "ON CONFLICT (id) DO NOTHING")
    val rows2 = s.spark.table("ups_t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows2 == Seq((1, "a", 10), (2, "B2", 99), (3, "c", 30), (4, "d", 40)))
    // conditional upsert: the WHERE tail becomes WHEN MATCHED AND
    run("INSERT INTO ups_t (id, name, score) VALUES (4, 'D!', 5) " +
      "ON CONFLICT (id) DO UPDATE SET name = excluded.name WHERE excluded.score > 100")
    assert(s.spark.table("ups_t").filter("id = 4").collect().head.getString(1) == "d")
    // key-less and OR REPLACE forms fail loudly (no PRIMARY KEY metadata)
    intercept[IllegalArgumentException](
      run("INSERT INTO ups_t VALUES (9, 'x', 1) ON CONFLICT DO NOTHING"))
    intercept[IllegalArgumentException](
      run("INSERT OR REPLACE INTO ups_t VALUES (9, 'x', 1)"))
    // duplicate conflict keys in the SOURCE raise (DuckDB errors here too;
    // a silent full-outer MERGE would duplicate the matched target row) —
    // for DO UPDATE and even DO NOTHING, and the table must be unchanged
    val before = s.spark.table("ups_t").orderBy("id").collect().toSeq
    val e1 = intercept[Exception](
      run("INSERT INTO ups_t (id, name, score) VALUES (7, 'x', 1), (7, 'y', 2) " +
        "ON CONFLICT (id) DO UPDATE SET name = excluded.name"))
    assert(e1.getMessage != null && e1.getMessage.contains("duplicate conflict key"))
    val e2 = intercept[Exception](
      run("INSERT INTO ups_t (id, name, score) VALUES (8, 'x', 1), (8, 'y', 2) " +
        "ON CONFLICT (id) DO NOTHING"))
    assert(e2.getMessage != null && e2.getMessage.contains("duplicate conflict key"))
    assert(s.spark.table("ups_t").orderBy("id").collect().toSeq == before)
    s.spark.sql("DROP TABLE ups_t")
  }

  test("SET VARIABLE / getvariable map onto Spark session variables") {
    val s = sessions.getOrCreate("var-s", "alice", "admin")
    graft.Tables.ensure(s.spark, graft.SparkTestHarness.sfDir)
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    run("SET VARIABLE vi = 41 + 1")
    assert(run("SELECT getvariable('vi') AS v").collect().head.getInt(0) == 42)
    // typed: a string, and a scalar subquery default
    run("SET VARIABLE vs = 'a''b'")
    assert(run("SELECT getvariable('vs') AS v").collect().head.getString(0) == "a'b")
    run("SET VARIABLE vmax = (SELECT MAX(r_regionkey) FROM region)")
    assert(run("SELECT getvariable('vmax') AS v").collect().head.getInt(0) == 4)
    // variables compose in expressions and re-SET retypes (DuckDB rule)
    assert(run("SELECT getvariable('vi') + getvariable('vmax') AS v")
      .collect().head.getInt(0) == 46)
    run("SET VARIABLE vi = 'now a string'")
    assert(run("SELECT getvariable('vi') AS v").collect().head.getString(0) == "now a string")
    // unset reads as NULL (DuckDB's rule); RESET unsets
    assert(run("SELECT getvariable('never_set') AS v").collect().head.isNullAt(0))
    run("RESET VARIABLE vi")
    assert(run("SELECT getvariable('vi') AS v").collect().head.isNullAt(0))
    // a non-admin cannot smuggle a blocked scan into a variable default
    val user = sessions.getOrCreate("var-u", "carol", "user")
    intercept[SecurityException](Statement.create(sessions, user, global,
      "SET VARIABLE leak = (SELECT COUNT(*) FROM parquet.`/etc`)"))
  }

  test("prepared DML defers to EXECUTE and invalidates the plan cache") {
    val s = sessions.getOrCreate("prep-dml", "alice", "admin")
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    s.spark.sql("DROP TABLE IF EXISTS prep_dml_t")
    s.spark.sql("CREATE TABLE prep_dml_t AS SELECT 1 AS id")
    // parameter-less DML must NOT run at PREPARE time (spark.sql executes
    // commands eagerly — the schema probe has to be skipped for commands)
    run("PREPARE ins AS INSERT INTO prep_dml_t VALUES (2)")
    assert(s.spark.table("prep_dml_t").count() == 1, "PREPARE executed the INSERT")
    // warm the plan cache with a SELECT on the table
    val before = PlanCache.count(s.spark, "prep-dml-probe")(s.spark.table("prep_dml_t"))
    assert(before == 1)
    run("EXECUTE ins")
    assert(s.spark.table("prep_dml_t").count() == 2)
    // the cached SELECT must see the new row (EXECUTE invalidated the cache)
    val after = PlanCache.count(s.spark, "prep-dml-probe")(s.spark.table("prep_dml_t"))
    assert(after == 2, s"stale plan-cache read after prepared DML: $after")
    s.spark.sql("DROP TABLE prep_dml_t")
  }

  test("KILL SESSION is intercepted and idempotent") {
    val killer = sessions.getOrCreate("killer", "alice", "admin")
    sessions.getOrCreate("victim", "bob", "user")
    val r1 = Statement.create(sessions, killer, global, "KILL SESSION 'victim'")
    assert(r1.collect().head.getString(0).contains("victim"))
    // idempotent second kill; victim cannot be resurrected
    Statement.create(sessions, killer, global, "KILL SESSION 'victim'")
    intercept[IllegalStateException](sessions.getOrCreate("victim", "bob", "user"))
    assert(sessions.isKilled("victim"))
  }

  test("SET gizmosql.* is intercepted; settings view reflects it") {
    val s = sessions.getOrCreate("setter", "alice", "admin")
    Statement.create(sessions, s, global, "SET gizmosql.query_tag = 'etl-1'")
    // bare values with spaces must still hit the intercept, not Spark's SET
    Statement.create(sessions, s, global, "SET gizmosql.session_tag = two words")
    assert(s.settings.get("gizmosql.session_tag").contains("two words"))
    Statement.refreshSettingsView(s)
    val v = s.spark.sql("SELECT value FROM gizmosql_settings WHERE name = 'gizmosql.query_tag'")
      .collect().head.getString(0)
    assert(v == "etl-1")
    assert(s.settings.get("gizmosql.query_tag").contains("etl-1"))
    intercept[IllegalArgumentException](
      Statement.create(sessions, s, global, "SET gizmosql.query_timeout = 'NaN'"))
  }

  test("pseudo-functions resolve as session UDFs") {
    val s = sessions.getOrCreate("pseudo", "carol", "user")
    Statement.registerPseudoFunctions(s, "inst-1", "clus-1")
    val row = s.spark.sql(
      "SELECT gizmosql_current_session() AS s, gizmosql_user() AS u, gizmosql_role() AS r, gizmosql_version() AS v")
      .collect().head
    assert(row.getString(0) == "pseudo")
    assert(row.getString(1) == "carol")
    assert(row.getString(2) == "user")
    assert(row.getString(3) == Statement.Version)
  }

  test("pseudo-functions constant-fold to literals in the optimized plan") {
    val s = sessions.getOrCreate("fold", "dana", "admin")
    Statement.registerPseudoFunctions(s, "inst-f", "clus-f")
    val df = s.spark.sql("SELECT gizmosql_user() AS u FROM RANGE(3)")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("gizmosql_user"), s"UDF not folded:\n$optimized")
    assert(optimized.contains("dana"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("dana", "dana", "dana"))
    // folding cascades: a role predicate prunes the whole scan at plan time
    val pruned = s.spark.sql("SELECT id FROM RANGE(5) WHERE gizmosql_role() = 'nonexistent'")
    assert(pruned.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    assert(pruned.count() == 0)
  }

  test("readonly sessions cannot write; queries still run") {
    val ro = sessions.getOrCreate("ro", "bob", "readonly")
    intercept[SecurityException](
      Statement.create(sessions, ro, global, "CREATE TABLE t_forbidden(x INT) USING parquet"))
    assert(Statement.create(sessions, ro, global, "SELECT 1 AS x").collect().head.getInt(0) == 1)
  }

  test("non-admin local path scans and SET conf are blocked; remote allowed shape") {
    val u = sessions.getOrCreate("u1", "bob", "user")
    intercept[SecurityException](
      Statement.create(sessions, u, global, "SELECT * FROM parquet.`/etc/passwd`"))
    intercept[SecurityException](
      Statement.create(sessions, u, global, "SET spark.sql.shuffle.partitions = 1"))
    val admin = sessions.getOrCreate("a1", "alice", "admin")
    val df = Statement.create(sessions, admin, global,
      s"SELECT COUNT(*) AS n FROM parquet.`${graft.SparkTestHarness.sfDir}/region.parquet`")
    assert(df.collect().head.getLong(0) == 5)
  }

  test("system catalog views are write-protected for everyone") {
    val admin = sessions.getOrCreate("a2", "alice", "admin")
    SystemCatalog.install(admin.spark)
    intercept[SecurityException](
      Statement.create(sessions, admin, global, "INSERT INTO gizmosql_index_info VALUES ('a','b','c','d',true,true,'e')"))
  }

  test("prepared statements: analysis-only schema, lookup, close") {
    val s = sessions.getOrCreate("prep", "alice", "admin")
    val p = s.prepare("SELECT 1 AS one, 'x' AS s")
    assert(p.schema.get.fieldNames.toSeq == Seq("one", "s"))
    assert(s.lookupPrepared(p.handle).isDefined)
    assert(s.closePrepared(p.handle))
    assert(s.lookupPrepared(p.handle).isEmpty)
  }

  test("prepared statements bind typed named parameters") {
    val s = sessions.getOrCreate("prep2", "alice", "admin")
    val p = s.prepare("SELECT :a + :b AS total, :name AS who")
    assert(p.schema.isEmpty) // parameter schema deferred, like the reference's named_param_map path
    val row = s.executePrepared(p.handle, Map("a" -> 40, "b" -> 2, "name" -> "carol")).collect().head
    assert(row.getInt(0) == 42 && row.getString(1) == "carol")
    // re-execution with different binds reuses the handle
    assert(s.executePrepared(p.handle, Map("a" -> 1, "b" -> 1, "name" -> "d")).collect().head.getInt(0) == 2)
  }

  test("transaction handles: begin/commit/rollback lifecycle and limitations") {
    val txns = new Transactions
    val id = txns.begin("sess-1")
    assert(txns.openCount == 1)
    assert(txns.commit(id).isRight)
    assert(txns.commit(id).isLeft) // double-end rejected
    val id2 = txns.begin("sess-1")
    assert(txns.rollback(id2).isRight) // no writes -> clean rollback
    val id3 = txns.begin("sess-1")
    txns.markWrite(id3)
    assert(txns.rollback(id3).isLeft) // declared limitation surfaces as error
    assert(txns.lookup("nope").isEmpty)
  }

  test("health prober reports Serving after success and NotServing when stale") {
    val h = new Health(spark, intervalSeconds = 3600, stalenessSeconds = 1)
    try {
      assert(h.probe())
      assert(h.status == h.Serving)
      Thread.sleep(1200)
      assert(h.status == h.NotServing) // no probe within staleness window
    } finally h.close()
  }

  test("graceful shutdown: drain rejects new work, lets in-flight finish, second signal stops") {
    val sd = new ShutdownState(gracePeriodSeconds = 60)
    assert(sd.admitNew().isRight) // one in-flight
    assert(sd.signal() == sd.Draining)
    assert(sd.admitNew().isLeft) // retriable UNAVAILABLE
    assert(!sd.drained)
    sd.finishWork()
    assert(sd.drained)
    assert(sd.signal() == sd.Stopped)
  }

  test("observability records rows, duration, status and totals") {
    // the server's statement path feeds these records (HttpServerSpec and
    // InstrumentationServerSpec cover that side: query_tag, profile)
    def rec(sql: String, status: String, rows: Long, ns: Long) =
      Observability.StatementRecord("id", "s", "DoGetStatement", Observability.redact(sql),
        status, if (status == "success") "" else "boom", rows, 1000L, ns, "", "")
    val obs = new Observability
    obs.add(rec("SELECT id FROM RANGE(5)", "success", 5L, 2000000L))
    obs.add(rec("SELECT nope", "error", -1L, 1000000L))
    obs.add(rec("SELECT id FROM RANGE(7)", "success", 7L, 3000000L))
    assert(obs.snapshot.map(r => (r.status, r.outputRows)) ==
      Seq(("success", 5L), ("error", -1L), ("success", 7L)))
    assert(obs.snapshot.head.sql == "SELECT id FROM RANGE(?)")
    assert(obs.snapshot.last.endMs == 1003L)
    // statements, errors, output rows (a failed one streamed none), duration
    assert(obs.totals == ((3L, 1L, 12L, 6000000L)))
    obs.clear()
    assert(obs.snapshot.isEmpty && obs.totals._1 == 3L)
    assert(Observability.redact("SELECT * FROM t WHERE name = 'bob' AND x > 42") ==
      "SELECT * FROM t WHERE name = '?' AND x > ?")
  }

  test("query timeout cancels the job group and the session survives") {
    val s = sessions.getOrCreate("slow", "alice", "admin")
    s.spark.udf.register("graft_sleep", (x: Long) => { Thread.sleep(200); x })
    val df = s.spark.sql("SELECT SUM(graft_sleep(id)) FROM RANGE(0, 200, 1, 4)")
    intercept[java.util.concurrent.TimeoutException](
      Statement.executeWithTimeout(s, timeoutSeconds = 2)(df.collect()))
    // session still usable after cancellation
    assert(s.spark.sql("SELECT 41 + 1").collect().head.get(0) == 42)
  }

  test("session options: catalog/schema set + non-creating get") {
    val s = sessions.getOrCreate("opts", "alice", "admin")
    assert(SessionOptions.set(s, "schema", "default").isRight)
    assert(SessionOptions.set(s, "schema", "no such; DROP").isLeft) // sanitized
    assert(SessionOptions.set(s, "bogus", "x").isLeft)
    val got = SessionOptions.get(sessions, "opts")
    assert(got.exists(o => o.catalog == "spark_catalog" && o.schema == "default"))
    assert(SessionOptions.get(sessions, "never-created").isLeft) // must not create
    assert(sessions.lookup("never-created").isEmpty)
  }

  test("init-SQL splitter is quote- and comment-aware; run() executes each") {
    val script =
      """SET gizmosql.session_tag = 'a;b';
        |-- a comment; with a semicolon
        |SELECT 1 AS x;
        |SELECT 'lit;eral' AS s""".stripMargin
    val stmts = InitSql.split(script)
    assert(stmts.length == 3)
    assert(stmts.head == "SET gizmosql.session_tag = 'a;b'")
    assert(stmts(2) == "SELECT 'lit;eral' AS s")
    val s = sessions.getOrCreate("init", "alice", "admin")
    val ran = InitSql.run(sessions, s, global, script)
    assert(ran.length == 3)
    assert(s.settings.get("gizmosql.session_tag").contains("a;b"))
  }

  test("10 concurrent clients run queries with zero failures under admission control") {
    // Mirrors the reference's concurrency CI test
    // (test_tpch_benchmark.cpp:1078-1254: 10 clients x queries, 0 failures).
    graft.Tables.ensure(spark, graft.SparkTestHarness.sfDir)
    val ac = new AdmissionController(4, 64, 60)
    val pool = Executors.newFixedThreadPool(10)
    val results = (1 to 10).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val sess = sessions.getOrCreate(s"conc-$i", s"user$i", "user")
          graft.Tables.ensure(sess.spark, graft.SparkTestHarness.sfDir)
          (1 to 3).map { _ =>
            Statement.run(sessions, sess, global, ac,
              "SELECT o_orderpriority, COUNT(*) AS c FROM orders GROUP BY o_orderpriority").length.toLong
          }.sum
        }
      })
    }
    val counts = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(counts.forall(_ == 15L)) // 3 runs x 5 priority groups each
    assert(ac.running == 0 && ac.waiting == 0)
  }

  test("run() composes admission + timeout") {
    val s = sessions.getOrCreate("runner", "alice", "admin")
    val rows = Statement.run(sessions, s, global, admission, "SELECT 2 + 2 AS four")
    assert(rows.head.getInt(0) == 4)
  }
}

class FlightSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private lazy val global = new GlobalSettings
  private lazy val sessions = new SessionManager(spark, global)

  test("two-phase statement flow: analysis-only flight info, ticketed re-execution") {
    val s = sessions.getOrCreate("flight", "alice", "admin")
    graft.Tables.ensure(s.spark, graft.SparkTestHarness.sfDir)
    val (schema, ticket) = FlightSurface.flightInfo(s, "txn-1", "SELECT r_regionkey, r_name FROM region")
    assert(schema.fieldNames.toSeq == Seq("r_regionkey", "r_name"))
    assert(FlightSurface.Ticket.decode(ticket) == ("txn-1", "SELECT r_regionkey, r_name FROM region"))
    // DoGet may land on a different session (reference re-prepares) — same result
    val s2 = sessions.getOrCreate("flight2", "alice", "admin")
    graft.Tables.ensure(s2.spark, graft.SparkTestHarness.sfDir)
    assert(FlightSurface.doGet(s2, ticket).count() == 5)
    // sql containing ':' survives the codec
    val t2 = FlightSurface.Ticket.encode("t", "SELECT ':x' AS c")
    assert(FlightSurface.Ticket.decode(t2)._2 == "SELECT ':x' AS c")
  }

  test("GetTables include_schema carries per-table Arrow schemas") {
    graft.Tables.ensure(spark, graft.SparkTestHarness.sfDir)
    val t = FlightSurface.tablesWithSchema(spark, Some("region")).collect()
    assert(t.length == 1)
    val json = t.head.getAs[String]("table_schema")
    assert(json.contains("r_regionkey") && json.contains("r_name"))
  }

  test("include_schema: a poisoned view degrades loudly to an empty schema, " +
      "never a silent swallow (r15)") {
    graft.Tables.ensure(spark, graft.SparkTestHarness.sfDir)
    // a view over a table that no longer exists: analysis fails at
    // spark.table() time -> AnalysisException -> logged empty-schema row
    spark.sql("CREATE OR REPLACE TEMP VIEW poison_base_v AS SELECT 1 AS x")
    spark.sql("CREATE OR REPLACE TEMP VIEW poisoned_v AS SELECT * FROM poison_base_v")
    spark.catalog.dropTempView("poison_base_v")
    val rows = FlightSurface.tablesWithSchema(spark, Some("poisoned_v")).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("table_schema") == "",
      "unreadable view reports an explicitly-empty schema")
    // healthy tables in the same listing still carry real schemas
    val healthy = FlightSurface.tablesWithSchema(spark, Some("region")).collect()
    assert(healthy.head.getAs[String]("table_schema").contains("r_regionkey"))
    spark.catalog.dropTempView("poisoned_v")
  }

  test("include_schema column metadata: comments surface as Flight SQL REMARKS") {
    spark.sql("DROP TABLE IF EXISTS meta_remarks_t")
    spark.sql("CREATE TABLE meta_remarks_t (" +
      "id INT NOT NULL, name STRING COMMENT 'employee name', note STRING) USING parquet")
    val json = FlightSurface.tablesWithSchema(spark, Some("meta_remarks_t"))
      .collect().head.getAs[String]("table_schema")
    val schema = org.apache.arrow.vector.types.pojo.Schema.fromJSON(json)
    val byName = schema.getFields.toArray.map(_.asInstanceOf[org.apache.arrow.vector.types.pojo.Field])
      .map(f => f.getName -> f).toMap
    // comment in REMARKS; no comment -> no key. (Field.nullable mirrors
    // what Spark's catalog reports — file sources relax NOT NULL to
    // nullable on read, a documented Spark behavior, so only the comment
    // contract is asserted here.)
    assert(byName("note").isNullable)
    assert(byName("name").getMetadata.get("ARROW:FLIGHT:SQL:REMARKS") == "employee name")
    assert(!byName("note").getMetadata.containsKey("ARROW:FLIGHT:SQL:REMARKS"))
    spark.sql("DROP TABLE meta_remarks_t")
  }

  test("COPY TO PARTITION_BY writes a hive layout; COMPRESSION picks the codec") {
    val s = sessions.getOrCreate("copy-part-s", "alice", "admin")
    val global = new GlobalSettings
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    val dir = java.nio.file.Files.createTempDirectory("graft-copypart").toString
    val n = run("COPY (SELECT * FROM VALUES (1,'a'),(2,'b'),(3,'a') AS t(id, k)) " +
      s"TO '$dir/part' (FORMAT PARQUET, PARTITION_BY (k), COMPRESSION ZSTD)")
      .collect().head.getLong(0)
    assert(n == 3)
    // hive directory layout, partition-prunable on read
    val sub = new java.io.File(s"$dir/part").listFiles().map(_.getName).filter(_.startsWith("k="))
    assert(sub.sorted.toSeq == Seq("k=a", "k=b"))
    // the codec landed in the file names (spark suffixes part files)
    val files = new java.io.File(s"$dir/part/k=a").listFiles().map(_.getName)
    assert(files.exists(_.contains("zstd")), files.mkString(","))
    // reading back sees all rows with the partition column restored
    assert(s.spark.read.parquet(s"$dir/part").count() == 3)
  }

  test("CREATE OR REPLACE TABLE desugars to drop+create; COPY FROM loads back") {
    val s = sessions.getOrCreate("cor-s", "alice", "admin")
    val global = new GlobalSettings
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    s.spark.sql("DROP TABLE IF EXISTS cor_t")
    run("CREATE OR REPLACE TABLE cor_t AS SELECT 1 AS a, 'x' AS b")
    assert(s.spark.table("cor_t").count() == 1)
    // replace with different contents — the v1 catalog path that Spark's
    // native REPLACE TABLE rejects
    run("CREATE OR REPLACE TABLE cor_t AS SELECT * FROM VALUES (2, 'y'), (3, 'z') AS t(a, b)")
    assert(s.spark.table("cor_t").count() == 2)
    // COPY TO then COPY FROM doubles the rows (positional append, table
    // schema drives the parse)
    val dir = java.nio.file.Files.createTempDirectory("graft-copyfrom").toString
    run(s"COPY cor_t TO '$dir/out.csv' (FORMAT CSV, HEADER)")
    val n = run(s"COPY cor_t FROM '$dir/out.csv' (FORMAT CSV, HEADER)").collect().head.getLong(0)
    assert(n == 2 && s.spark.table("cor_t").count() == 4)
    // read-only cannot replace; non-admin cannot COPY FROM
    val ro = sessions.getOrCreate("cor-ro", "bob", "readonly")
    intercept[SecurityException](Statement.create(sessions, ro, global,
      "CREATE OR REPLACE TABLE cor_t AS SELECT 1 AS a"))
    val user = sessions.getOrCreate("cor-u", "carol", "user")
    intercept[SecurityException](Statement.create(sessions, user, global,
      s"COPY cor_t FROM '$dir/out.csv' (FORMAT CSV, HEADER)"))
    s.spark.sql("DROP TABLE cor_t")
  }

  test("CREATE OR REPLACE TABLE: a failing CTAS leaves the original table intact") {
    val s = sessions.getOrCreate("cor-fail", "alice", "admin")
    val global = new GlobalSettings
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    s.spark.sql("DROP TABLE IF EXISTS cor_keep")
    run("CREATE OR REPLACE TABLE cor_keep AS SELECT 7 AS a")
    // execution-time failure (divide by zero under ANSI off returns null —
    // use an invalid cast under ANSI, or a missing-path scan, which always
    // fails at execution)
    intercept[Exception](run(
      "CREATE OR REPLACE TABLE cor_keep AS SELECT * FROM parquet.`/no/such/path-cor`"))
    assert(s.spark.table("cor_keep").collect().map(_.getInt(0)).toSeq == Seq(7),
      "original table must survive a failed replacement")
    // the pending temp table is not left behind
    assert(!s.spark.catalog.tableExists("cor_keep__replace_pending"))
    run("CREATE OR REPLACE TABLE cor_keep AS SELECT 8 AS a")
    assert(s.spark.table("cor_keep").collect().map(_.getInt(0)).toSeq == Seq(8))
    s.spark.sql("DROP TABLE cor_keep")
  }

  test("INSERT ... RETURNING yields the inserted rows; UPDATE/DELETE RETURNING flow through the pipeline") {
    val s = sessions.getOrCreate("ret-s", "alice", "admin")
    val global = new GlobalSettings
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    s.spark.sql("DROP TABLE IF EXISTS ret_t")
    run("CREATE OR REPLACE TABLE ret_t AS SELECT 1 AS id, 'x' AS tag, CAST(1.5 AS DOUBLE) AS v")
    // VALUES source, full column list implied
    val ins = run("INSERT INTO ret_t VALUES (2, 'y', 2.5), (3, 'z', 3.5) RETURNING id, tag")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(ins.toSeq == Seq((2, "y"), (3, "z")))
    assert(s.spark.table("ret_t").count() == 3)
    // partial column list: unspecified columns NULL in the returned rows
    val part = run("INSERT INTO ret_t (id) VALUES (9) RETURNING id, tag, v")
      .collect().head
    assert(part.getInt(0) == 9 && part.isNullAt(1) && part.isNullAt(2))
    // query source referencing the target: RETURNING sees the pre-insert snapshot
    val self = run("INSERT INTO ret_t SELECT id + 100, tag, v FROM ret_t WHERE id <= 3 RETURNING id")
      .collect().map(_.getInt(0)).sorted
    assert(self.toSeq == Seq(101, 102, 103))
    // non-deterministic source evaluates ONCE: the rows RETURNING reports
    // must be byte-identical to the rows that landed in the table (a
    // re-evaluated uuid() source would diverge)
    val ret = run("INSERT INTO ret_t SELECT 500, uuid(), 0.0 RETURNING id, tag")
      .collect().head
    val landed = s.spark.table("ret_t").filter("id = 500").collect().head
    assert(ret.getString(1) == landed.getString(1),
      "RETURNING must report the exact rows inserted, not a re-evaluation")
    run("DELETE FROM ret_t WHERE id = 500")
    // UPDATE/DELETE RETURNING through the statement pipeline (guard sees the
    // stripped core)
    val upd = run("UPDATE ret_t SET v = 0 WHERE id = 9 RETURNING id, v").collect()
    assert(upd.length == 1 && upd.head.getInt(0) == 9 && upd.head.getDouble(1) == 0.0)
    val del = run("DELETE FROM ret_t WHERE id > 100 RETURNING id").collect().map(_.getInt(0)).sorted
    assert(del.toSeq == Seq(101, 102, 103))
    // read-only role still blocked on the stripped core
    val ro = sessions.getOrCreate("ret-ro", "bob", "readonly")
    intercept[SecurityException](Statement.create(sessions, ro, global,
      "DELETE FROM ret_t WHERE id = 1 RETURNING *"))
    s.spark.sql("DROP TABLE ret_t")
  }

  test("mutations via COPY FROM and CREATE OR REPLACE invalidate cached SELECT plans") {
    val s = sessions.getOrCreate("cor-cache", "alice", "admin")
    val global = new GlobalSettings
    def run(sql: String) = Statement.create(sessions, s, global, sql)
    s.spark.sql("DROP TABLE IF EXISTS cor_c")
    run("CREATE OR REPLACE TABLE cor_c AS SELECT 1 AS a")
    val q = "SELECT COUNT(*) AS n FROM cor_c"
    assert(run(q).collect().head.getLong(0) == 1, "prime the plan cache")
    // COPY FROM appends outside PlanCache.sql — the cached plan must not
    // serve the pre-COPY file listing
    val dir = java.nio.file.Files.createTempDirectory("graft-corcache").toString
    run(s"COPY cor_c TO '$dir/out.parquet' (FORMAT PARQUET)")
    run(s"COPY cor_c FROM '$dir/out.parquet'")
    assert(run(q).collect().head.getLong(0) == 2,
      "cached SELECT served stale data after COPY FROM")
    // CREATE OR REPLACE drops + recreates — a cached plan would point at
    // the dropped table's files
    run("CREATE OR REPLACE TABLE cor_c AS SELECT * FROM VALUES 1, 2, 3 AS t(a)")
    assert(run(q).collect().head.getLong(0) == 3,
      "cached SELECT served stale data after CREATE OR REPLACE")
    s.spark.sql("DROP TABLE cor_c")
  }

  test("executeUpdate returns affected-row counts for DML") {
    val s = sessions.getOrCreate("dmlcount", "alice", "admin")
    s.spark.sql("DROP TABLE IF EXISTS dml_count_t")
    val wh = s.spark.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, "dml_count_t")
    p.getFileSystem(s.spark.sparkContext.hadoopConfiguration).delete(p, true)
    s.spark.sql("CREATE TABLE dml_count_t (x INT) USING parquet")
    assert(FlightSurface.executeUpdate(s, "INSERT INTO dml_count_t VALUES (1), (2), (3)") == 3L)
    assert(s.spark.table("dml_count_t").count() == 3)
    // the count must come from the WRITE, not from upstream scans/filters
    // (a selective INSERT ... SELECT reads more rows than it writes)
    assert(FlightSurface.executeUpdate(s,
      "INSERT INTO dml_count_t SELECT CAST(id AS INT) FROM RANGE(100) WHERE id < 7") == 7L)
    assert(s.spark.table("dml_count_t").count() == 10)
  }

  test("flightInfo defers commands: DML is not executed during the schema phase") {
    val s = sessions.getOrCreate("flightdml", "alice", "admin")
    s.spark.sql("DROP TABLE IF EXISTS flight_dml_t")
    val wh = s.spark.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, "flight_dml_t")
    p.getFileSystem(s.spark.sparkContext.hadoopConfiguration).delete(p, true)
    s.spark.sql("CREATE TABLE flight_dml_t (x INT) USING parquet")
    val (schema, ticket) = FlightSurface.flightInfo(s, "txn", "INSERT INTO flight_dml_t VALUES (1)")
    assert(schema.fieldNames.toSeq == Seq("affected_rows"))
    assert(s.spark.table("flight_dml_t").count() == 0) // NOT executed yet
    FlightSurface.doGet(s, ticket).collect()
    assert(s.spark.table("flight_dml_t").count() == 1) // executed exactly once
  }
}

class TokenAuthSpec extends AnyFunSuite {
  private val kp = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }
  private val cfg = TokenAuth.Config(
    issuer = "https://idp.example.com", audience = "graft",
    publicKey = kp.getPublic, allowedEmails = Set("alice@example.com"))

  private def externalToken(email: String, role: Option[String] = None,
      issuer: String = cfg.issuer, audience: String = cfg.audience): String = {
    val b = io.jsonwebtoken.Jwts.builder()
      .issuer(issuer).audience().add(audience).and()
      .subject(email).claim("email", email)
      .issuedAt(new java.util.Date())
      .expiration(java.util.Date.from(java.time.Instant.now().plusSeconds(600)))
    role.foreach(r => b.claim("role", r))
    b.signWith(kp.getPrivate).compact()
  }

  test("external IdP token bootstraps an internal session token") {
    val r = TokenAuth.bootstrap(cfg, "server-secret", externalToken("alice@example.com", Some("admin")), "inst-1")
    assert(r.isRight)
    val (id, internal) = r.toOption.get
    assert(id.username == "alice@example.com" && id.role == "admin" && id.authMethod == "oidc")
    // the minted internal token validates like any basic-auth session token
    assert(Auth.validate("server-secret", internal, "inst-1").exists(_.sessionId == id.sessionId))
  }

  test("missing role claim falls back to the default role") {
    val r = TokenAuth.authenticate(cfg, externalToken("alice@example.com"), "inst-1")
    assert(r.exists(_.role == "user"))
  }

  test("tokens without an expiration claim are rejected") {
    val noExp = io.jsonwebtoken.Jwts.builder()
      .issuer(cfg.issuer).audience().add(cfg.audience).and()
      .subject("alice@example.com").claim("email", "alice@example.com")
      .signWith(kp.getPrivate).compact()
    val r = TokenAuth.authenticate(cfg, noExp, "i")
    assert(r.isLeft && r.left.exists(_.contains("expiration")))
  }

  test("wrong issuer, wrong audience, unlisted email, bad signature are rejected") {
    assert(TokenAuth.authenticate(cfg, externalToken("alice@example.com", issuer = "https://evil"), "i").isLeft)
    assert(TokenAuth.authenticate(cfg, externalToken("alice@example.com", audience = "other"), "i").isLeft)
    assert(TokenAuth.authenticate(cfg, externalToken("bob@example.com"), "i").isLeft)
    val otherKey = { val g = java.security.KeyPairGenerator.getInstance("RSA"); g.initialize(2048); g.generateKeyPair() }
    val forged = io.jsonwebtoken.Jwts.builder()
      .issuer(cfg.issuer).audience().add(cfg.audience).and().subject("alice@example.com")
      .expiration(java.util.Date.from(java.time.Instant.now().plusSeconds(600)))
      .signWith(otherKey.getPrivate).compact()
    assert(TokenAuth.authenticate(cfg, forged, "i").isLeft)
  }
}

class GuardHardeningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  test("path scans hidden in subqueries, CTEs, and set ops are still caught") {
    def blocked(sql: String) =
      StatementGuard.check(spark, sql, isAdmin = false, readOnly = false)
        .isInstanceOf[StatementGuard.Blocked]
    assert(blocked("SELECT * FROM (SELECT * FROM parquet.`/etc/passwd`) t"))
    assert(blocked("WITH c AS (SELECT * FROM csv.`/tmp/x.csv`) SELECT * FROM c"))
    assert(blocked("SELECT 1 WHERE EXISTS (SELECT 1 FROM json.`/var/log/x.json`)"))
    assert(blocked("SELECT 1 AS x UNION ALL SELECT COUNT(*) FROM parquet.`/data/f`"))
    // remote schemes stay allowed for everyone (admin_command_guard.cpp:68-76)
    assert(StatementGuard.check(spark, "SELECT * FROM parquet.`s3a://bucket/key`",
      isAdmin = false, readOnly = false) == StatementGuard.Allowed)
  }

  test("readonly blocks writes nested under EXPLAIN-free paths but allows SHOW/DESCRIBE") {
    def check(sql: String, ro: Boolean = true) =
      StatementGuard.check(spark, sql, isAdmin = true, readOnly = ro)
    assert(check("INSERT INTO t VALUES (1)").isInstanceOf[StatementGuard.Blocked])
    assert(check("DROP TABLE t").isInstanceOf[StatementGuard.Blocked])
    assert(check("SHOW TABLES") == StatementGuard.Allowed)
    assert(check("DESCRIBE region") == StatementGuard.Allowed)
  }
}

class SystemCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  test("LIKE pattern translation") {
    assert("information_schema".matches(SystemCatalog.likeToRegex("info%")))
    assert("abc".matches(SystemCatalog.likeToRegex("A_C"))) // case-insensitive like the reference
    assert(!"abd".matches(SystemCatalog.likeToRegex("a_c")))
    assert(!"axc".matches(SystemCatalog.likeToRegex("a.c"))) // regex metachars escaped
  }

  test("tables listing includes temp views as LOCAL TEMPORARY with LIKE filter") {
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("syscat_probe_one")
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("syscat_probe_two")
    val all = SystemCatalog.tables(spark, tablePattern = Some("syscat_probe%")).collect()
    assert(all.length == 2)
    assert(all.forall(_.getAs[String]("table_type") == "LOCAL TEMPORARY"))
    val one = SystemCatalog.tables(spark, tablePattern = Some("syscat_probe_o%")).collect()
    assert(one.map(_.getAs[String]("table_name")).toSeq == Seq("syscat_probe_one"))
  }

  test("table types and xdbc type info are constant-shaped") {
    assert(SystemCatalog.tableTypes(spark).collect().map(_.getString(0)).sorted.toSeq ==
      Seq("BASE TABLE", "LOCAL TEMPORARY", "VIEW"))
    val ti = SystemCatalog.xdbcTypeInfo(spark)
    assert(ti.count() == 14)
    assert(SystemCatalog.xdbcTypeInfo(spark, Some(4)).collect().map(_.getString(0)).toSeq == Seq("integer"))
  }

  test("catalogs and schemata endpoints return the spark catalog") {
    assert(SystemCatalog.catalogs(spark).collect().map(_.getString(0)).contains("spark_catalog"))
    assert(SystemCatalog.dbSchemas(spark).collect().map(_.getAs[String]("db_schema_name")).contains("default"))
  }

  test("constraint endpoints are empty-but-shaped (declared limitation)") {
    assert(SystemCatalog.primaryKeys(spark).count() == 0)
    assert(SystemCatalog.indexInfo(spark).columns.contains("is_unique"))
  }

  test("CHECKPOINT / VACUUM acknowledge as no-ops; ANALYZE recomputes stats") {
    val sessions = new SessionManager(spark, new GlobalSettings)
    val s = sessions.getOrCreate("maint-s", "alice", "admin")
    val admission = new AdmissionController(4, 8, 30)
    def run(sql: String) = Statement.run(sessions, s, new GlobalSettings, admission, sql)
    assert(run("CHECKPOINT").head.getString(0).contains("no-op"))
    assert(run("FORCE CHECKPOINT").head.getString(0).contains("no-op"))
    assert(run("VACUUM").head.getString(0).contains("no-op"))
    assert(run("VACUUM ANALYZE").head.getString(0).contains("no-op"))
    s.spark.sql("DROP TABLE IF EXISTS maint_t1")
    s.spark.sql("CREATE TABLE maint_t1 USING parquet AS SELECT 1 AS x")
    val res = run("ANALYZE").head.getString(0)
    assert(res.startsWith("analyzed") && !res.startsWith("analyzed 0"))
    // stats actually landed in the catalog
    val described = s.spark.sql("DESCRIBE TABLE EXTENDED maint_t1")
      .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(described.contains("Statistics"))
    // read-only role: ANALYZE is a catalog write
    val ro = sessions.getOrCreate("maint-ro", "bob", "readonly")
    intercept[SecurityException](
      Statement.run(sessions, ro, new GlobalSettings, admission, "ANALYZE"))
  }
}
