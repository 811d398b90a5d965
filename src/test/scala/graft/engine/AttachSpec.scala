package graft.engine

import graft.SparkTestHarness
import org.scalatest.funsuite.AnyFunSuite

/** Multi-catalog ATTACH/DETACH/USE plus the catalog_access visibility claim
  * (`/root/reference/src/duckdb/duckdb_server.cpp:700-717`,
  * `duckdb_statement.cpp:859-884`).
  */
class AttachSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private lazy val global = new GlobalSettings
  private lazy val sessions = new SessionManager(spark, global)

  private lazy val admin = sessions.getOrCreate("attspec-admin", "alice", "admin")
  private lazy val user = sessions.getOrCreate("attspec-user", "bob", "user")
  private lazy val restricted = sessions.getOrCreate(
    "attspec-restr", "carol", "user", Some(Set("attspec_a")))

  private def run(s: SessionState, sql: String) =
    Statement.create(sessions, s, global, sql)

  // Second store: a temp directory holding one parquet table.
  private lazy val storeB: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-attach-b").toFile
    spark.read.parquet(s"${SparkTestHarness.sfDir}/nation.parquet")
      .limit(10).coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "tiny_nation.parquet").getAbsolutePath)
    dir.getAbsolutePath
  }

  private lazy val attachedBoth: Unit = {
    run(admin, s"ATTACH '${SparkTestHarness.sfDir}' AS attspec_a")
    run(admin, s"ATTACH DATABASE '$storeB' AS attspec_b")
  }

  test("ATTACH registers every parquet table and is admin-only") {
    attachedBoth
    assert(sessions.attachments.names == Set("attspec_a", "attspec_b"))
    intercept[SecurityException](run(user, s"ATTACH '$storeB' AS attspec_c"))
    // invalid path is a client error
    intercept[IllegalArgumentException](run(admin, "ATTACH '/does/not/exist' AS nope"))
  }

  test("attached stores are queryable with 2-part names, across stores") {
    attachedBoth
    assert(run(admin, "SELECT COUNT(*) AS n FROM attspec_a.region").collect()(0).getLong(0) == 5)
    val joined = run(admin,
      "SELECT COUNT(*) AS n FROM attspec_a.nation a JOIN attspec_b.tiny_nation b ON a.n_nationkey = b.n_nationkey")
      .collect()(0).getLong(0)
    assert(joined == 10)
  }

  test("GetCatalogs / GetDbSchemas / GetTables span attachments") {
    attachedBoth
    val att = sessions.attachments.names
    val cats = SystemCatalog.catalogs(spark, att).collect().map(_.getString(0)).toSet
    assert(Set("spark_catalog", "attspec_a", "attspec_b").subsetOf(cats))
    val schemas = SystemCatalog.dbSchemas(spark, attached = att).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(schemas.contains(("attspec_a", "main")) && schemas.contains(("attspec_b", "main")))
    val tbl = SystemCatalog.tables(spark, attached = att).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(tbl.contains(("attspec_a", "main", "region")))
    assert(tbl.contains(("attspec_b", "main", "tiny_nation")))
  }

  test("USE switches into an attachment; bare names resolve there") {
    attachedBoth
    run(admin, "USE attspec_a")
    try {
      assert(run(admin, "SELECT COUNT(*) AS n FROM region").collect()(0).getLong(0) == 5)
    } finally run(admin, "USE default")
  }

  test("catalog_access claim round-trips through the token") {
    val t = Auth.mintToken("s3cret", "carol", "user", "inst-1",
      catalogAccess = Some(Seq("attspec_a", "spark_catalog")))
    val id = Auth.validate("s3cret", t, "inst-1").toOption.get
    assert(id.catalogAccess.contains(Set("attspec_a", "spark_catalog")))
    // no claim = unrestricted
    val t2 = Auth.mintToken("s3cret", "alice", "admin", "inst-1")
    assert(Auth.validate("s3cret", t2, "inst-1").toOption.get.catalogAccess.isEmpty)
  }

  test("restricted session queries only granted stores") {
    attachedBoth
    assert(run(restricted, "SELECT COUNT(*) AS n FROM attspec_a.region")
      .collect()(0).getLong(0) == 5)
    intercept[SecurityException](
      run(restricted, "SELECT * FROM attspec_b.tiny_nation"))
    intercept[SecurityException](
      run(restricted, "SELECT * FROM spark_catalog.default.anything"))
    intercept[SecurityException](run(restricted, "USE attspec_b"))
    // CTE bodies are walked too
    intercept[SecurityException](run(restricted,
      "WITH x AS (SELECT * FROM attspec_b.tiny_nation) SELECT * FROM x"))
    // unqualified temp-view references stay allowed
    spark.range(3).createOrReplaceTempView("attspec_probe")
    restricted.spark.range(3).toDF("v").createOrReplaceTempView("attspec_probe")
    assert(run(restricted, "SELECT COUNT(*) AS n FROM attspec_probe")
      .collect()(0).getLong(0) == 3)
  }

  test("catalog_access wildcard patterns: IAM-style * and ? semantics") {
    import CatalogAccess.matchesCatalogPattern
    // exact, case-sensitive, no implicit prefixing
    assert(matchesCatalogPattern("production", "production"))
    assert(!matchesCatalogPattern("prod", "production"))
    assert(!matchesCatalogPattern("prod", "Prod"))
    // bare star, empty strings
    assert(matchesCatalogPattern("*", "") && matchesCatalogPattern("*", "anything"))
    assert(matchesCatalogPattern("", "") && !matchesCatalogPattern("", "a"))
    assert(!matchesCatalogPattern("?", ""))
    // prefix / suffix / infix globs
    assert(matchesCatalogPattern("prod_*", "prod_sales") &&
      matchesCatalogPattern("prod_*", "prod_") && !matchesCatalogPattern("prod_*", "prod"))
    assert(matchesCatalogPattern("*_west", "sales_west") &&
      !matchesCatalogPattern("*_west", "sales_west_2"))
    assert(matchesCatalogPattern("data_*_2025", "data__2025") &&
      !matchesCatalogPattern("data_*_2025", "data_2025"))
    assert(matchesCatalogPattern("*sales*", "prod_sales_eu") &&
      matchesCatalogPattern("a**b", "axyzb"))
    // ? exactly one; mixed
    assert(matchesCatalogPattern("tenant_?", "tenant_a") &&
      !matchesCatalogPattern("tenant_?", "tenant_") &&
      !matchesCatalogPattern("tenant_?", "tenant_ab"))
    assert(matchesCatalogPattern("t_?_*", "t_1_") && !matchesCatalogPattern("t_?_*", "t__x"))
    // backtracking cases
    assert(matchesCatalogPattern("*abc", "zzabcabc") && !matchesCatalogPattern("*abc", "zzabcx"))
    assert(matchesCatalogPattern("a*c*e", "abcde") && !matchesCatalogPattern("a*c*e", "abcdx"))
    // literal dots/dashes are not wildcards
    assert(matchesCatalogPattern("my-bucket.v1", "my-bucket.v1") &&
      !matchesCatalogPattern("my-bucket.v1", "my-bucketxv1"))
  }

  test("wildcard grant covers matching stores end-to-end; listings filter by glob") {
    attachedBoth
    val wild = sessions.getOrCreate("attspec-wild", "wilda", "user",
      catalogAccess = Some(Set("attspec_*")))
    assert(run(wild, "SELECT COUNT(*) AS n FROM attspec_a.region").collect()(0).getLong(0) == 5)
    assert(run(wild, "SELECT COUNT(*) AS n FROM attspec_b.tiny_nation").collect()(0).getLong(0) > 0)
    intercept[SecurityException](
      run(wild, "SELECT * FROM spark_catalog.default.anything"))
    val att = sessions.attachments.names
    val cats = SystemCatalog.catalogs(spark, att, Some(Set("attspec_*")))
      .collect().map(_.getString(0)).toSet
    assert(cats.contains("attspec_a") && cats.contains("attspec_b") &&
      !cats.contains("spark_catalog"))
  }

  test("restricted metadata listings filter to the grant; temp views stay") {
    attachedBoth
    val att = sessions.attachments.names
    val visible = Some(Set("attspec_a"))
    val cats = SystemCatalog.catalogs(spark, att, visible).collect().map(_.getString(0)).toSet
    assert(cats == Set("attspec_a"))
    val tbl = SystemCatalog.tables(spark, attached = att, visible = visible).collect()
    val catsSeen = tbl.map(_.getString(0)).toSet
    assert(tbl.exists(r => r.getString(0) == "attspec_a" && r.getString(2) == "region"))
    assert(!catsSeen.contains("attspec_b"))
    assert(tbl.filter(_.getString(3) != "LOCAL TEMPORARY").forall(_.getString(0) == "attspec_a"))
  }

  test("DESCRIBE/SHOW respect the catalog_access grant (schema metadata is gated too)") {
    attachedBoth
    // grant covers attspec_a only: DESCRIBE of the granted store works,
    // DESCRIBE/SHOW of any other attached store is refused — column
    // names/types are inside the access boundary, not free metadata
    assert(run(restricted, "DESCRIBE attspec_a.region").collect().nonEmpty)
    intercept[SecurityException](run(restricted, "DESCRIBE attspec_b.tiny_nation"))
    intercept[SecurityException](run(restricted, "SHOW attspec_b.tiny_nation"))
    intercept[SecurityException](
      run(restricted, "DESCRIBE SELECT * FROM attspec_b.tiny_nation"))
    // unrestricted session: unaffected
    assert(run(admin, "DESCRIBE attspec_b.tiny_nation").collect().nonEmpty)
  }

  test("DETACH removes the attachment; admin-only; unknown name errors") {
    attachedBoth
    intercept[SecurityException](run(user, "DETACH attspec_b"))
    run(admin, "DETACH DATABASE attspec_b")
    assert(!sessions.attachments.names.contains("attspec_b"))
    intercept[org.apache.spark.sql.AnalysisException](
      run(admin, "SELECT * FROM attspec_b.tiny_nation").collect())
    intercept[IllegalArgumentException](run(admin, "DETACH attspec_b"))
    val cats = SystemCatalog.catalogs(spark, sessions.attachments.names)
      .collect().map(_.getString(0)).toSet
    assert(!cats.contains("attspec_b"))
  }

  // ---- writable attachments (the DuckLake analog,
  // `/root/reference/tests/integration/test_ducklake.cpp`) -----------------

  private lazy val lakeDir: String =
    java.nio.file.Files.createTempDirectory("graft-attach-lake").toFile.getAbsolutePath

  private lazy val attachedLake: Unit = {
    run(admin, s"ATTACH '$lakeDir' AS lake (READ_WRITE)")
    ()
  }

  test("writable attach: CREATE TABLE + INSERT + query, data survives " +
      "DETACH and re-attach (DuckLake shape)") {
    attachedLake
    run(admin, "CREATE TABLE lake.test_cities (id INT, name STRING, country STRING, population INT)")
    run(admin, "INSERT INTO lake.test_cities VALUES " +
      "(1,'Amsterdam','Netherlands',872000),(2,'Rotterdam','Netherlands',651000)," +
      "(3,'The Hague','Netherlands',545000),(4,'Utrecht','Netherlands',359000)," +
      "(5,'Eindhoven','Netherlands',234000)")
    assert(run(admin, "SELECT COUNT(*) AS n FROM lake.test_cities").collect()(0).getLong(0) == 5)
    val agg = run(admin, "SELECT country, COUNT(*) AS c, SUM(population) AS p " +
      "FROM lake.test_cities GROUP BY country").collect()
    assert(agg.length == 1 && agg(0).getLong(1) == 5 && agg(0).getLong(2) == 2661000L)
    // the table landed UNDER the attached directory, as an external dir
    assert(new java.io.File(lakeDir, "test_cities").isDirectory)
    // detach keeps the data (external tables); re-attach re-discovers it
    run(admin, "DETACH lake")
    assert(!sessions.attachments.names.contains("lake"))
    run(admin, s"ATTACH '$lakeDir' AS lake (READ_WRITE)")
    assert(run(admin, "SELECT COUNT(*) AS n FROM lake.test_cities").collect()(0).getLong(0) == 5)
  }

  test("writable attach: USE + unqualified CREATE TABLE lands in the attached dir") {
    attachedLake
    run(admin, "USE lake")
    try {
      run(admin, "CREATE TABLE bare_t (k INT, v STRING)")
      run(admin, "INSERT INTO bare_t VALUES (1,'a'),(2,'b')")
      assert(run(admin, "SELECT COUNT(*) AS n FROM bare_t").collect()(0).getLong(0) == 2)
      assert(new java.io.File(lakeDir, "bare_t").isDirectory,
        "unqualified CREATE in a USEd writable attachment lands under its dir")
    } finally run(admin, "USE default")
  }

  test("writable attach: autocommit UPDATE and DELETE run copy-on-write") {
    attachedLake
    run(admin, "CREATE TABLE lake.upd_t (id INT, v INT)")
    run(admin, "INSERT INTO lake.upd_t VALUES (1,10),(2,20),(3,30)")
    run(admin, "UPDATE lake.upd_t SET v = v + 1 WHERE id <= 2")
    assert(run(admin, "SELECT SUM(v) AS s FROM lake.upd_t").collect()(0).getLong(0) == 62)
    run(admin, "DELETE FROM lake.upd_t WHERE id = 3")
    assert(run(admin, "SELECT COUNT(*) AS n FROM lake.upd_t").collect()(0).getLong(0) == 2)
  }

  test("writable attach: autocommit UPDATE on a single-file table folds " +
      "like COMMIT — the path stays one file") {
    // a directory holding one plain parquet FILE (not a Spark output dir)
    val dir = java.nio.file.Files.createTempDirectory("graft-attach-file")
    val src = java.nio.file.Files.createTempDirectory("graft-attach-file-src")
    spark.range(1, 6).selectExpr("CAST(id AS INT) AS id", "CAST(id * 10 AS INT) AS v")
      .coalesce(1).write.mode("overwrite").parquet(src.toString)
    val part = src.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    val fa = dir.resolve("fa.parquet").toFile
    java.nio.file.Files.move(part.toPath, fa.toPath)
    Warehouse.deleteTree(src)
    def rows() = run(admin, "SELECT id, v FROM filelake.fa ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    run(admin, s"ATTACH '$dir' AS filelake (READ_WRITE)")
    try {
      run(admin, "UPDATE filelake.fa SET v = v + 1 WHERE id <= 2")
      assert(fa.isFile, s"$fa is no longer a regular file after the fold")
      assert(run(admin, "SELECT SUM(v) AS s FROM filelake.fa").collect()(0).getLong(0) == 152)
      val after = rows()
      run(admin, "DETACH filelake")
      run(admin, s"ATTACH '$dir' AS filelake (READ_WRITE)")
      assert(rows() == after)
      assert(after == Seq((1, 11), (2, 21), (3, 30), (4, 40), (5, 50)))
    } finally run(admin, "DETACH filelake")
  }

  test("writable attach: transactional DML — read-your-writes inside the " +
      "txn, isolation outside, COMMIT publishes, ROLLBACK discards") {
    attachedLake
    val admin2 = sessions.getOrCreate("attspec-admin2", "dave", "admin")
    run(admin, "CREATE TABLE lake.txn_t (id INT, v INT)")
    run(admin, "INSERT INTO lake.txn_t VALUES (1,100),(2,200)")
    run(admin, "BEGIN")
    run(admin, "UPDATE lake.txn_t SET v = v + 5 WHERE id = 1")
    // read-your-writes through the qualified-relation remap
    assert(run(admin, "SELECT v FROM lake.txn_t WHERE id = 1").collect()(0).getInt(0) == 105)
    // chained DML sees the first statement's post-image
    run(admin, "UPDATE lake.txn_t SET v = v + 1 WHERE id = 1")
    assert(run(admin, "SELECT v FROM lake.txn_t WHERE id = 1").collect()(0).getInt(0) == 106)
    // another session keeps reading the committed state
    assert(run(admin2, "SELECT v FROM lake.txn_t WHERE id = 1").collect()(0).getInt(0) == 100)
    run(admin, "COMMIT")
    assert(run(admin, "SELECT v FROM lake.txn_t WHERE id = 1").collect()(0).getInt(0) == 106)
    assert(run(admin2, "SELECT v FROM lake.txn_t WHERE id = 1").collect()(0).getInt(0) == 106)
    // ROLLBACK discards staged qualified DML
    run(admin, "BEGIN")
    run(admin, "UPDATE lake.txn_t SET v = 0")
    assert(run(admin, "SELECT SUM(v) AS s FROM lake.txn_t").collect()(0).getLong(0) == 0)
    run(admin, "ROLLBACK")
    assert(run(admin, "SELECT v FROM lake.txn_t WHERE id = 1").collect()(0).getInt(0) == 106)
  }

  test("writable attach: interrupted commit on an attached table redoes " +
      "from the journal (kill-replay)") {
    attachedLake
    run(admin, "CREATE TABLE lake.crash_t (id INT, v INT)")
    run(admin, "INSERT INTO lake.crash_t VALUES (1,1),(2,2)")
    // stage a post-image and write the commit journal, then 'crash' before
    // the fold — exactly the window TxnJournal.recover redoes at bootstrap
    val staged = TxnJournal.stageRoot(spark)
      .resolve(java.util.UUID.randomUUID().toString).toString
    spark.sql("SELECT id, v * 10 AS v FROM lake.crash_t").write.parquet(staged)
    TxnJournal.write(spark, "txn-lake-crash", Seq("lake.crash_t" -> staged))
    // bootstrap: the attachment is re-established FIRST (in-memory catalog),
    // then recovery folds the journaled post-image
    val redone = TxnJournal.recover(spark)
    assert(redone.contains("txn-lake-crash:lake.crash_t"))
    assert(run(admin, "SELECT SUM(v) AS s FROM lake.crash_t").collect()(0).getLong(0) == 30)
  }

  test("writable attach: CREATE OR REPLACE TABLE recreates at the same " +
      "location, starting empty") {
    attachedLake
    run(admin, "CREATE OR REPLACE TABLE lake.ror_t (a INT)")
    run(admin, "INSERT INTO lake.ror_t VALUES (1),(2)")
    run(admin, "CREATE OR REPLACE TABLE lake.ror_t (a INT, b INT)")
    assert(run(admin, "SELECT COUNT(*) AS n FROM lake.ror_t").collect()(0).getLong(0) == 0,
      "replace starts empty — the old dir is cleared, not resurrected")
    run(admin, "INSERT INTO lake.ror_t VALUES (1, 10)")
    assert(run(admin, "SELECT b FROM lake.ror_t").collect()(0).getInt(0) == 10)
    assert(new java.io.File(lakeDir, "ror_t").isDirectory)
  }

  // ---- r16: read-only gate bypass closures + staged-key normalization ----

  test("read-only gate survives USE, 3-part names, and case aliasing") {
    run(admin, s"ATTACH '$storeB' AS attspec_ro2")
    try {
      run(admin, "USE attspec_ro2")
      try {
        // unqualified DML after USE used to skip the gate entirely
        val e1 = intercept[SecurityException](
          run(admin, "UPDATE tiny_nation SET n_name = 'X' WHERE n_nationkey = 0"))
        assert(e1.getMessage.contains("read-only"))
        // and inside a transaction (the foldFull file-swap path)
        run(admin, "BEGIN")
        val e2 = intercept[SecurityException](
          run(admin, "UPDATE tiny_nation SET n_name = 'X' WHERE n_nationkey = 0"))
        assert(e2.getMessage.contains("read-only"))
        run(admin, "ROLLBACK")
      } finally run(admin, "USE default")
      // 3-part spelling skipped the first-segment check
      val e3 = intercept[SecurityException](
        run(admin, "DELETE FROM spark_catalog.attspec_ro2.tiny_nation WHERE n_nationkey = 0"))
      assert(e3.getMessage.contains("read-only"))
      // case-aliased spelling (Spark resolves identifiers case-insensitively)
      val e4 = intercept[SecurityException](
        run(admin, "UPDATE ATTSPEC_RO2.TINY_NATION SET n_name = 'X'"))
      assert(e4.getMessage.contains("read-only"))
      assert(run(admin,
        "SELECT COUNT(*) AS n FROM attspec_ro2.tiny_nation WHERE n_name = 'X'")
        .collect()(0).getLong(0) == 0, "no spelling may have mutated the data")
    } finally run(admin, "DETACH attspec_ro2")
  }

  test("foldFull refuses a post-image aimed at a read-only attachment " +
      "location (defense in depth under the name gate)") {
    run(admin, s"ATTACH '$storeB' AS attspec_ro3")
    try {
      val staged = TxnJournal.stageRoot(spark)
        .resolve(java.util.UUID.randomUUID().toString).toString
      spark.table("attspec_ro3.tiny_nation").write.parquet(staged)
      val e = intercept[SecurityException](
        TxnJournal.foldFull(spark, "attspec_ro3.tiny_nation", staged))
      assert(e.getMessage.contains("read-only"))
    } finally run(admin, "DETACH attspec_ro3")
  }

  test("one txn, case-aliased spellings of one table: one staged entry, " +
      "no lost update") {
    attachedLake
    run(admin, "CREATE TABLE lake.case_t (id INT, v INT)")
    run(admin, "INSERT INTO lake.case_t VALUES (1, 1)")
    run(admin, "BEGIN")
    run(admin, "UPDATE lake.case_t SET v = v + 10 WHERE id = 1")
    // the second spelling must READ the first statement's post-image and
    // REPLACE its staged entry — not stage a parallel pre-image copy that
    // the commit fold then applies last (lost update)
    run(admin, "UPDATE LAKE.CASE_T SET v = v + 100 WHERE id = 1")
    assert(run(admin, "SELECT v FROM Lake.Case_T WHERE id = 1")
      .collect()(0).getInt(0) == 111, "read-your-writes across spellings")
    run(admin, "COMMIT")
    assert(run(admin, "SELECT v FROM lake.case_t WHERE id = 1")
      .collect()(0).getInt(0) == 111)
  }

  test("one txn after USE: unqualified and qualified DML hit one staged entry") {
    attachedLake
    run(admin, "CREATE TABLE lake.mix_t (id INT, v INT)")
    run(admin, "INSERT INTO lake.mix_t VALUES (1, 1)")
    run(admin, "USE lake")
    try {
      run(admin, "BEGIN")
      run(admin, "UPDATE mix_t SET v = v + 10 WHERE id = 1")
      run(admin, "UPDATE lake.mix_t SET v = v + 100 WHERE id = 1")
      assert(run(admin, "SELECT v FROM mix_t WHERE id = 1")
        .collect()(0).getInt(0) == 111)
      run(admin, "COMMIT")
    } finally run(admin, "USE default")
    assert(run(admin, "SELECT v FROM lake.mix_t WHERE id = 1")
      .collect()(0).getInt(0) == 111)
  }

  test("CREATE TABLE in a writable attachment stays EXTERNAL even when a " +
      "column or CTAS query mentions 'location'") {
    attachedLake
    run(admin, "CREATE TABLE lake.loc_t (id INT, location STRING)")
    run(admin, "INSERT INTO lake.loc_t VALUES (1, 'x')")
    assert(new java.io.File(lakeDir, "loc_t").isDirectory,
      "a column named 'location' must not suppress the LOCATION injection " +
        "(a MANAGED table here would be DELETED by DETACH's CASCADE)")
    run(admin, "CREATE TABLE lake.loc_t2 AS SELECT id, location FROM lake.loc_t")
    assert(new java.io.File(lakeDir, "loc_t2").isDirectory)
    assert(run(admin, "SELECT location FROM lake.loc_t2").collect()(0).getString(0) == "x")
    // an EXPLICIT top-level LOCATION is still honored, not intercepted
    val explicit = java.nio.file.Files.createTempDirectory("graft-attach-explicit")
      .resolve("expl_t").toString
    run(admin, s"CREATE TABLE lake.expl_t (a INT) USING parquet LOCATION '$explicit'")
    run(admin, "INSERT INTO lake.expl_t VALUES (7)")
    assert(new java.io.File(explicit).isDirectory &&
      !new java.io.File(lakeDir, "expl_t").exists())
  }

  test("read-only attachments reject writes loudly") {
    // own attachment: an earlier test DETACHes attspec_b
    run(admin, s"ATTACH '$storeB' AS attspec_ro")
    val e1 = intercept[SecurityException](
      run(admin, "UPDATE attspec_ro.tiny_nation SET n_name = 'X' WHERE n_nationkey = 0"))
    assert(e1.getMessage.contains("read-only"))
    val e2 = intercept[SecurityException](
      run(admin, "INSERT INTO attspec_ro.tiny_nation SELECT * FROM attspec_ro.tiny_nation RETURNING n_nationkey"))
    assert(e2.getMessage.contains("read-only"))
    run(admin, "DETACH attspec_ro")
  }
}
