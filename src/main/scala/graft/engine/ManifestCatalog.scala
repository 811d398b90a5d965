package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Versioned table manifest: the read-path half of cross-table commit
  * atomicity on plain Parquet.
  *
  * [[TxnJournal]] (r8) made a multi-table COMMIT crash-atomic — a restart
  * redoes an interrupted apply — but a LIVE reader between the per-table
  * base overwrites could still see table A new next to table B old. This
  * closes that window the way Delta/Iceberg commit protocols do, scaled
  * down to the engine's needs: COMMIT publishes `table -> snapshot dir`
  * entries for every touched table in ONE atomic manifest rename BEFORE any
  * base table is overwritten, and every session's statement path resolves
  * reads through the manifest first (a session temp view per entry — temp
  * views shadow catalog tables in resolution). The swap of all tables is
  * therefore a single filesystem rename: a reader either resolves every
  * touched table through the manifest (all post-images) or none of it
  * (all pre-commit bases — the base folds only start after the rename).
  * Reference semantics target: one-transaction-commits-all, as the
  * reference engine's storage layer guarantees
  * (`/root/reference/src/duckdb/duckdb_server.cpp:1987-2014`).
  *
  * Lifecycle of one commit: journal write (crash redo point) -> manifest
  * publish (VISIBILITY point) -> per-table base folds -> journal clear ->
  * manifest drop (bases now equal snapshots, so dropping entries never
  * changes what a fresh reader sees) -> snapshot dirs tombstoned and reaped
  * after a grace period (a reader that resolved a snapshot just before the
  * drop may still be scanning it; yanking files from a live scan would fail
  * the query, so deletion waits out the longest plausible statement).
  *
  * Scale posture: the manifest is O(in-flight touched tables) — bytes, not
  * data — and one rename per commit; on object storage the rename becomes a
  * conditional PUT. Reader refresh cost is a per-statement version check
  * (one getAttr) and re-registration only when the version moved.
  */
object ManifestCatalog {

  private val Header = "graft-manifest v1"

  def manifestPath(spark: SparkSession): Path =
    Warehouse.path(spark).resolve("_graft_manifest")

  private def tombstonePath(spark: SparkSession): Path =
    Warehouse.path(spark).resolve("_graft_txn_tombstones")

  /** (version, table -> snapshot dir). Version 0 = no manifest. */
  def read(spark: SparkSession): (Long, Map[String, String]) = {
    val p = manifestPath(spark)
    if (!Files.isRegularFile(p)) return (0L, Map.empty)
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
    if (lines.isEmpty || lines.head != Header)
      throw new IllegalStateException(s"unreadable table manifest $p")
    val version = lines(1).toLong
    val entries = lines.drop(2).filter(_.contains("\t")).map { l =>
      val Array(t, d) = l.split("\t", 2); t -> d
    }.toMap
    (version, entries)
  }

  // All manifest writes in this JVM serialize here; the atomic rename makes
  // cross-process readers safe, and the engine is single-process.
  private val writeLock = new Object

  private def write(spark: SparkSession, version: Long, entries: Map[String, String]): Unit = {
    val p = manifestPath(spark)
    Files.createDirectories(p.getParent)
    val body = (Header +: version.toString +:
      entries.toSeq.sortBy(_._1).map { case (t, d) => s"$t\t$d" }).mkString("", "\n", "\n")
    val tmp = p.resolveSibling(s"${p.getFileName}.tmp")
    val out = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    try {
      out.write(java.nio.ByteBuffer.wrap(body.getBytes(StandardCharsets.UTF_8)))
      out.force(true)
    } finally out.close()
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish `table -> snapshot dir` entries (merged over current ones) in
    * one atomic rename — the commit's visibility point.
    */
  def publish(spark: SparkSession, entries: Seq[(String, String)]): Unit =
    writeLock.synchronized {
      val (v, cur) = read(spark)
      write(spark, v + 1, cur ++ entries)
    }

  /** Remove entries whose mapping still matches exactly (post-fold: base ==
    * snapshot, so a fresh reader sees the same rows either way). A table
    * concurrently re-published by a NEWER commit is left alone.
    */
  def drop(spark: SparkSession, entries: Seq[(String, String)]): Unit =
    writeLock.synchronized {
      val (v, cur) = read(spark)
      val next = cur.filterNot { case (t, d) => entries.contains((t, d)) }
      write(spark, v + 1, next)
    }

  /** Snapshot dirs any manifest entry still references (sweep protection). */
  def referencedDirs(spark: SparkSession): Set[String] =
    read(spark)._2.values.map(d => Paths.get(d.stripPrefix("file:")).toAbsolutePath.toString).toSet

  // ---- per-session read-path refresh --------------------------------------

  private case class SessionView(version: Long, managed: Set[String], skipped: Set[String])

  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SessionView]())

  /** Route this session's reads through the current manifest: register a
    * temp view per entry (shadowing the base catalog table) and drop views
    * for entries that folded away. No-op (one version compare) when the
    * manifest hasn't moved. Returns whether the views changed; the caller
    * then flushes the session's caches through `PlanCache.sync` — cached
    * plans and file listings resolved against the previous routing. `skip`
    * protects tables the session's own OPEN transaction is shadowing — its
    * read-your-writes view outranks the committed manifest.
    */
  def refresh(spark: SparkSession, skip: Set[String] = Set.empty): Boolean = {
    val p = manifestPath(spark)
    val cached = bySession.get(spark)
    val exists = Files.isRegularFile(p)
    if (!exists && (cached == null || cached.managed.isEmpty)) return false
    val (version, entries) = if (exists) read(spark) else (0L, Map.empty[String, String])
    // The skip set is part of the view's identity: ROLLBACK drops a session's
    // shadow temp view WITHOUT bumping the manifest version, so a version-only
    // fast path would leave the previously-skipped table resolving to the base
    // catalog table while another session's commit is still mid-fold.
    if (cached != null && cached.version == version && cached.skipped == skip) return false
    val prevManaged = if (cached == null) Set.empty[String] else cached.managed
    // QUALIFIED entries (attached-catalog tables, `att.t`) cannot be
    // shadowed: temp views have no db-qualified names. Their commits keep
    // crash atomicity (journal) and per-table atomicity (one fold), but a
    // reader DURING the fold window reads the base table directly — it sees
    // pre-state or a transient listing error, never a partial mix presented
    // as committed. Declared residual, primary-catalog tables keep the full
    // manifest shadow.
    val nowManaged = entries.keySet.filterNot(_.contains(".")) -- skip
    (prevManaged -- nowManaged).foreach(spark.catalog.dropTempView)
    entries.foreach { case (t, d) =>
      if (!skip.contains(t) && !t.contains(".")) {
        // Partition-structured snapshots (the autocommit DML path writes
        // those) read back with partition columns LAST; re-select into the
        // catalog table's declared order so SELECT * through the manifest
        // view matches the base table exactly.
        val raw = spark.read.parquet(d)
        val ordered = try {
          val cols = spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(t)).schema.fieldNames
          if (cols.sorted.sameElements(raw.columns.sorted))
            raw.select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
          else raw
        } catch { case _: Exception => raw }
        ordered.createOrReplaceTempView(t)
      }
    }
    bySession.put(spark, SessionView(version, nowManaged, skip))
    true
  }

  /** Drop this session's manifest temp view for `table`, if one is
    * registered. Non-transactional write paths (`insertInto`) must call this
    * first: during a commit's publish-to-drop window the refresh shadows the
    * unqualified table name with a temp view in every reader session, and
    * `insertInto` would resolve the VIEW and fail with "inserting into a
    * view". The base overwrite the writer is about to perform makes the
    * shadow moot for this session anyway.
    */
  def unshadow(spark: SparkSession, table: String): Unit = {
    val cached = bySession.get(spark)
    val name = table.split("\\.").last
    if (cached != null && cached.managed.contains(name)) {
      spark.catalog.dropTempView(name)
      bySession.put(spark, cached.copy(managed = cached.managed - name))
    }
  }

  // ---- deferred snapshot deletion ------------------------------------------

  /** Tombstone snapshot dirs for deferred deletion: a reader that resolved
    * them just before the manifest drop may still be scanning. One line per
    * dir: "epochMillis\tdir".
    */
  def tombstone(spark: SparkSession, dirs: Seq[String]): Unit = writeLock.synchronized {
    if (dirs.isEmpty) return
    val p = tombstonePath(spark)
    Files.createDirectories(p.getParent)
    val body = dirs.map(d => s"${System.currentTimeMillis()}\t$d").mkString("", "\n", "\n")
    Files.write(p, body.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  /** Delete tombstoned dirs older than the grace period (called on each
    * commit and at bootstrap). Grace default 10 min; configurable via
    * `spark.graft.txn.snapshotGraceMs` for tests and aggressive setups.
    */
  def reapTombstones(spark: SparkSession): Int = writeLock.synchronized {
    val p = tombstonePath(spark)
    if (!Files.isRegularFile(p)) return 0
    val graceMs = spark.conf.get("spark.graft.txn.snapshotGraceMs",
      (10L * 60 * 1000).toString).toLong
    val cutoff = System.currentTimeMillis() - graceMs
    val protectedDirs = referencedDirs(spark)
    val (reap, keep) = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.contains("\t")).map { l =>
        val Array(ts, d) = l.split("\t", 2); (ts.toLong, d)
      }.partition { case (ts, d) =>
        ts <= cutoff &&
          !protectedDirs.contains(Paths.get(d.stripPrefix("file:")).toAbsolutePath.toString)
      }
    reap.foreach { case (_, d) =>
      val dp = Paths.get(d.stripPrefix("file:"))
      if (dp.startsWith(TxnJournal.stageRoot(spark))) Warehouse.deleteTree(dp)
    }
    if (keep.isEmpty) Files.deleteIfExists(p)
    else Files.write(p, keep.map { case (ts, d) => s"$ts\t$d" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    reap.size
  }
}
