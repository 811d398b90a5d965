package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Write-ahead commit journal and the one commit path of row-level DML.
  *
  * The reference gets autocommit and multi-statement commits from one
  * transaction layer with one WAL (its `src/duckdb/duckdb_server.cpp:1987-2014`,
  * and a crashed process replays the WAL on next open). A directory of plain Parquet
  * tables has no shared WAL, so [[commit]] re-creates that contract, and
  * both an autocommitted statement ([[graft.sources.RowDml]]) and a
  * BEGIN…COMMIT ([[TxnDml.commitApply]]) run through it:
  *
  *   1. every touched table's FULL post-image is already sitting in a
  *      durable staging dir (under the warehouse, so it survives a process
  *      restart);
  *   2. ONE journal file lists (table -> staging dir), fsync + atomic
  *      rename — the commit point;
  *   3. ONE manifest rename maps every touched table to its post-image
  *      ([[ManifestCatalog]]) — the visibility point: a reader sees all of
  *      the commit or none of it;
  *   4. each table's post-image is folded into its base, then the journal
  *      is deleted, the manifest entries dropped and the staging dirs
  *      tombstoned.
  *
  * Crash before (2): no journal, no table touched — the transaction never
  * happened. Crash after (2): the journal survives, and [[recover]] (run at
  * server bootstrap) REDOES every listed fold with [[foldFull]] —
  * idempotent, because each entry is a full post-image — then clears the
  * journal. Either way the commit is all-or-nothing across tables. On
  * object storage the atomic renames become conditional PUTs; the journal
  * is O(touched tables) small regardless of data volume.
  */
object TxnJournal {

  private val Header = "graft-txn-journal v1"

  /** Journal directory — underscore-prefixed so no table resolution ever
    * mistakes it for data.
    */
  def journalDir(spark: SparkSession): Path =
    Warehouse.path(spark).resolve("_graft_txn_journal")

  /** Durable staging root for transaction post-images. Lives beside the
    * tables (same filesystem / same store), so a post-restart redo can
    * still read what it needs to apply — tmpdir staging would not survive
    * the crash the journal exists for.
    */
  def stageRoot(spark: SparkSession): Path =
    Warehouse.path(spark).resolve("_graft_txn_stage")

  /** Write the commit journal for `txnId`: tmp file, fsync, atomic rename.
    * The rename is the commit point — a reader never observes a partial
    * journal file.
    */
  def write(spark: SparkSession, txnId: String, entries: Seq[(String, String)]): Path = {
    val dir = journalDir(spark)
    Files.createDirectories(dir)
    val body = (Header +: txnId +: entries.map { case (t, d) => s"$t\t$d" })
      .mkString("", "\n", "\n")
    val tmp = dir.resolve(s"$txnId.tmp")
    val out = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    try {
      out.write(java.nio.ByteBuffer.wrap(body.getBytes(StandardCharsets.UTF_8)))
      out.force(true)
    } finally out.close()
    val fin = dir.resolve(s"$txnId.journal")
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
    fin
  }

  /** Commit completed: the journal is obsolete. */
  def clear(journal: Path): Unit = { Files.deleteIfExists(journal); () }

  /** Commit staged post-images: `entries` maps canonical table names
    * ([[TableNames.canonical]]) to staging dirs. The caller holds the
    * tables' [[CommitLock]]s. `fold` writes one post-image into its base;
    * the autocommit path passes a partition-scoped fold for statements that
    * touched only some partitions, everything else folds with [[foldFull]],
    * the same fold crash redo uses.
    */
  def commit(spark: SparkSession, txnId: String, entries: Seq[(String, String)])(
      fold: (String, String) => Unit = foldFull(spark, _, _)): Unit = {
    val journal = write(spark, txnId, entries)
    // Manifest entries carry the bare spelling for default-db tables
    // (shadow views are unqualified — TableNames.manifestName).
    val manifestEntries = entries.map { case (t, d) => (TableNames.manifestName(t), d) }
    ManifestCatalog.publish(spark, manifestEntries)
    // Crash-window widener for the kill -9 drills (DmlCrashSpec): holds the
    // commit between the journal's redo point and the fold so an external
    // kill lands INSIDE the window recovery must cover. Unset in
    // production — a plain conf read, no behavior change.
    spark.conf.getOption("spark.graft.dml.crashTestDelayMs")
      .foreach(ms => Thread.sleep(ms.toLong))
    entries.foreach { case (table, staged) =>
      // Inside the commit lock a leftover shadow can only be a stale
      // manifest view from an already-folded commit — drop it so the fold
      // resolves the base table.
      ManifestCatalog.unshadow(spark, table)
      fold(table, staged)
    }
    clear(journal)
    // Bases now equal snapshots — dropping the entries never changes what a
    // fresh reader sees.
    ManifestCatalog.drop(spark, manifestEntries)
    // No tmpdir reaper ever collects the warehouse staging dirs, so deletion
    // is DEFERRED through tombstones: a reader that resolved a snapshot
    // through the manifest just before the drop may still be scanning it.
    // Each commit reaps tombstones older than the grace period.
    ManifestCatalog.tombstone(spark, entries.map(_._2))
    ManifestCatalog.reapTombstones(spark)
  }

  /** Fold a staged FULL post-image into its base table (static overwrite).
    * Columns are re-selected into the CATALOG table's order by name first:
    * `insertInto` is positional, and a partition-structured snapshot (a
    * partition-scoped autocommit statement stages one) reads back with its
    * partition columns LAST regardless of the table's declared order.
    */
  def foldFull(spark: SparkSession, table: String, staged: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    // Defense in depth under the name-level read-only gate: whatever
    // spelling reached the staging map, the RESOLVED location must not sit
    // inside a read-only attachment (r15 ADVICE — the file-swap branch
    // below would otherwise silently rewrite a read-only source file).
    if (AttachManager.isReadOnlyLocation(Paths.get(meta.location)))
      throw new SecurityException(
        s"table $table resolves into a read-only attachment; refusing to fold")
    val cols = meta.schema.fieldNames
    val aligned = spark.read.parquet(staged)
      .select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val locFile = new java.io.File(Paths.get(meta.location).toString)
    if (locFile.isFile) {
      // FILE-backed external table (a writable attachment over a dir of
      // single-file tables): `insertInto` cannot overwrite a file location,
      // so the fold writes the post-image as ONE parquet file and swaps it
      // in with an atomic rename — readers see the old file or the new one,
      // never a partial write. REFRESH drops the session's cached listing.
      val tmpDir = Files.createTempDirectory(locFile.getParentFile.toPath, ".graft-fold-")
      try {
        aligned.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
        val part = Option(tmpDir.toFile.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.endsWith(".parquet") && f.isFile)
          .getOrElse(throw new IllegalStateException(
            s"fold of $table produced no parquet file under $tmpDir"))
        Files.move(part.toPath, locFile.toPath, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        spark.sql(s"REFRESH TABLE $table")
      } finally Warehouse.deleteTree(tmpDir)
    } else aligned.write.mode("overwrite").insertInto(table)
  }

  /** Redo every in-flight commit found in the journal dir (bootstrap path).
    *
    * Each journal lists full post-images, so redo is a plain re-apply of
    * every entry — idempotent whether the crashed process had applied none,
    * some, or all of them. Journals apply in name order (txn UUIDs; at most
    * one can be in flight per crashed single-process server, so order only
    * matters for hand-written test fixtures). A journal whose staged data
    * is gone is unrecoverable corruption — fail bootstrap loudly, exactly
    * like the reference's engine refuses a database with a broken WAL.
    *
    * Returns "txnId:table" labels of applied overwrites.
    */
  def recover(spark: SparkSession): Seq[String] = {
    val dir = journalDir(spark)
    if (!Files.isDirectory(dir)) return Seq.empty
    val journals = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".journal")).toSeq.sortBy(_.toString)
    journals.flatMap { j =>
      val lines = Files.readAllLines(j, StandardCharsets.UTF_8).asScala.toSeq
      if (lines.isEmpty || lines.head != Header)
        throw new IllegalStateException(s"unreadable transaction journal $j")
      val txnId = lines(1)
      val entries = lines.drop(2).filter(_.nonEmpty).map { l =>
        l.split("\t", 2) match {
          case Array(t, d) => (t, d)
          case _ => throw new IllegalStateException(s"malformed journal line in $j: $l")
        }
      }
      entries.foreach { case (table, staged) =>
        if (!Files.isDirectory(Paths.get(staged)))
          throw new IllegalStateException(
            s"transaction journal $j references missing staging dir $staged — " +
              "cannot redo the interrupted commit; refusing to serve a " +
              "partially-committed catalog")
      }
      val applied = entries.map { case (table, staged) =>
        foldFull(spark, table, staged)
        s"$txnId:$table"
      }
      clear(j)
      // the redo republished nothing: make sure no manifest entry from the
      // crashed commit outlives its journal (base == snapshot after redo,
      // so dropping is always safe); manifest entries carry the bare
      // default-db spelling ([[TableNames.manifestName]])
      ManifestCatalog.drop(spark, entries.map { case (t, d) => (TableNames.manifestName(t), d) })
      entries.foreach { case (_, staged) => deleteStaged(spark, staged) }
      applied
    } ++ {
      reconcileManifest(spark)
      sweepOrphanedStaging(spark)
      Nil
    }
  }

  /** Bootstrap reconciliation for manifest entries with NO journal — a
    * crash between journal clear and manifest drop. Protocol order says the
    * folds completed, but re-applying a full post-image is idempotent, so
    * fold defensively, then drop the entry. Bootstrap has no live readers,
    * so the snapshot dirs go straight to the orphan sweep.
    */
  private def reconcileManifest(spark: SparkSession): Unit = {
    val (_, entries) = ManifestCatalog.read(spark)
    if (entries.isEmpty) return
    entries.foreach { case (table, staged) =>
      if (!Files.isDirectory(Paths.get(staged.stripPrefix("file:"))))
        throw new IllegalStateException(
          s"table manifest references missing snapshot dir $staged for $table — " +
            "refusing to serve a partially-visible catalog")
      foldFull(spark, table, staged)
    }
    ManifestCatalog.drop(spark, entries.toSeq)
  }

  /** Delete one staging dir (post-commit cleanup). Best-effort: a failed
    * delete is a leak, not a correctness problem — the bootstrap sweep gets
    * another chance.
    */
  def deleteStaged(spark: SparkSession, dir: String): Unit = {
    val p = Paths.get(dir.stripPrefix("file:"))
    // only ever delete under our own staging root — never follow a journal
    // entry outside it
    if (p.startsWith(stageRoot(spark))) Warehouse.deleteTree(p)
  }

  /** Bootstrap-time orphan sweep: any dir under the staging root referenced
    * by neither a live journal nor a manifest entry belongs to a
    * rolled-back or fully-folded transaction (rollback defers deletion to
    * here — an in-flight scan of a shadow view may outlive ROLLBACK, but
    * nothing outlives a restart).
    */
  private def sweepOrphanedStaging(spark: SparkSession): Unit = {
    val root = stageRoot(spark)
    if (!Files.isDirectory(root)) return
    val live: Set[String] = {
      val dir = journalDir(spark)
      val fromJournals =
        if (!Files.isDirectory(dir)) Set.empty[String]
        else Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".journal"))
          .flatMap(j => Files.readAllLines(j, StandardCharsets.UTF_8).asScala
            .drop(2).filter(_.contains("\t")).map(_.split("\t", 2)(1)))
          .map(d => Paths.get(d.stripPrefix("file:")).toAbsolutePath.toString)
          .toSet
      fromJournals ++ ManifestCatalog.referencedDirs(spark)
    }
    Files.list(root).iterator().asScala
      .filter(d => !live.contains(d.toAbsolutePath.toString))
      .foreach(Warehouse.deleteTree)
  }
}
