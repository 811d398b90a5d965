package graft.engine

import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock
import org.apache.spark.sql.SparkSession

/** Per-table commit serialization — in-process AND cross-process.
  *
  * Every path that writes a base table takes this lock for its target
  * table(s): a transaction's COMMIT ([[TxnDml.commitApply]]) and an
  * autocommitted row-level DML statement ([[graft.sources.RowDml]]) around
  * the whole [[TxnJournal.commit]] window, and a plain non-transactional
  * INSERT/COPY FROM or an `/ingest` bulk load ([[graft.sources.Ingest]])
  * around its write and row-count check. That closes the lost-update race
  * the r10 review flagged: without it, a non-transactional insert that runs
  * `unshadow` during another session's publish-to-fold window lands on the
  * base table and is then silently clobbered by the in-flight commit's fold.
  * With the lock, the insert simply waits until the fold + manifest drop
  * complete, then appends to the post-commit base.
  *
  * Two layers (r11 verdict #3 — the crash drill itself proves multiple JVMs
  * share one warehouse, so in-process locks alone left a cross-PROCESS
  * publish-to-fold race):
  *
  *   1. a JVM-wide `ReentrantLock` per table (cheap, reentrant, orders
  *      threads within one engine process), then
  *   2. an OS advisory file lock (`FileChannel.lock`) on
  *      `<warehouse>/_graft_locks/<table>.lock`, acquired only at the
  *      OUTERMOST in-process hold. A file LOCK — not an O_EXCL marker
  *      file — because the kernel releases it when the process dies, so a
  *      kill -9 mid-fold can never wedge the warehouse behind a stale
  *      lockfile that needs TTL arbitration. On a shared filesystem this is
  *      the fence; on object storage it becomes the conditional-PUT the
  *      manifest write already models.
  *
  * Readers never take the lock — visibility is the manifest's job
  * ([[ManifestCatalog]]); this lock only serializes WRITERS per table.
  *
  * Deadlock-free by construction: multi-table acquisitions sort names
  * first (both layers acquire in the same sorted order in every process),
  * and no fold path acquires a second table set while holding one.
  */
object CommitLock {

  private val locks = new ConcurrentHashMap[String, ReentrantLock]()

  private def lockFor(table: String): ReentrantLock =
    locks.computeIfAbsent(table, _ => new ReentrantLock())

  /** Blocking-acquire the cross-process fence for `table`; returns the open
    * channel whose close releases the OS lock.
    */
  private def acquireFence(spark: SparkSession, table: String): FileChannel = {
    val dir = Warehouse.path(spark).resolve("_graft_locks")
    Files.createDirectories(dir)
    val ch = FileChannel.open(dir.resolve(s"$table.lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try { ch.lock(); ch }
    catch { case t: Throwable => ch.close(); throw t }
  }

  /** Run `f` holding the commit locks for `tables` (sorted acquisition,
    * in-process then cross-process).
    */
  def withTables[T](spark: SparkSession, tables: Seq[String])(f: => T): T = {
    val names = tables.map(_.split("\\.").last.toLowerCase).distinct.sorted
    val ls = names.map(lockFor)
    ls.foreach(_.lock())
    try {
      // The file lock is taken only at the outermost hold: the JVM throws
      // OverlappingFileLockException on a nested acquire of the same file,
      // and the in-process ReentrantLock already guarantees only one thread
      // per table gets here.
      val fences = names.collect {
        case n if lockFor(n).getHoldCount == 1 => acquireFence(spark, n)
      }
      try f finally fences.reverse.foreach(ch => try ch.close() catch { case _: Exception => })
    } finally ls.reverse.foreach(_.unlock())
  }

  /** Exclusive write window for a non-transactional insert path: take the
    * table's commit lock, then verify no in-flight commit still maps the
    * table in the manifest. Inside the lock that can only mean a FOREIGN
    * publish that will never fold in this process (a half-driven test
    * protocol or an external writer) — failing loudly beats silently racing
    * its fold (r10 review, medium).
    */
  def withExclusiveWrite[T](spark: SparkSession, table: String)(f: => T): T =
    withTables(spark, Seq(table)) {
      val name = table.split("\\.").last
      if (ManifestCatalog.read(spark)._2.contains(name))
        throw new IllegalStateException(
          s"table $name is being committed (manifest maps it to an unfolded " +
            "snapshot); retry after the commit completes")
      ManifestCatalog.unshadow(spark, table)
      f
    }
}
