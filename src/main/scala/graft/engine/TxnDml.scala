package graft.engine

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Staged multi-statement DML transactions over plain Parquet.
  *
  * Mechanics: while a session has an open transaction, each row-level
  * UPDATE/DELETE/MERGE runs the normal copy-on-write computation but its
  * SINK writes the table's FULL post-image to a staging directory and
  * points a session temp view of the same name at it — temp views shadow
  * catalog tables in resolution, so every later statement in the session
  * (reads and further DML alike) sees the transaction's own writes, while
  * other sessions keep reading the committed table. COMMIT drops the
  * shadows and folds each touched table's final snapshot through
  * [[TxnJournal.commit]], the one commit path an autocommitted statement
  * also takes; ROLLBACK just drops the shadows — the table was never
  * touched.
  *
  * Guarantees: session-local read-your-writes isolation, full rollback,
  * CRASH atomicity across tables (the write-ahead journal is written before
  * any table is touched, and bootstrap redoes an interrupted commit from
  * it) and VISIBILITY atomicity across default-db tables (one manifest
  * rename publishes every post-image before any base is overwritten —
  * [[ManifestCatalog]]; a reader that resolved a base before the publish
  * can still list it mid-fold). Non-DML writes (INSERT, DDL, ingest) are rejected
  * inside a transaction rather than silently applied eagerly.
  */
object TxnDml {

  /** Session view name that shadows `table` (a CANONICAL `db.t` key, see
    * [[TableNames.canonical]]) during a transaction. Temp views cannot
    * carry a db-qualified name, so an attached-catalog target (`att.t`)
    * shadows under a mangled name; statements inside the txn are remapped
    * to it ([[remapStaged]] / [[txnResolver]]). Default-db tables shadow
    * under their BARE name — temp-view resolution shadows those natively,
    * so every read path sees them without remapping.
    */
  def shadowName(table: String): String = {
    val mn = TableNames.manifestName(table)
    if (mn.contains(".")) "graft_txn_shadow__" + mn.replace(".", "__")
    else mn
  }

  /** The staging sink for [[graft.sources.RowDml.execute]]: full post-image
    * to a fresh staging dir, shadow view re-pointed, dir recorded on the
    * transaction. Always called with `allowPartitionScope = false`, so the
    * frame is the complete table state.
    */
  def stagedSink(txns: Transactions, txnId: String): graft.sources.RowDml.Sink =
    (spark, name, newRows, _) => {
      // Staged under the CANONICAL name (r15 ADVICE: case- or
      // qualification-aliased spellings of one table must map to ONE staged
      // entry, or the later fold silently drops the earlier update) and
      // under the WAREHOUSE, not tmpdir: the commit journal's redo path
      // must still find these post-images after a process restart.
      val key = TableNames.canonical(spark, name)
      val dir = TxnJournal.stageRoot(spark)
        .resolve(java.util.UUID.randomUUID().toString).toString
      newRows.write.parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView(shadowName(key))
      txns.stage(txnId, key, dir)
    }

  /** In-txn table resolution for [[graft.sources.RowDml]]: a staged table
    * (any spelling — the lookup canonicalizes) reads its shadow view
    * (read-your-writes for chained DML); everything else resolves normally.
    */
  def txnResolver(spark: org.apache.spark.sql.SparkSession, txns: Transactions,
      txnId: String): String => org.apache.spark.sql.DataFrame = { name =>
    val key = TableNames.canonical(spark, name)
    val staged = txns.lookup(txnId).exists(t =>
      t.staged.synchronized { t.staged.containsKey(key) })
    spark.table(if (staged) shadowName(key) else name)
  }

  /** Remap a parsed (unresolved) plan's relations from staged table names
    * to their shadow views, recursing into subquery expressions. `staged`
    * maps CANONICAL names ([[TableNames.canonical]]) to shadow view names;
    * identifiers in the plan are canonicalized against `currentDb` before
    * matching, so every spelling of a staged table (bare after `USE`,
    * case-aliased, `spark_catalog`-prefixed) hits its shadow. Names bound
    * by a CTE in the statement are never remapped — CTE resolution outranks
    * tables, and the definition may legitimately reuse a staged name.
    */
  def remapStaged(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      staged: Map[String, String], currentDb: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val cteNames: Set[String] = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    def go(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      p.transformDown {
        case r: UnresolvedRelation
            if !(r.multipartIdentifier.length == 1 &&
                 cteNames.contains(r.multipartIdentifier.head.toLowerCase)) &&
              staged.contains(
                TableNames.canonicalParts(r.multipartIdentifier, currentDb)) =>
          UnresolvedRelation(Seq(
            staged(TableNames.canonicalParts(r.multipartIdentifier, currentDb))))
      }.transformAllExpressions {
        case s: SubqueryExpression => s.withNewPlan(go(s.plan))
      }
    go(plan)
  }

  /** Commit the transaction: drop the shadows, then fold every touched
    * table's final snapshot through [[TxnJournal.commit]] — the same
    * journal → manifest publish → fold path an autocommitted statement
    * takes — under the tables' [[CommitLock]]s, so a concurrent writer on
    * any touched table waits out the fold instead of racing it. Returns the
    * applied table names (first-touch order).
    */
  def commitApply(spark: SparkSession, txn: Transactions#Txn): Seq[String] = {
    val entries = txn.staged.synchronized { txn.staged.asScala.toSeq }
    if (entries.isEmpty) return Seq.empty
    // Drop the shadows FIRST so the fold resolves the catalog tables, not
    // the temp views (inserting into a view is an error).
    entries.foreach { case (name, _) => spark.catalog.dropTempView(shadowName(name)) }
    CommitLock.withTables(spark, entries.map(_._1)) {
      TxnJournal.commit(spark, txn.id, entries)()
    }
    entries.map(_._1)
  }

  /** Discard the transaction's shadows; the catalog tables were never
    * touched. Staging dirs are NOT deleted here (a still-running scan of
    * the shadow may hold them open) — [[TxnJournal.recover]]'s orphan sweep
    * collects them at next bootstrap, when no scan can be live.
    */
  def rollbackDiscard(spark: SparkSession, txn: Transactions#Txn): Unit = {
    val names = txn.staged.synchronized { txn.staged.asScala.keys.toSeq }
    names.foreach(n => spark.catalog.dropTempView(shadowName(n)))
  }
}
