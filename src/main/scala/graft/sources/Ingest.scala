package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bulk ingest, re-implementing `DoPutCommandStatementIngest` semantics
  * (`/root/reference/src/duckdb/duckdb_server.cpp:1804-1985`):
  *
  *  - if the table EXISTS: FAIL / APPEND (by-name column resolution, the
  *    reference's interim-table + `INSERT ... BY NAME` dance `:1878-1887`) /
  *    REPLACE (drop + create `:1893-1899`) / UNSPECIFIED (append as-is);
  *  - if it does NOT exist: CREATE or FAIL (`:1904-1910`);
  *  - row-count verification after append (`:1955-1974`);
  *  - temporary-table ingest maps to a session temp view (`temp.main`
  *    scoping, `duckdb_server.cpp:309-314`).
  *
  * The reference appends row-at-a-time through `duckdb::Appender`; here the
  * write is a distributed `saveAsTable`, which is the scale-correct path.
  */
object Ingest {

  sealed trait IfExists
  object IfExists {
    case object Fail extends IfExists
    case object Append extends IfExists
    case object Replace extends IfExists
    case object Unspecified extends IfExists
  }

  final case class IngestResult(table: String, rowsIngested: Long, created: Boolean)

  def tableExists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  /** By-name column alignment: reorder/select the incoming columns to the
    * target schema; missing nullable columns become nulls, extra columns are
    * an error (mirrors INSERT ... BY NAME strictness on unknown columns).
    */
  private def alignByName(data: DataFrame, target: DataFrame): DataFrame = {
    val targetCols = target.schema.fields
    val incoming = data.columns.toSet
    val unknown = incoming -- targetCols.map(_.name).toSet
    require(unknown.isEmpty, s"ingest stream has columns not in target: ${unknown.mkString(", ")}")
    val cols = targetCols.map { f =>
      if (incoming.contains(f.name)) col(f.name).cast(f.dataType)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }
    data.select(cols.toIndexedSeq: _*)
  }

  // Moves the plan-cache epoch once the write has returned, or thrown
  // part-way, so every session's next statement reads the new rows.
  def ingest(
      spark: SparkSession,
      data: DataFrame,
      table: String,
      ifExists: IfExists = IfExists.Unspecified,
      createIfMissing: Boolean = true,
      temporary: Boolean = false): IngestResult = try {
    val expected = data.count()

    if (temporary) {
      // Session-scoped, like the reference's temp.main tables.
      data.createOrReplaceTempView(table)
      return IngestResult(table, expected, created = true)
    }

    // The write and its count check hold the table's commit lock, like
    // every other writer: an append can neither land inside a concurrent
    // DML commit's publish-to-fold window (the fold would overwrite it) nor
    // count rows another writer added.
    graft.engine.CommitLock.withExclusiveWrite(spark, table) {
      if (!tableExists(spark, table)) {
        if (!createIfMissing)
          throw new IllegalStateException(s"table $table does not exist and if_not_exist=FAIL")
        data.write.mode(SaveMode.ErrorIfExists).saveAsTable(table)
        verifyCount(spark, table, expected)
        IngestResult(table, expected, created = true)
      } else ifExists match {
        case IfExists.Fail =>
          throw new IllegalStateException(s"table $table already exists and if_exists=FAIL")
        case IfExists.Replace =>
          spark.sql(s"DROP TABLE $table")
          data.write.mode(SaveMode.ErrorIfExists).saveAsTable(table)
          verifyCount(spark, table, expected)
          IngestResult(table, expected, created = true)
        case IfExists.Append | IfExists.Unspecified =>
          val before = spark.table(table).count()
          val aligned =
            if (ifExists == IfExists.Append) alignByName(data, spark.table(table)) else data
          aligned.write.mode(SaveMode.Append).saveAsTable(table)
          verifyCount(spark, table, before + expected)
          IngestResult(table, expected, created = false)
      }
    }
  } finally graft.engine.PlanCache.bump()

  /** Post-append row-count verification (`duckdb_server.cpp:1955-1974`). */
  private def verifyCount(spark: SparkSession, table: String, expected: Long): Unit = {
    val actual = spark.table(table).count()
    if (actual != expected)
      throw new IllegalStateException(
        s"ingest verification failed for $table: expected $expected rows, found $actual")
  }
}
