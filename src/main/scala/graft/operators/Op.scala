package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract: a Spark
  * implementation plus (when SQL-expressible) the equivalent DuckDB oracle
  * SQL. Column aliases must match exactly between the two — the driver's
  * comparator sorts columns by name before hashing.
  */
final case class Op(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** False for operators whose `run` has eager side effects (DDL/DML,
      * file writes): the prepared-plan cache must rebuild them every call.
      */
    cacheable: Boolean = true)

object Op {
  /** Operator with a DuckDB-checkable oracle. */
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Op =
    Op(name, run, Some(oracle))

  /** Operator with a side-effecting `run` (writes data or catalog state
    * before returning its result) — excluded from the prepared-plan cache.
    */
  def effectful(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Op =
    Op(name, run, Some(oracle), cacheable = false)

  /** Operator whose `run` computes eagerly at build time (iterative
    * algorithms like Pregel, which drive jobs to convergence before the
    * result DataFrame exists). Also excluded from the prepared-plan cache:
    * a cached instance would hand back the materialized result instead of
    * recomputing, silently turning a query into a snapshot.
    */
  def eager(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Op =
    Op(name, run, Some(oracle), cacheable = false)
}

/** Exact-decimal helpers for money-aggregation oracles.
  *
  * Double summation is order-dependent; with parallel multi-row-group scans
  * (graft.sources.Layout) Spark's partial-sum combine order no longer
  * matches DuckDB's sequential scan, so `ROUND(SUM(double),2)` near a .005
  * boundary flips a cent and fails the driver's byte-exact hash. Summing in
  * DECIMAL is associative — deterministic under ANY partitioning, which is
  * also what a 1000-executor run needs — and the casts are lossless because
  * the fixture money columns carry exactly 2 decimals (TPC-H types them
  * DECIMAL in the first place). Widths are kept tight so DuckDB 1.0's
  * width-additive multiplication never exceeds DECIMAL(38).
  */
object Money {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** Money column (|v| < 10^10, 2 decimals — lossless). */
  def dec2(name: String): Column = col(name).cast("decimal(12,2)")

  /** Rate column (discount/tax: |v| < 10, 2 decimals — lossless). */
  def rate2(name: String): Column = col(name).cast("decimal(3,2)")

  val oneDec: Column = lit(1).cast("decimal(3,2)")

  /** `l_extendedprice * (1 - l_discount)` in exact decimal (scale 4). */
  def revDec: Column = dec2("l_extendedprice") * (oneDec - rate2("l_discount"))

  /** The SQL spelling of [[revDec]], shared by oracle texts. */
  val SqlRev: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
}
