package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The remaining TPC-H query shapes (reference corpus
  * `/root/reference/queries/h01-h22.sql`, executed end-to-end in
  * `tests/integration/test_tpch_benchmark.cpp:43-739`), adapted to the
  * driver fixture schema (FIXTURES.md: no partsupp; no l_shipmode/o_comment/
  * p_container columns — substitutions noted per query).
  *
  * These subquery-heavy shapes run through `spark.sql` — the engine's actual
  * front door — and exercise Catalyst's decorrelation (EXISTS/NOT EXISTS/IN
  * into semi/anti joins, scalar subqueries into aggregates+joins), which is
  * exactly how the reference delegates them to DuckDB's optimizer.
  *
  * Dialect note: the test-data date columns are TIMESTAMP_NTZ, so Spark-side
  * literals use TIMESTAMP_NTZ while the DuckDB oracle uses its naive
  * TIMESTAMP — same instant, engine-native types on both sides.
  */
object TpchSuite {

  /** (name, spark SQL, duckdb oracle SQL) — texts differ only in literal
    * dialect.
    */
  private def q(name: String, sparkSql: String, oracle: String): Op =
    Op(name, oracle) { (s: SparkSession, d: String) =>
      Tables.ensure(s, d)
      s.sql(sparkSql)
    }

  /** Build both dialects from one template: NTZTS(...) expands per engine. */
  private def both(name: String, template: String): Op = {
    val spark = template.replaceAll("NTZTS '", "TIMESTAMP_NTZ '")
    val duck = template.replaceAll("NTZTS '", "TIMESTAMP '")
    q(name, spark, duck)
  }

  val ops: Seq[Op] = Seq(
    both("tpch_h04",
      "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders " +
      "WHERE o_orderdate >= NTZTS '1997-07-01' AND o_orderdate < NTZTS '1997-10-01' " +
      "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey=o_orderkey AND l_shipdate > o_orderdate) " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    // SHUFFLE_MERGE(lineitem): fact joins fact by shuffle — the unhinted
    // plan broadcast the column-pruned LINEITEM scan (600k-row
    // single-threaded driver hash build per execution, a round-7
    // driver-sampling finding; ~150 ms/call at sf0.1) which also cannot
    // scale. Sort-merge keeps both fact sides streaming with no
    // per-partition hash build —
    // the 100 TB-safe strategy regardless of which side is bigger. DuckDB
    // reads the hint as a plain block comment, so one template serves both
    // engines.
    // Money sums below run in exact DECIMAL on both engines — see
    // graft.operators.Money: double summation is order-dependent and the
    // multi-row-group layout (graft.sources.Layout) makes Spark's combine
    // order differ from DuckDB's sequential scan.
    // h05 Spark side restructures with DIMENSION PRE-REDUCTION (r15): the
    // region filter keeps 1 of 5 regions, so folding region+nation into
    // supplier BEFORE the fact join drops ~80% of lineitem probes at the
    // first (broadcast) join; the date-filtered orders projection then
    // SHUFFLE_HASH-builds against the surviving fact (hinted: an unhinted
    // plan broadcast the under-threshold LINEITEM SCAN itself — the
    // unscalable fact-broadcast the OperatorSpec guard exists to catch).
    // duck's optimizer derives this reduction itself, so the oracle keeps
    // the reference's verbatim h05 text. The reduced supplier dim is
    // ≤|suppliers in one region| — broadcast self-scales like a dimension.
    Op("tpch_h05",
      s"SELECT n_name, CAST(ROUND(SUM(${Money.SqlRev}),2) AS DOUBLE) AS revenue " +
      "FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON l_orderkey=o_orderkey " +
      "JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey " +
      "JOIN nation ON s_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey " +
      "WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "GROUP BY n_name ORDER BY revenue DESC, n_name") { (s, d) =>
      Tables.ensure(s, d)
      import org.apache.spark.sql.functions.{broadcast, col, count => _, round, sum}
      val sn = broadcast(s.table("supplier").select("s_suppkey", "s_nationkey")
        .join(s.table("nation").select("n_nationkey", "n_name", "n_regionkey"),
          col("s_nationkey") === col("n_nationkey"))
        .join(s.table("region").filter(col("r_name") === "ASIA").select("r_regionkey"),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name"))
      val o = s.table("orders")
        .filter(col("o_orderdate") >= Relational.ts("1996-01-01T00:00") &&
          col("o_orderdate") < Relational.ts("1997-01-01T00:00"))
        .select("o_orderkey", "o_custkey")
      // Size-GATED broadcasts (r16): at local SF the date-filtered orders
      // projection and the 2-column customer projection are dimension-sized
      // and broadcasting them removes BOTH fact exchanges plus the SHJ
      // stage (the r15 profile put ~0.24 s of h05's 0.7 s in stage gaps);
      // at 100 TB the estimates blow past the gate and the same code keeps
      // the shuffle_hash shape — never a planner-guessed fact broadcast.
      s.table("lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(sn, col("l_suppkey") === col("s_suppkey"))
        .join(SizeGate.broadcastIfSmall(o), col("l_orderkey") === col("o_orderkey"))
        .join(SizeGate.broadcastIfSmall(s.table("customer").select("c_custkey", "c_nationkey")),
          col("c_custkey") === col("o_custkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(Money.revDec), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    both("tpch_h08",
      "SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year, " +
      s"ROUND(CAST(SUM(CASE WHEN n2.n_name='NATION_3' THEN ${Money.SqlRev} ELSE CAST(0.0000 AS DECIMAL(6,4)) END) AS DOUBLE)" +
      s"/CAST(SUM(${Money.SqlRev}) AS DOUBLE),4) AS mkt_share " +
      "FROM part JOIN lineitem ON p_partkey=l_partkey JOIN orders ON l_orderkey=o_orderkey " +
      "JOIN customer ON o_custkey=c_custkey JOIN nation n1 ON c_nationkey=n1.n_nationkey " +
      "JOIN region ON n1.n_regionkey=r_regionkey JOIN supplier ON l_suppkey=s_suppkey " +
      "JOIN nation n2 ON s_nationkey=n2.n_nationkey " +
      "WHERE r_name='ASIA' AND p_type='ECONOMY' GROUP BY 1 ORDER BY 1"),

    // SHUFFLE_HASH(orders): the unhinted plan broadcast BOTH full facts
    // (lineitem and orders) as driver-side hash builds. Hinting orders —
    // the smaller fact at every scale — makes lineitem*orders a shuffled
    // hash join building the smaller side per partition in parallel, the
    // textbook SHJ choice. Probed −107 ms/call at sf0.1 (round 7,
    // static-path A/B; ARCHITECTURE.md at 7f0c93f); dims (part, supplier,
    // nation) stay broadcast.
    both("tpch_h09",
      "SELECT /*+ SHUFFLE_HASH(orders) */ n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year, " +
      s"CAST(ROUND(SUM(${Money.SqlRev}),2) AS DOUBLE) AS profit " +
      "FROM part JOIN lineitem ON p_partkey=l_partkey JOIN supplier ON l_suppkey=s_suppkey " +
      "JOIN orders ON o_orderkey=l_orderkey JOIN nation ON s_nationkey=n_nationkey " +
      "WHERE p_name LIKE '%red%' GROUP BY 1,2 ORDER BY 1,2 DESC"),

    both("tpch_h10",
      s"SELECT c_custkey, c_name, CAST(ROUND(SUM(${Money.SqlRev}),2) AS DOUBLE) AS revenue, n_name " +
      "FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON l_orderkey=o_orderkey " +
      "JOIN nation ON c_nationkey=n_nationkey " +
      "WHERE o_orderdate >= NTZTS '1996-10-01' AND o_orderdate < NTZTS '1997-01-01' AND l_returnflag='R' " +
      "GROUP BY c_custkey, c_name, n_name ORDER BY revenue DESC, c_custkey LIMIT 20"),

    // h12 with l_linestatus standing in for the absent l_shipmode column.
    both("tpch_h12",
      "SELECT l_linestatus, CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
      "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
      "FROM orders JOIN lineitem ON o_orderkey=l_orderkey " +
      "WHERE l_shipdate >= NTZTS '1997-01-01' AND l_shipdate < NTZTS '1998-01-01' " +
      "GROUP BY l_linestatus ORDER BY l_linestatus"),

    both("tpch_h14",
      s"SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type='PROMO' THEN ${Money.SqlRev} ELSE CAST(0.0000 AS DECIMAL(6,4)) END) AS DOUBLE)" +
      s"/CAST(SUM(${Money.SqlRev}) AS DOUBLE),4) AS promo_revenue " +
      "FROM lineitem JOIN part ON l_partkey=p_partkey " +
      "WHERE l_shipdate >= NTZTS '1997-09-01' AND l_shipdate < NTZTS '1997-10-01'"),

    // h16 with lineitem standing in for the absent partsupp table.
    both("tpch_h16",
      "SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt " +
      "FROM lineitem JOIN part ON p_partkey=l_partkey " +
      "WHERE p_brand <> 'Brand#1' AND p_size IN (1,5,9,13) " +
      "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
      "GROUP BY p_brand, p_type, p_size ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 50"),

    // h18: the oracle keeps the verbatim IN-subquery shape; the Spark
    // implementation aggregates lineitem ONCE — the outer GROUP BY's
    // SUM(l_quantity) per order is the same aggregate the IN-subquery
    // computes, so the naive decorrelation (two lineitem scans + a semi join)
    // collapses to one scan, one aggregation, and two broadcast-joined
    // dimension lookups.
    Op("tpch_h18",
      "SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate, ROUND(o_totalprice,2) AS price, " +
      "ROUND(SUM(l_quantity),2) AS total_qty " +
      "FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON o_orderkey=l_orderkey " +
      "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) " +
      "GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice ORDER BY price DESC, o_orderkey LIMIT 20") { (s, d) =>
      Tables.ensure(s, d)
      val qty = s.table("lineitem").groupBy("l_orderkey")
        .agg(sum("l_quantity").as("q")).filter(col("q") > 150)
      // shuffle_hash on the HAVING-filtered aggregate: the planner
      // otherwise broadcasts full ORDERS (driver hash build of 150k rows
      // per execution — the fact-broadcast pathology) because the tiny
      // filtered side's post-agg cardinality is invisible to static
      // estimates. SHJ builds the small side per partition in parallel;
      // orders streams. Probed -59 ms at sf0.1 (round 7; ARCHITECTURE.md
      // at 7f0c93f).
      qty.hint("shuffle_hash")
        .join(s.table("orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
          col("l_orderkey") === col("o_orderkey"))
        .join(s.table("customer").select("c_custkey"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          round(col("o_totalprice"), 2).as("price"),
          round(col("q"), 2).as("total_qty"))
        .orderBy(col("price").desc, col("o_orderkey")).limit(20)
    },

    both("tpch_h19",
      s"SELECT CAST(ROUND(SUM(${Money.SqlRev}),2) AS DOUBLE) AS revenue FROM lineitem JOIN part ON p_partkey=l_partkey " +
      "WHERE (p_brand='Brand#1' AND l_quantity BETWEEN 1 AND 11) " +
      "OR (p_brand='Brand#2' AND l_quantity BETWEEN 10 AND 20) " +
      "OR (p_type='PROMO' AND l_quantity >= 20)"),

    both("tpch_h20",
      "SELECT s_name, ROUND(s_acctbal,2) AS bal FROM supplier WHERE s_suppkey IN " +
      "(SELECT l_suppkey FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%') " +
      "GROUP BY l_suppkey HAVING SUM(l_quantity) > 300) ORDER BY s_name"),

    // h21: the oracle keeps the reference's verbatim EXISTS/NOT EXISTS shape;
    // the Spark implementation is a single-pass rewrite (below) — the naive
    // decorrelation scans lineitem three times (l1 + semi l2 + anti l3, two
    // extra shuffles on l_orderkey), while every per-row predicate here is an
    // order-level fact computable from ONE pass over the order's lines:
    //   exists-other-supplier      <=> min(suppkey) <> max(suppkey) per order
    //   no-other-supplier-later    <=> l_shipdate >= max(shipdate over rows of
    //                                  OTHER suppliers)
    // The "other-supplier max" per row resolves by case: if >=2 distinct
    // suppliers attain the order max shipdate, it IS the order max for every
    // row; if exactly one supplier attains it, that supplier's other-max is
    // the max over the remaining suppliers' rows and everyone else's is the
    // order max (which exceeds their own dates). All of it is min/max window
    // aggregates over ONE hash-clustering on l_orderkey — the orders join
    // already hash-partitions by the same key, so the whole query is one
    // lineitem scan, one shuffle, and a broadcast supplier lookup.
    Op("tpch_h21",
      "SELECT s_name, COUNT(*) AS numwait FROM supplier JOIN lineitem l1 ON s_suppkey=l1.l_suppkey " +
      "JOIN orders ON o_orderkey=l1.l_orderkey WHERE o_orderstatus='F' " +
      "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey=l1.l_orderkey AND l2.l_suppkey<>l1.l_suppkey) " +
      "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey=l1.l_orderkey AND l3.l_suppkey<>l1.l_suppkey " +
      "AND l3.l_shipdate > l1.l_shipdate) GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20") { (s, d) =>
      Tables.ensure(s, d)
      val lines = s.table("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(s.table("orders").filter(col("o_orderstatus") === "F").select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .drop("o_orderkey")
      val w = Window.partitionBy("l_orderkey")
      // Three chained Window nodes share one partitioning: a single exchange.
      val topSupp = when(col("l_shipdate") === col("m1"), col("l_suppkey"))
      val staged = lines
        .withColumn("m1", max("l_shipdate").over(w))
        .withColumn("min_supp", min("l_suppkey").over(w))
        .withColumn("max_supp", max("l_suppkey").over(w))
        .select(col("*"), min(topSupp).over(w).as("min_top"), max(topSupp).over(w).as("max_top"))
      val withSecond = staged
        .withColumn("other_max", max(when(col("l_suppkey") =!= col("max_top"), col("l_shipdate"))).over(w))
      val qualifying = withSecond.filter(
        col("min_supp") =!= col("max_supp") && (
          (col("min_top") =!= col("max_top") && col("l_shipdate") === col("m1")) ||
          (col("min_top") === col("max_top") && col("l_suppkey") === col("max_top") &&
            col("l_shipdate") >= col("other_max"))))
      qualifying
        .join(broadcast(s.table("supplier").select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    },

    both("tpch_h22",
      "SELECT cntrycode, COUNT(*) AS numcust, CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))),2) AS DOUBLE) AS totacctbal FROM " +
      "(SELECT SUBSTRING(c_name,10,2) AS cntrycode, c_acctbal FROM customer " +
      "WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0) " +
      "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_orderdate >= NTZTS '2000-01-01')) t " +
      "GROUP BY cntrycode ORDER BY cntrycode"),

    // h02 shape without partsupp (absent from fixtures): per-nation best
    // supplier via a correlated scalar subquery over the joined dims, with
    // h02's mixed-direction final sort.
    both("tpch_h02",
      "SELECT ROUND(s_acctbal,2) AS s_acctbal, s_name, n_name, r_name " +
      "FROM supplier JOIN nation ON s_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey " +
      "WHERE r_name IN ('ASIA','EUROPE') " +
      "AND s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2 WHERE s2.s_nationkey = n_nationkey) " +
      "ORDER BY s_acctbal DESC, n_name, s_name LIMIT 10"),

    // h07 volume shipping, full shape (all columns exist in the fixtures).
    both("tpch_h07",
      "SELECT supp_nation, cust_nation, l_year, CAST(ROUND(SUM(volume),2) AS DOUBLE) AS revenue FROM (" +
      "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
      s"CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year, ${Money.SqlRev} AS volume " +
      "FROM supplier JOIN lineitem ON s_suppkey=l_suppkey JOIN orders ON o_orderkey=l_orderkey " +
      "JOIN customer ON c_custkey=o_custkey JOIN nation n1 ON s_nationkey=n1.n_nationkey " +
      "JOIN nation n2 ON c_nationkey=n2.n_nationkey " +
      "WHERE ((n1.n_name='NATION_1' AND n2.n_name='NATION_2') OR (n1.n_name='NATION_2' AND n2.n_name='NATION_1')) " +
      "AND l_shipdate BETWEEN NTZTS '1995-01-01' AND NTZTS '1996-12-31') shipping " +
      "GROUP BY supp_nation, cust_nation, l_year ORDER BY supp_nation, cust_nation, l_year"),

    // h11 shape without partsupp: suppliers whose lineitem value exceeds 1.1x
    // the average supplier value (scalar subquery inside HAVING).
    both("tpch_h11",
      "SELECT l_suppkey, CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(4,0))),2) AS DOUBLE) AS value FROM lineitem " +
      "GROUP BY l_suppkey HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) > " +
      "(SELECT 1.1*CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE)/COUNT(DISTINCT l_suppkey) FROM lineitem) " +
      "ORDER BY value DESC, l_suppkey")
  )
}
