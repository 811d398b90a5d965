package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestHarness, Tables}

/** The DuckDB-idiom battery (39 statements, first run as a round-8 probe)
  * as a regression gate: every statement a DuckDB user is likely to type must
  * keep executing through the FULL engine statement pipeline — dialect
  * rewrites, macros, guard — as the rewrite stages evolve.
  */
class DialectBatterySpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private lazy val global = new GlobalSettings
  private lazy val sessions = new SessionManager(spark, global)
  private lazy val s = {
    val st = sessions.getOrCreate("dialect-battery", "alice", "admin")
    Tables.ensure(st.spark, SparkTestHarness.sfDir)
    st
  }

  private val statements = Seq(
    "basic" -> "SELECT 1 + 1 AS two",
    "from_first" -> "FROM nation SELECT n_name LIMIT 1",
    "columns_regex" -> "SELECT COLUMNS('n_n.*') FROM nation LIMIT 1",
    "exclude" -> "SELECT * EXCLUDE (n_name) FROM nation LIMIT 1",
    "qualify" -> "SELECT n_name FROM nation QUALIFY row_number() OVER (ORDER BY n_name) = 1",
    "list_literal" -> "SELECT [1, 2, 3] AS xs",
    "struct_literal" -> "SELECT {'a': 1, 'b': 'x'} AS st",
    "string_index" -> "SELECT 'abc'[2] AS c",
    "string_slice" -> "SELECT 'abcdef'[2:4] AS sub",
    "cast_op" -> "SELECT 1::VARCHAR AS s",
    "int_div" -> "SELECT 5 // 2 AS d",
    "pow_op" -> "SELECT 2 ** 3 AS p",
    "generate_series_tf" -> "SELECT * FROM generate_series(1, 3)",
    "range_tf" -> "SELECT * FROM range(3)",
    "unnest_select" -> "SELECT UNNEST([1, 2, 3]) AS x",
    "list_value" -> "SELECT list_value(1, 2) AS xs",
    "len_fn" -> "SELECT len('abc') AS n",
    "trim_both" -> "SELECT TRIM(BOTH 'x' FROM 'xaxx') AS t",
    "values_table" -> "SELECT x FROM (VALUES (1), (2)) t(x)",
    "distinct_on" -> "SELECT DISTINCT ON (n_regionkey) n_name FROM nation ORDER BY n_regionkey, n_name",
    "filter_clause" -> "SELECT COUNT(*) FILTER (WHERE n_regionkey = 0) AS c FROM nation",
    "group_by_all" -> "SELECT n_regionkey, COUNT(*) FROM nation GROUP BY ALL",
    "ilike" -> "SELECT 'ABC' ILIKE 'a%' AS m",
    "similar_to" -> "SELECT 'abc' SIMILAR TO 'a.*' AS m",
    "interval_add" -> "SELECT DATE '2024-01-01' + INTERVAL 3 DAY AS d",
    "strftime" -> "SELECT strftime(TIMESTAMP '2024-01-02 03:04:05', '%Y-%m') AS s",
    "list_comprehension" -> "SELECT [x * 2 FOR x IN [1, 2, 3]] AS xs",
    "lambda_arrow" -> "SELECT list_transform([1,2,3], x -> x + 1) AS xs",
    "is_distinct" -> "SELECT 1 IS DISTINCT FROM NULL AS d",
    "try_cast" -> "SELECT TRY_CAST('x' AS INTEGER) AS n",
    "string_concat_pipe" -> "SELECT 'a' || 'b' AS ab",
    "list_slice_neg" -> "SELECT [1,2,3][-1:] AS last_el",
    "map_literal" -> "SELECT MAP {'k': 1} AS m",
    "date_part" -> "SELECT date_part('year', DATE '2024-05-06') AS y",
    "position_fn" -> "SELECT position('b' IN 'abc') AS p",
    "left_right" -> "SELECT left('abc', 2) AS l, right('abc', 2) AS r",
    "checkpoint" -> "CHECKPOINT",
    "vacuum" -> "VACUUM",
    "maintenance_summarize" -> "SUMMARIZE nation")

  test("every DuckDB-idiom statement executes through the engine pipeline") {
    val failures = statements.flatMap { case (name, sql) =>
      try { Statement.create(sessions, s, global, sql).collect(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("spot values: the rewrites compute DuckDB's answers") {
    def one(sql: String): Any =
      Statement.create(sessions, s, global, sql).collect().head.get(0)
    assert(one("SELECT 5 // 2 AS d") == 2L)
    assert(one("SELECT 2 ** 3 AS p") == 8.0)
    assert(one("SELECT 'abcdef'[2:4] AS s") == "bcd")
    assert(one("SELECT 'abc'[2] AS c") == "b")
    assert(one("SELECT 1::VARCHAR AS s") == "1")
    assert(Statement.create(sessions, s, global,
      "SELECT * FROM generate_series(1, 3)").collect().map(_.get(0)).toSeq == Seq(1, 2, 3))
  }
}
