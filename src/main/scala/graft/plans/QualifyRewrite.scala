package graft.plans

/** DuckDB `QUALIFY` support for Spark, as a statement-level dialect rewrite
  * (Spark's parser has no QUALIFY clause; the reference engine's users rely
  * on it for windowed top-k filters).
  *
  *   SELECT <list> FROM <rest> QUALIFY <pred> [ORDER BY ...] [LIMIT ...]
  * becomes
  *   SELECT * EXCEPT (__qualify_p)
  *   FROM (SELECT <list>, (<pred>) AS __qualify_p FROM <rest>)
  *   WHERE __qualify_p [ORDER BY ...] [LIMIT ...]
  *
  * The predicate is computed INSIDE the select it qualifies — window
  * functions are legal there (they are not in WHERE), and select-list
  * aliases resolve through Spark's lateral column alias resolution — so
  * both the inline-window form (`QUALIFY row_number() OVER (...) <= 3`) and
  * the alias form (`... rn, ... QUALIFY rn <= 3`) work, matching DuckDB's
  * evaluation order (QUALIFY runs after window computation).
  *
  * Scanning is token-aware: keywords match only at parenthesis depth 0 and
  * outside '...' / "..." literals, so subqueries, window OVER(...) clauses,
  * and strings containing the word QUALIFY are untouched. Declared
  * unsupported (clear error, no silent misparse): QUALIFY directly on a
  * top-level set operation (UNION/INTERSECT/EXCEPT branch) and on SELECT
  * DISTINCT (the injected predicate column would change distinctness).
  */
object QualifyRewrite {

  private val Marker = "__qualify_p"

  /** Positions of top-level (depth-0, outside literals) keyword matches. */
  private def topLevel(sql: String, word: String): List[Int] = {
    val out = List.newBuilder[Int]
    var depth = 0
    var i = 0
    val n = sql.length
    val w = word.toUpperCase
    while (i < n) {
      sql.charAt(i) match {
        case '\'' =>
          i += 1
          while (i < n && sql.charAt(i) != '\'') i += 1
        case '"' =>
          i += 1
          while (i < n && sql.charAt(i) != '"') i += 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case c if depth == 0 && Character.toUpperCase(c) == w.charAt(0) =>
          val end = i + w.length
          val before = i == 0 || !Character.isLetterOrDigit(sql.charAt(i - 1)) &&
            sql.charAt(i - 1) != '_'
          if (before && end <= n && sql.substring(i, end).equalsIgnoreCase(w) &&
              (end == n || (!Character.isLetterOrDigit(sql.charAt(end)) &&
                sql.charAt(end) != '_'))) {
            out += i
            i = end - 1
          }
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  def rewrite(sql: String): String = {
    val qs = topLevel(sql, "QUALIFY")
    if (qs.isEmpty) return sql
    val qIdx = qs.head
    // EXCEPT is also Spark's star modifier (`SELECT * EXCEPT (...)`) — only
    // the set-operation form (followed by [ALL|DISTINCT] SELECT or a
    // parenthesized query... which the star form also is; disambiguate on
    // what FOLLOWS the parens-free path: a set-op EXCEPT is followed by
    // SELECT, the star modifier by '(') counts as unsupported.
    val setOp = topLevel(sql, "UNION").nonEmpty || topLevel(sql, "INTERSECT").nonEmpty ||
      topLevel(sql, "EXCEPT").exists { i =>
        val rest = sql.substring(i + "EXCEPT".length).dropWhile(_.isWhitespace)
        val rest2 =
          if (rest.toUpperCase.startsWith("ALL") || rest.toUpperCase.startsWith("DISTINCT"))
            rest.dropWhile(!_.isWhitespace).dropWhile(_.isWhitespace)
          else rest
        rest2.toUpperCase.startsWith("SELECT")
      }
    if (setOp)
      throw new IllegalArgumentException(
        "QUALIFY on a set operation is not supported — qualify inside the branch subquery")
    // Only SELECT DISTINCT (the keyword directly after a top-level SELECT)
    // conflicts with the injected predicate column; `IS [NOT] DISTINCT
    // FROM` elsewhere at depth 0 must not false-trigger.
    val selectDistinct = topLevel(sql, "SELECT").exists { si =>
      val rest = sql.substring(si + "SELECT".length).dropWhile(_.isWhitespace)
      rest.length >= 8 && rest.substring(0, 8).equalsIgnoreCase("DISTINCT") &&
        (rest.length == 8 || !Character.isLetterOrDigit(rest.charAt(8)))
    }
    if (selectDistinct)
      throw new IllegalArgumentException(
        "QUALIFY with SELECT DISTINCT is not supported — wrap the DISTINCT in a subquery")
    val fromIdx = topLevel(sql, "FROM").headOption.getOrElse(
      throw new IllegalArgumentException("QUALIFY requires a FROM clause"))

    val head = sql.substring(0, qIdx)
    val afterQ = sql.substring(qIdx + "QUALIFY".length)
    // the predicate runs to the first top-level ORDER / LIMIT in the
    // remainder (an OVER (ORDER BY ...) sits inside parens, depth > 0)
    val cut = (topLevel(afterQ, "ORDER") ++ topLevel(afterQ, "LIMIT")).sorted.headOption
    val (pred, tail) = afterQ.splitAt(cut.getOrElse(afterQ.length))

    val selectList = head.substring(0, fromIdx)
    val rest = head.substring(fromIdx)
    s"SELECT * EXCEPT ($Marker) FROM ($selectList, (${pred.trim}) AS $Marker $rest) " +
      s"WHERE $Marker ${tail.trim}"
  }
}
