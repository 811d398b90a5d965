package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StructField, StructType}

/** DuckDB `ASOF JOIN` support for Spark, as a session-aware dialect rewrite
  * (the reference engine's SQL backend executes ASOF JOIN natively
  * [duckdb docs; exercised by gizmosql users for event alignment]; Spark's
  * parser has no ASOF keyword).
  *
  *   SELECT ... FROM l [AS] a ASOF [LEFT] JOIN r [AS] b
  *     ON a.k = b.k AND a.ts >= b.ts [rest]
  *
  * desugars into PURE SQL implementing the canonical distributed as-of
  * algorithm — union both sides, ONE window pass over (key, time) — the same
  * single-shuffle, no-pair-explosion shape as
  * [[graft.operators.TemporalJoins.asofBackward]], never the quadratic
  * join-then-filter fallback. The rewrite needs only the two relations'
  * SCHEMAS (for positional union alignment and the carried-match struct
  * type); it evaluates nothing and registers nothing, so the emitted text
  * flows through the statement guard and plan cache like any other query.
  *
  * Semantics matched to DuckDB:
  *  - exactly one inequality in ON picks direction and strictness
  *    (`l.ts >= r.ts` backward inclusive, `>` strict; `<=`/`<` forward);
  *  - equality conjuncts are the match keys (zero keys = one global
  *    ordering, which is inherently single-partition — allowed, as in
  *    DuckDB, but the keyed form is the scale path);
  *  - plain ASOF JOIN drops unmatched left rows, ASOF LEFT JOIN keeps them
  *    with NULL right columns;
  *  - NULL keys and NULL timestamps never match (on either side);
  *  - output = all left columns then all right columns; a right column
  *    whose name collides with a left column surfaces as `<ralias>_<name>`
  *    (DuckDB emits duplicate names, which a flat relation cannot).
  *
  * Among equal-timestamp right candidates the match is the struct-order max
  * (backward) / min (forward) of the full right row — deterministic where
  * DuckDB's pick is unspecified, identical wherever (key, ts) is unique.
  *
  * ASOF joins inside parenthesized subqueries rewrite recursively, so
  * multiple ASOF joins compose by nesting. Declared unsupported (clear
  * error, no silent misparse): more than one ASOF join in a single FROM
  * clause (wrap all but one in a subquery), USING syntax, CTE names as
  * ASOF operands (inline the subquery — the rewrite resolves schemas and a
  * CTE name is not resolvable outside its statement), unqualified columns
  * in ON.
  */
object AsofJoinRewrite {
  import SqlScan._

  /** Top-level ASOF positions that are actually JOIN keywords: followed by
    * [LEFT] JOIN. A bare identifier spelled `asof` (SELECT t.asof FROM t) is
    * a column/alias reference, not a join, and must not trigger the rewrite.
    */
  private val JoinKwRe =
    """(?is)^\s*(?:(?:LEFT|RIGHT|FULL|INNER|OUTER)\s+){0,2}JOIN\b.*""".r
  private def joinSites(sql: String): List[Int] =
    topLevel(sql, "ASOF").filter { i =>
      // any join-qualifier sequence counts as a site so that unsupported
      // variants (ASOF RIGHT JOIN) still reach the loud error downstream
      JoinKwRe.matches(sql.substring(i + 4))
    }

  private val relPat =
    """(?s)^\s*((?:[\w.]+)|`[^`]+`)(?:\s+(?:(?i:AS)\s+)?(\w+))?\s*$""".r
  private val aliasPat = """(?s)^(?:\s+(?:(?i:AS)\s+)?(\w+))?\s*$""".r
  private val condPat =
    """(?s)^\s*(\w+)\.(\w+)\s*(>=|<=|=|>|<)\s*(\w+)\.(\w+)\s*$""".r

  /** One side of the join: its SQL text (re-emitted verbatim into the
    * rewritten statement), alias for qualifier mapping, and analyzed schema.
    */
  private final case class Rel(sqlText: String, alias: String, schema: StructType)

  private def parseRel(spark: SparkSession, text: String,
      preAnalyze: String => Unit): Rel = {
    val t = text.trim
    if (t.startsWith("(")) {
      val close = matchingParen(t, 0)
      val inner = t.substring(1, close)
      val alias = t.substring(close + 1) match {
        case aliasPat(a) => Option(a).getOrElse("__asof")
        case other => throw new IllegalArgumentException(
          s"cannot parse ASOF JOIN relation alias: '$other'")
      }
      preAnalyze(inner)
      Rel(s"($inner)", alias, spark.sql(inner).schema)
    } else t match {
      case relPat(name, alias) =>
        val bare = name.stripPrefix("`").stripSuffix("`")
        Rel(name, Option(alias).getOrElse(bare.split('.').last),
          spark.table(bare).schema)
      case other => throw new IllegalArgumentException(
        s"cannot parse ASOF JOIN relation: '$other' — each ASOF side must " +
        "be a table name or a parenthesized subquery (wrap joins or CTE " +
        "references in a subquery)")
    }
  }

  /** Rewrite qualified references `<alias>.<col>` / `<alias>.*` throughout
    * `text` (any depth, outside literals) via `mapCol`; other text is
    * untouched.
    */
  private def mapQualified(text: String, alias: String,
      mapCol: String => Option[String], star: => String): String = {
    val sb = new StringBuilder
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      c match {
        case '\'' | '"' | '`' =>
          val end = SqlText.quotedEnd(text, i)
          sb.append(text.substring(i, end)); i = end
        case ch if Character.isLetter(ch) || ch == '_' =>
          var j = i
          while (j < n && (Character.isLetterOrDigit(text.charAt(j)) || text.charAt(j) == '_')) j += 1
          val word = text.substring(i, j)
          // a qualifier only when not itself preceded by '.', and followed by '.'
          val prevDot = i > 0 && text.charAt(i - 1) == '.'
          if (!prevDot && word.equalsIgnoreCase(alias) && j < n && text.charAt(j) == '.') {
            val k = j + 1
            if (k < n && text.charAt(k) == '*') {
              sb.append(star); i = k + 1
            } else {
              var m = k
              while (m < n && (Character.isLetterOrDigit(text.charAt(m)) || text.charAt(m) == '_')) m += 1
              val colName = text.substring(k, m)
              mapCol(colName) match {
                case Some(mapped) => sb.append(mapped); i = m
                case None => sb.append(word); i = j
              }
            }
          } else { sb.append(word); i = j }
        case _ => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  def rewrite(sql: String, spark: SparkSession,
      preAnalyze: String => Unit = _ => ()): String = {
    if (!sql.toUpperCase.contains("ASOF")) return sql // cheap bail for the common case
    // Desugar parenthesized subqueries FIRST: nesting is the documented form
    // for multiple ASOF joins in one statement, so inner occurrences must
    // rewrite before the top level is examined.
    val spliced = rewriteParens(sql, spark, preAnalyze)
    val asofs = joinSites(spliced)
    if (asofs.isEmpty) return spliced
    if (asofs.length > 1) throw new IllegalArgumentException(
      "multiple ASOF joins in one FROM clause are not supported — wrap all " +
      "but one in a parenthesized subquery")
    rewriteOne(spliced, asofs.head, spark, preAnalyze)
  }

  /** Recursively rewrite ASOF joins inside parenthesized segments (outside
    * string/identifier literals); other text passes through verbatim.
    */
  private def rewriteParens(sql: String, spark: SparkSession,
      preAnalyze: String => Unit): String = {
    if (!sql.toUpperCase.contains("ASOF")) return sql
    val sb = new StringBuilder
    var i = 0
    val n = sql.length
    while (i < n) {
      sql.charAt(i) match {
        case c @ ('\'' | '"' | '`') =>
          val end = SqlText.quotedEnd(sql, i)
          sb.append(sql.substring(i, end)); i = end
        case '(' =>
          val close =
            try matchingParen(sql, i)
            catch { case _: Exception => -1 }
          if (close < 0) { sb.append(sql.charAt(i)); i += 1 }
          else {
            val inner = sql.substring(i + 1, close)
            sb.append('(').append(rewrite(inner, spark, preAnalyze)).append(')')
            i = close + 1
          }
        case c =>
          sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private def rewriteOne(sql: String, aIdx: Int, spark: SparkSession,
      preAnalyze: String => Unit): String = {
    val fromIdx = topLevel(sql, "FROM").filter(_ < aIdx).lastOption.getOrElse(
      throw new IllegalArgumentException("ASOF JOIN requires a FROM clause"))

    // ASOF [LEFT] JOIN
    val afterAsof = sql.substring(aIdx + "ASOF".length)
    val lead = afterAsof.dropWhile(_.isWhitespace)
    val (leftJoin, afterKw) =
      if (lead.length >= 4 && lead.substring(0, 4).equalsIgnoreCase("LEFT"))
        (true, lead.substring(4).dropWhile(_.isWhitespace))
      else (false, lead)
    if (!(afterKw.length >= 4 && afterKw.substring(0, 4).equalsIgnoreCase("JOIN")))
      throw new IllegalArgumentException(
        "only ASOF JOIN and ASOF LEFT JOIN are supported")
    val rightStart = sql.length - afterKw.length + 4

    val onIdx = topLevel(sql, "ON").find(_ > rightStart).getOrElse(
      throw new IllegalArgumentException(
        "ASOF JOIN requires an ON clause (USING is not supported)"))
    val condStart = onIdx + 2
    val stopKw = Seq("WHERE", "GROUP", "HAVING", "QUALIFY", "ORDER", "LIMIT",
      "WINDOW", "UNION", "INTERSECT", "EXCEPT")
    val condEnd = stopKw.flatMap(k => topLevel(sql, k)).filter(_ > condStart)
      .sorted.headOption.getOrElse(sql.length)

    val left = parseRel(spark, sql.substring(fromIdx + 4, aIdx), preAnalyze)
    val right = parseRel(spark, sql.substring(rightStart, onIdx), preAnalyze)
    // identical aliases would make every ON conjunct classify as
    // left-vs-left silently — reject up front
    if (left.alias.equalsIgnoreCase(right.alias))
      throw new IllegalArgumentException(
        s"ASOF JOIN sides must have distinct aliases (both are '${left.alias}')")

    // ON conjuncts -> key pairs + ONE inequality
    var keys = Vector.empty[(String, String)] // (leftCol, rightCol)
    var ineq: Option[(String, String, String)] = None // (leftTs, op, rightTs)
    splitTopLevel(sql.substring(condStart, condEnd), "AND").foreach { c =>
      c match {
        case condPat(q1, c1, op, q2, c2) =>
          val la = left.alias; val ra = right.alias
          val (lc, rc, normOp) =
            if (q1.equalsIgnoreCase(la) && q2.equalsIgnoreCase(ra)) (c1, c2, op)
            else if (q1.equalsIgnoreCase(ra) && q2.equalsIgnoreCase(la))
              (c2, c1, op match {
                case ">=" => "<="; case "<=" => ">="; case ">" => "<"
                case "<" => ">"; case e => e })
            else throw new IllegalArgumentException(
              s"ASOF ON conjunct '$c' must compare the two join sides " +
              s"('$la' and '$ra')")
          if (normOp == "=") keys :+= ((lc, rc))
          else if (ineq.isDefined) throw new IllegalArgumentException(
            "ASOF JOIN requires exactly one inequality in ON; found several")
          else ineq = Some((lc, normOp, rc))
        case other => throw new IllegalArgumentException(
          s"cannot parse ASOF ON conjunct '$other' — use qualified " +
          "'<alias>.<col> <op> <alias>.<col>' comparisons")
      }
    }
    val (lts, op, rts) = ineq.getOrElse(throw new IllegalArgumentException(
      "ASOF JOIN requires one inequality in ON (the ordering condition)"))
    val backward = op == ">=" || op == ">"
    val strict = op == ">" || op == "<"

    def colOf(s: StructType, name: String, side: String): StructField =
      s.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"column '$name' not found in the $side side of ASOF JOIN"))
    keys.foreach { case (lk, rk) => colOf(left.schema, lk, "left"); colOf(right.schema, rk, "right") }
    colOf(left.schema, lts, "left"); colOf(right.schema, rts, "right")

    val lCols = left.schema.fields
    val rCols = right.schema.fields
    val lNames = lCols.map(_.name)
    // the desugar introduces these working columns in the union; an operand
    // already carrying one would make the window reference ambiguous — fail
    // with a clear message instead of an AnalysisException
    val reserved = Set("__side", "__tie", "__r", "__m")
    (lNames ++ rCols.map(_.name)).find(n => reserved.contains(n.toLowerCase)).foreach { n =>
      throw new IllegalArgumentException(
        s"ASOF JOIN operands may not contain the reserved column name '$n'")
    }
    // carried-match struct: every right column under a positional name
    val structTy = StructType(rCols.zipWithIndex.map { case (f, i) =>
      StructField(s"_$i", f.dataType) })
    // output names for the right side (collision -> <ralias>_<name>)
    val outNames = rCols.map { f =>
      if (lNames.exists(_.equalsIgnoreCase(f.name))) s"${right.alias}_${f.name}" else f.name }
    val allOut = lNames ++ outNames
    if (allOut.map(_.toLowerCase).distinct.length != allOut.length)
      throw new IllegalArgumentException(
        s"ASOF JOIN output column names collide after prefixing: ${allOut.mkString(", ")}")

    val lkSet = keys.map(_._1.toLowerCase).toSet
    val rkFor = keys.map { case (lk, rk) => lk.toLowerCase -> rk }.toMap
    // right union branch, positionally aligned with the left branch
    val rightPos = lCols.map { f =>
      val nm = f.name.toLowerCase
      if (lkSet.contains(nm)) q(rkFor(nm))
      else if (f.name.equalsIgnoreCase(lts)) q(rts)
      else s"CAST(NULL AS ${f.dataType.sql})"
    }
    val matchable = (keys.map { case (_, rk) => s"${q(rk)} IS NOT NULL" } :+
      s"${q(rts)} IS NOT NULL").mkString(" AND ")
    val structExpr = rCols.zipWithIndex
      .map { case (f, i) => s"'_$i', ${q(f.name)}" }.mkString("named_struct(", ", ", ")")

    // tie rank at equal timestamps: decides whether an equal-ts right row is
    // inside the left row's frame (inclusive bound) or outside it (strict)
    val (ltie, rtie) =
      if (backward) (1, if (strict) 2 else 0)
      else (if (strict) 1 else 0, if (strict) 0 else 1)
    val partBy = if (keys.isEmpty) "" else
      s"PARTITION BY ${keys.map(k => q(k._1)).mkString(", ")} "
    val (winFn, frame, structOrd) =
      if (backward)
        ("last_value(__r, true)", "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW", "__r ASC")
      else
        ("first_value(__r, true)", "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING", "__r ASC NULLS LAST")

    val leftBranch = s"SELECT ${lNames.map(q).mkString(", ")}, 1 AS __side, " +
      s"$ltie AS __tie, CAST(NULL AS ${structTy.sql}) AS __r FROM ${left.sqlText} __asof_l"
    val rightBranch = s"SELECT ${rightPos.mkString(", ")}, 0, $rtie, " +
      s"CASE WHEN $matchable THEN $structExpr END FROM ${right.sqlText} __asof_r"
    val window = s"$winFn OVER ($partBy" +
      s"ORDER BY ${q(lts)} ASC, __tie ASC, $structOrd $frame) AS __m"
    // NULL-ts left rows report no match (a forward frame would otherwise
    // span the whole partition); inner ASOF additionally drops them
    val matchedCols = outNames.zipWithIndex.map { case (o, i) =>
      s"CASE WHEN ${q(lts)} IS NOT NULL THEN __m.${q(s"_$i")} END AS ${q(o)}" }
    val innerFilter = if (leftJoin) "" else s" AND __m IS NOT NULL AND ${q(lts)} IS NOT NULL"
    val derived =
      s"(SELECT ${lNames.map(q).mkString(", ")}, ${matchedCols.mkString(", ")} " +
      s"FROM (SELECT *, $window FROM ($leftBranch UNION ALL $rightBranch) __asof_u) __asof_w " +
      s"WHERE __side = 1$innerFilter) ${q(left.alias)}"

    // reassemble: head (select list) + rewritten FROM + tail, with right-side
    // qualified references mapped onto the flattened output names
    val rOut = rCols.map(_.name.toLowerCase).zip(outNames).toMap
    def fixRefs(text: String): String = {
      val t1 = mapQualified(text, right.alias,
        c => rOut.get(c.toLowerCase).map(q), outNames.map(q).mkString(", "))
      mapQualified(t1, left.alias,
        c => Some(s"${q(left.alias)}.${q(c)}"), lNames.map(q).mkString(", "))
    }
    fixRefs(sql.substring(0, fromIdx)) + "FROM " + derived + " " +
      fixRefs(sql.substring(condEnd))
  }
}
