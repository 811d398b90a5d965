package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed spatial join — the whole-operator spatial capability Spark
  * lacks natively (its join planner sees an opaque predicate and falls back
  * to a nested-loop cartesian). The scale shape is GRID BLOCKING, the same
  * decomposition every distributed geo engine uses: quantize space into
  * cells of a chosen size, assign each point to the ONE cell containing it
  * (a codegen floor), explode each polygon to the (bounded) set of cells
  * its bounding box covers, then hash-equi-join on the cell key and verify
  * the exact geometry predicate only on co-celled candidates. Each
  * point-polygon pair meets in EXACTLY one cell — the point's — so the
  * join needs no post-dedup, and the cost model is
  * O(points + polygons x cells_per_bbox + candidates): quadratic only
  * within a cell, bounded by the cell size knob exactly like the IVF cell
  * bound in [[Embeddings.semanticDedup]]. AQE's skew handling applies to
  * the cell key like any other equi-join key; a pathological cell (all
  * points in one city block) is handled by shrinking `cellSize`, the same
  * retuning story as any blocking join.
  *
  * The exact verify runs [[graft.plans.Wkb]] kernels as codegen scalar
  * calls on the joined rows — no UDF, no driver round-trip.
  */
object SpatialJoin {

  /** points: (pointCols..., px, py) — coordinates as doubles.
    * polygons: (polyCols..., geom) — WKB polygon column.
    * Returns every (point row, polygon row) pair where the polygon's
    * geometry INTERSECTS the point (boundary-inclusive; pass
    * `boundaryExclusive = true` for OGC Contains semantics).
    */
  /** Auto cell size: the mean polygon bbox edge (computed from the
    * polygon side — usually the small side of a spatial join, one cheap
    * aggregate). A cell ~ the typical polygon keeps each polygon's explode
    * at ~4 cells while co-celled candidate counts track real overlap —
    * the same derive-the-knob-from-the-data posture as
    * [[Embeddings.semanticDedup]]'s auto-k.
    */
  def pointInPolygon(points: DataFrame, polygons: DataFrame,
      px: Column, py: Column, geom: Column): DataFrame = {
    val row = polygons.select(
      avg(call_function("st_xmax", geom) - call_function("st_xmin", geom)).as("w"),
      avg(call_function("st_ymax", geom) - call_function("st_ymin", geom)).as("h"),
      max(call_function("st_xmax", geom) - call_function("st_xmin", geom)).as("mw"),
      max(call_function("st_ymax", geom) - call_function("st_ymin", geom)).as("mh"))
      .collect().head
    // Empty/all-null polygon side: avg() is null. The join is empty either
    // way — run it with a placeholder cell so the result keeps the joined
    // schema instead of throwing an NPE (r11 ADVICE).
    if (row.isNullAt(0) || row.isNullAt(1))
      return pointInPolygon(points, polygons, px, py, geom, cellSize = 1.0)
    // Cell ~ the MEAN bbox edge keeps the typical polygon at ~4 cells, but
    // a degenerate mix (mostly zero-extent polygons + one wide one) drives
    // the mean toward the 1e-9 floor and the wide polygon's bbox would
    // explode to millions of cells. Bound it: no polygon may cover more
    // than ~65x65 cells, so cell >= max_edge/64 (the blow-up guard the r11
    // verdict asked for; skew within a cell remains the cellSize retuning
    // story documented above).
    val cell = math.max(1e-9, math.max(
      math.max(row.getDouble(0), row.getDouble(1)),
      math.max(row.getDouble(2), row.getDouble(3)) / 64.0))
    pointInPolygon(points, polygons, px, py, geom, cell)
  }

  def pointInPolygon(points: DataFrame, polygons: DataFrame,
      px: Column, py: Column, geom: Column, cellSize: Double,
      boundaryExclusive: Boolean = false,
      maxCellsPerPolygon: Long = 1L << 16): DataFrame = {
    val cellX = floor(px / cellSize).cast("long")
    val cellY = floor(py / cellSize).cast("long")
    val p = points
      .withColumn("__cx", cellX)
      .withColumn("__cy", cellY)
    // polygon -> covered cell range from its bbox (st_xmin etc. are the
    // codegen kernel accessors); sequence+explode is bounded by
    // bbox_area / cellSize^2 per polygon. A polygon whose bbox covers more
    // than `maxCellsPerPolygon` cells fails LOUDLY with the retuning advice
    // instead of silently exploding the index (r11 verdict #4) — the check
    // is a codegen `when(raise_error)` on the bound columns, per row, no
    // extra pass.
    val nCells =
      (col("__gxmax") - col("__gxmin") + 1) * (col("__gymax") - col("__gymin") + 1)
    val cellGuard = when(nCells > lit(maxCellsPerPolygon),
      raise_error(concat(
        lit(s"spatial join: a polygon's bbox covers more than $maxCellsPerPolygon " +
          s"grid cells at cellSize=$cellSize ("),
        nCells.cast("string"),
        lit(" cells); increase cellSize or raise maxCellsPerPolygon"))).cast("long"))
      .otherwise(col("__gxmax"))
    val g = polygons
      .withColumn("__gxmin", floor(callUDFFree("st_xmin", geom) / cellSize).cast("long"))
      .withColumn("__gxmax", floor(callUDFFree("st_xmax", geom) / cellSize).cast("long"))
      .withColumn("__gymin", floor(callUDFFree("st_ymin", geom) / cellSize).cast("long"))
      .withColumn("__gymax", floor(callUDFFree("st_ymax", geom) / cellSize).cast("long"))
      .withColumn("__gxmax", cellGuard)
      .withColumn("__cx", explode(sequence(col("__gxmin"), col("__gxmax"))))
      .withColumn("__cy", explode(sequence(col("__gymin"), col("__gymax"))))
      .drop("__gxmin", "__gxmax", "__gymin", "__gymax")
    val predicate = if (boundaryExclusive) "st_contains" else "st_intersects"
    p.join(g, Seq("__cx", "__cy"))
      .filter(callUDFFree(predicate, geom, callUDFFree("st_point", px, py)))
      .drop("__cx", "__cy")
  }

  /** Polygon-polygon spatial join on st_intersects (r14) — closes the last
    * blocked-join family gap: joining two polygon sets previously fell to
    * Spark's nested-loop fallback. Same grid decomposition as
    * [[pointInPolygon]], generalized to two exploding sides:
    *
    *   1. Each side explodes its bbox to the covered cell range (bounded by
    *      `maxCellsPerPolygon`, loud on blow-up).
    *   2. Hash equi-join on the cell key.
    *   3. A pair sharing k cells would emit k copies — instead of a
    *      post-join dedup (an extra shuffle on the pair key), each pair is
    *      kept ONLY in its canonical cell: the minimum cell of the two cell
    *      ranges' intersection, a codegen filter on already-present bounds.
    *   4. Exact verify: bbox overlap (sharing a cell does NOT imply it),
    *      then the st_intersects kernel on the real geometries.
    *
    * Cost: O(|A| + |B| cells exploded + co-celled candidates); AQE
    * skew-split applies to the cell key; a hot cell is the cellSize
    * retuning story shared by the whole family.
    */
  def polygonJoin(left: DataFrame, lgeom: Column, right: DataFrame,
      rgeom: Column, cellSize: Double,
      maxCellsPerPolygon: Long = 1L << 16): DataFrame = {
    def cells(df: DataFrame, geom: Column, p: String): DataFrame = {
      val nCells = (col(s"__${p}x2") - col(s"__${p}x1") + 1) *
        (col(s"__${p}y2") - col(s"__${p}y1") + 1)
      val guard = when(nCells > lit(maxCellsPerPolygon),
        raise_error(concat(
          lit(s"polygon join: a polygon's bbox covers more than $maxCellsPerPolygon " +
            s"grid cells at cellSize=$cellSize ("),
          nCells.cast("string"),
          lit(" cells); increase cellSize or raise maxCellsPerPolygon"))).cast("long"))
        .otherwise(col(s"__${p}x2"))
      df
        .withColumn(s"__${p}g", geom)
        .withColumn(s"__${p}bx1", callUDFFree("st_xmin", col(s"__${p}g")))
        .withColumn(s"__${p}by1", callUDFFree("st_ymin", col(s"__${p}g")))
        .withColumn(s"__${p}bx2", callUDFFree("st_xmax", col(s"__${p}g")))
        .withColumn(s"__${p}by2", callUDFFree("st_ymax", col(s"__${p}g")))
        .withColumn(s"__${p}x1", floor(col(s"__${p}bx1") / cellSize).cast("long"))
        .withColumn(s"__${p}x2", floor(col(s"__${p}bx2") / cellSize).cast("long"))
        .withColumn(s"__${p}y1", floor(col(s"__${p}by1") / cellSize).cast("long"))
        .withColumn(s"__${p}y2", floor(col(s"__${p}by2") / cellSize).cast("long"))
        .withColumn(s"__${p}x2", guard)
        .withColumn("__cx", explode(sequence(col(s"__${p}x1"), col(s"__${p}x2"))))
        .withColumn("__cy", explode(sequence(col(s"__${p}y1"), col(s"__${p}y2"))))
    }
    val internals = Seq("bx1", "by1", "bx2", "by2", "x1", "x2", "y1", "y2", "g")
    cells(left, lgeom, "l").join(cells(right, rgeom, "r"), Seq("__cx", "__cy"))
      // canonical cell: exactly-once survival per pair, no dedup shuffle
      .filter(col("__cx") === greatest(col("__lx1"), col("__rx1")) &&
        col("__cy") === greatest(col("__ly1"), col("__ry1")))
      // exact bbox overlap, boundary-inclusive like st_intersects
      .filter(col("__lbx1") <= col("__rbx2") && col("__rbx1") <= col("__lbx2") &&
        col("__lby1") <= col("__rby2") && col("__rby1") <= col("__lby2"))
      .filter(callUDFFree("st_intersects", col("__lg"), col("__rg")))
      .drop("__cx" +: "__cy" +:
        internals.flatMap(c => Seq(s"__l$c", s"__r$c")): _*)
  }

  /** Auto cell size for [[polygonJoin]]: the mean bbox edge over BOTH
    * sides, floored so no polygon explodes past ~65x65 cells — the same
    * derive-the-knob-from-the-data posture as the point-in-polygon form.
    */
  def polygonJoin(left: DataFrame, lgeom: Column, right: DataFrame,
      rgeom: Column): DataFrame = {
    def stats(df: DataFrame, geom: Column) = df.select(
      avg(callUDFFree("st_xmax", geom) - callUDFFree("st_xmin", geom)).as("w"),
      avg(callUDFFree("st_ymax", geom) - callUDFFree("st_ymin", geom)).as("h"),
      max(callUDFFree("st_xmax", geom) - callUDFFree("st_xmin", geom)).as("mw"),
      max(callUDFFree("st_ymax", geom) - callUDFFree("st_ymin", geom)).as("mh"))
      .collect().head
    val ls = stats(left, lgeom); val rs = stats(right, rgeom)
    if (ls.isNullAt(0) || rs.isNullAt(0))
      return polygonJoin(left, lgeom, right, rgeom, cellSize = 1.0)
    val cell = math.max(1e-9, math.max(
      Seq(ls.getDouble(0), ls.getDouble(1), rs.getDouble(0), rs.getDouble(1)).max,
      Seq(ls.getDouble(2), ls.getDouble(3), rs.getDouble(2), rs.getDouble(3)).max / 64.0))
    polygonJoin(left, lgeom, right, rgeom, cell)
  }

  /** Radius join: every (point, point) pair within `radius` (Euclidean),
    * left id < right id. Same grid blocking; each left point probes its own
    * cell plus the 8 neighbors (radius must be <= cellSize for the 3x3
    * neighborhood to be complete — enforced).
    */
  def pointsWithin(points: DataFrame, px: Column, py: Column, id: Column,
      radius: Double, cellSize: Double): DataFrame = {
    require(radius <= cellSize, s"radius $radius must be <= cellSize $cellSize")
    val l = points.select(id.as("id_a"), px.as("ax"), py.as("ay"))
      .withColumn("__cx", floor(col("ax") / cellSize).cast("long"))
      .withColumn("__cy", floor(col("ay") / cellSize).cast("long"))
      .withColumn("__nx", explode(sequence(col("__cx") - 1, col("__cx") + 1)))
      .withColumn("__ny", explode(sequence(col("__cy") - 1, col("__cy") + 1)))
      .select(col("id_a"), col("ax"), col("ay"),
        col("__nx").as("__cx"), col("__ny").as("__cy"))
    val r = points.select(id.as("id_b"), px.as("bx"), py.as("by"))
      .withColumn("__cx", floor(col("bx") / cellSize).cast("long"))
      .withColumn("__cy", floor(col("by") / cellSize).cast("long"))
    l.hint("shuffle_hash").join(r, Seq("__cx", "__cy"))
      .filter(col("id_a") < col("id_b"))
      .filter(pow(col("ax") - col("bx"), 2) + pow(col("ay") - col("by"), 2)
        <= lit(radius * radius))
      .select(col("id_a"), col("id_b"),
        round(sqrt(pow(col("ax") - col("bx"), 2) + pow(col("ay") - col("by"), 2)), 6)
          .as("dist"))
  }

  /** k-nearest-neighbor join (r13): for every left point, its `k` nearest
    * right points (Euclidean, ties broken by right id — deterministic).
    * Output: (id_a, id_b, dist, rnk).
    *
    * Scale shape — EXPANDING-RADIUS GRID PROBES, the standard distributed
    * kNN decomposition (no per-row index lookups, no cross join):
    *
    *   1. One metadata aggregate over each side derives the starting
    *      radius from the right side's density (r0 ~ 1.5 * sqrt(k*A/n),
    *      the expected side of a square holding k uniform points) and the
    *      termination bound (the combined-extent diagonal: at that radius
    *      the 3x3 cell neighborhood provably covers every pair).
    *   2. Each round is a radius join at the current radius: left points
    *      probe their 3x3 cell neighborhood (cell = radius, so the
    *      neighborhood is complete), hash equi-join on the cell key,
    *      exact distance filter. A left point with >= k candidates inside
    *      the radius is EXACTLY solved — everything outside is farther
    *      than its k within-radius candidates — and leaves the loop; the
    *      starved remainder retries at 2x the radius.
    *   3. The final round (radius >= diagonal) accepts rank <= k however
    *      few candidates exist, so a right side smaller than k still
    *      yields its full list.
    *
    * The driver loop is O(log(diagonal / r0)) rounds — bounded, data never
    * touches the driver. Per round: one shuffle on the cell key (AQE
    * skew-split applies; a hot cell is the cellSize retuning story above)
    * and one on id_a for the rank window. Under the uniform-density
    * heuristic round 1 solves most points, so the expected cost is one
    * radius join at the density-correct radius — candidates ~ 9 * k per
    * point, independent of table size.
    */
  def knnJoin(left: DataFrame, lid: Column, lx: Column, ly: Column,
      right: DataFrame, rid: Column, rx: Column, ry: Column,
      k: Int, initRadius: Option[Double] = None, maxRounds: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val l0 = left.select(lid.as("id_a"),
      lx.cast("double").as("ax"), ly.cast("double").as("ay"))
    val rdf = right.select(rid.as("id_b"),
      rx.cast("double").as("bx"), ry.cast("double").as("by"))
    val emptyOut = l0.crossJoin(rdf).where(lit(false))
      .select(col("id_a"), col("id_b"), lit(0.0).as("dist"), lit(1).as("rnk"))
    val st = rdf.agg(count(lit(1)).as("n"),
      min("bx").as("x1"), max("bx").as("x2"),
      min("by").as("y1"), max("by").as("y2")).collect().head
    if (st.getLong(0) == 0L) return emptyOut
    val lt = l0.agg(min("ax").as("x1"), max("ax").as("x2"),
      min("ay").as("y1"), max("ay").as("y2")).collect().head
    if (lt.isNullAt(0)) return emptyOut
    val n = st.getLong(0)
    val w = math.max(st.getDouble(2), lt.getDouble(1)) - math.min(st.getDouble(1), lt.getDouble(0))
    val h = math.max(st.getDouble(4), lt.getDouble(3)) - math.min(st.getDouble(3), lt.getDouble(2))
    val diag = math.sqrt(w * w + h * h)
    val area = math.max((st.getDouble(2) - st.getDouble(1)) * (st.getDouble(4) - st.getDouble(3)), 1e-12)
    // Safety factor 1.2: the expected within-radius candidate count is
    // pi * 1.2^2 * k ~ 4.5k (Poisson tail below k is ~1e-8 at k=8), while
    // the 3x3-cell join processes 9 * 1.44 * k ~ 13k rows per point —
    // raising the factor to 1.5 measured 2.25x more shuffle for starvation
    // probability that was already negligible (round 13; ARCHITECTURE.md
    // at 7f0c93f).
    val r0 = initRadius.getOrElse(
      math.min(math.max(1.2 * math.sqrt(k * area / n), 1e-9), math.max(diag, 1e-9)))
    val maxR = math.max(diag, 1e-9)

    def candidates(lf: DataFrame, rad: Double): DataFrame = {
      val lc = lf
        .withColumn("__cx0", floor(col("ax") / rad).cast("long"))
        .withColumn("__cy0", floor(col("ay") / rad).cast("long"))
        .withColumn("__cx", explode(sequence(col("__cx0") - 1, col("__cx0") + 1)))
        .withColumn("__cy", explode(sequence(col("__cy0") - 1, col("__cy0") + 1)))
        .drop("__cx0", "__cy0")
      val rc = rdf
        .withColumn("__cx", floor(col("bx") / rad).cast("long"))
        .withColumn("__cy", floor(col("by") / rad).cast("long"))
      // explicit multiplication, not pow(x, 2): Math.pow is only 1-ulp
      // accurate, and the oracle ranks by the same product expression
      val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by"))
      lc.join(rc, Seq("__cx", "__cy"))
        .withColumn("__d2", d2)
        .filter(col("__d2") <= lit(rad * rad))
        .select(col("id_a"), col("id_b"), col("__d2"))
    }

    val rankWin = org.apache.spark.sql.expressions.Window.partitionBy("id_a")
    var radius = r0
    var remaining = l0
    var out: Option[DataFrame] = None
    val keptFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // A round that is terminal BY COUNT must run at the coverage bound,
      // or a caller-supplied maxRounds <= 3 would accept rank <= k at a
      // radius below maxR and silently return incomplete neighbor lists —
      // the jump below only protects the default path.
      if (round == maxRounds - 1 && radius < maxR) radius = maxR
      val last = radius >= maxR || round == maxRounds - 1
      // Top-k candidates per remaining left point, MATERIALIZED once
      // (localCheckpoint): the loop's next-remainder anti-join AND the
      // final result both read these blocks. Without the cut, round N's
      // lineage re-executes every earlier round's radius join — measured
      // superlinear at 30x (round 13: 93 s vs 70 s linear) before the
      // checkpoint landed. Total pinned bytes across rounds are bounded by
      // |left| * k result rows (solved id_a sets are disjoint) plus the
      // geometrically shrinking remainders, which are freed eagerly below.
      val kept = candidates(remaining, radius)
        .withColumn("rnk", row_number().over(rankWin.orderBy(col("__d2"), col("id_b"))))
        .withColumn("__cnt", count(lit(1)).over(rankWin))
        .filter(col("rnk") <= k)
        .localCheckpoint(true)
      keptFrames += kept
      val solved = if (last) kept else kept.filter(col("__cnt") >= k)
      val piece = solved.select(col("id_a"), col("id_b"),
        round_(sqrt(col("__d2")), 6).as("dist"), col("rnk"))
      out = Some(out.map(_.unionByName(piece)).getOrElse(piece))
      if (last) done = true
      else {
        val next = remaining.join(
          solved.select("id_a").distinct(), Seq("id_a"), "left_anti")
          .localCheckpoint(true)
        // free the PREVIOUS remainder's blocks (round 0 reads the caller's
        // frame — nothing pinned). Dataset.unpersist is a no-op on
        // localCheckpoint blocks; unpersist the RDD under the LogicalRDD
        // leaf (the jaccardPairsGated lesson, TextPipeline.scala:140).
        if (round > 0) remaining.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        }
        remaining = next
        if (remaining.isEmpty) done = true
        // grow geometrically, but the round before the cap JUMPS to the
        // terminal radius: the final round must run at >= the coverage
        // bound, or an extreme outlier (needing > 2^maxRounds growth from
        // the density-derived start) would silently get incomplete
        // neighbors instead of exact ones
        else radius = if (round >= maxRounds - 3) maxR else radius * 2
      }
      round += 1
    }
    out match {
      case None => emptyOut
      case Some(o) =>
        // Materialize the final union into ONE block set, then free every
        // per-round kept checkpoint and the final remainder: without this a
        // long-lived server accumulates |left|*k pinned rows per kNN call
        // until ContextCleaner GC (the jaccardPairsGated lesson applied to
        // the kept pieces, not just the superseded remainders). The caller
        // can release the result itself via freeLocalCheckpoint once
        // consumed.
        val result = o.localCheckpoint(true)
        keptFrames.foreach(freeLocalCheckpoint)
        if (!(remaining eq l0)) freeLocalCheckpoint(remaining)
        result
    }
  }

  /** Unpersist the localCheckpoint blocks under a result's LogicalRDD leaf.
    * Dataset.unpersist is a no-op on localCheckpoint blocks (RDD-owned, not
    * CacheManager entries); after this call the frame must not be re-read.
    */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  // org.apache.spark.sql.functions.round shadowed by the loop variable name
  private def round_(c: Column, scale: Int): Column = round(c, scale)

  // call a registered function by name without the UDF registry (these are
  // the codegen StaticInvoke spatial expressions from GraftExtensions)
  private def callUDFFree(name: String, args: Column*): Column =
    call_function(name, args: _*)

  val ops: Seq[Op] = Seq(

    // Grid-blocked point-in-polygon join: nation grid points against
    // per-region envelope polygons ((r, r) to (r+2, r+2)). The oracle is
    // the closed-form box test over the cross product — small here, but the
    // Spark plan is the blocked equi-join that scales.
    Op("spatial_join_pip",
      "WITH pts AS (SELECT n_nationkey, CAST(n_nationkey % 5 AS DOUBLE) AS x, " +
      "CAST(n_nationkey // 5 AS DOUBLE) AS y FROM nation), " +
      "polys AS (SELECT r_regionkey, CAST(r_regionkey AS DOUBLE) AS gx, " +
      "CAST(r_regionkey AS DOUBLE) + 2 AS gx2 FROM region) " +
      "SELECT n_nationkey, r_regionkey FROM pts JOIN polys ON " +
      "x >= gx AND x <= gx2 AND y >= gx AND y <= gx2 " +
      "ORDER BY n_nationkey, r_regionkey") { (s, d) =>
      Tables.ensure(s, d)
      val pts = s.sql(
        "SELECT n_nationkey, CAST(n_nationkey % 5 AS DOUBLE) AS x, " +
          "CAST(n_nationkey DIV 5 AS DOUBLE) AS y FROM nation")
      val polys = s.sql(
        "SELECT r_regionkey, st_makeenvelope(CAST(r_regionkey AS DOUBLE), " +
          "CAST(r_regionkey AS DOUBLE), CAST(r_regionkey AS DOUBLE) + 2, " +
          "CAST(r_regionkey AS DOUBLE) + 2) AS geom FROM region")
      pointInPolygon(pts, polys, col("x"), col("y"), col("geom"), cellSize = 2.0)
        .select("n_nationkey", "r_regionkey")
        .orderBy("n_nationkey", "r_regionkey")
    },

    // Polygon-polygon blocked join (r14): 25 nation envelopes (3x3 at a
    // 2-spaced grid, so horizontal/vertical/diagonal neighbors overlap)
    // against 5 region envelopes on the diagonal. The oracle is the
    // closed-form interval-overlap test (st_intersects of axis rectangles),
    // boundary-inclusive; the Spark plan is the canonical-cell equi-join.
    Op("spatial_join_poly",
      "WITH a AS (SELECT n_nationkey AS aid, " +
      "CAST(2 * (n_nationkey % 5) AS DOUBLE) AS ax, " +
      "CAST(2 * (n_nationkey // 5) AS DOUBLE) AS ay FROM nation), " +
      "b AS (SELECT r_regionkey AS bid, CAST(1.5 * r_regionkey AS DOUBLE) AS bx, " +
      "CAST(1.5 * r_regionkey AS DOUBLE) AS by FROM region) " +
      "SELECT aid, bid FROM a JOIN b ON " +
      "ax <= bx + 3 AND bx <= ax + 3 AND ay <= by + 3 AND by <= ay + 3 " +
      "ORDER BY aid, bid") { (s, d) =>
      Tables.ensure(s, d)
      val a = s.sql(
        "SELECT n_nationkey AS aid, st_makeenvelope(" +
          "CAST(2 * (n_nationkey % 5) AS DOUBLE), CAST(2 * (n_nationkey DIV 5) AS DOUBLE), " +
          "CAST(2 * (n_nationkey % 5) + 3 AS DOUBLE), CAST(2 * (n_nationkey DIV 5) + 3 AS DOUBLE)) AS ageom " +
          "FROM nation")
      val b = s.sql(
        "SELECT r_regionkey AS bid, st_makeenvelope(" +
          "CAST(1.5 * r_regionkey AS DOUBLE), CAST(1.5 * r_regionkey AS DOUBLE), " +
          "CAST(1.5 * r_regionkey + 3 AS DOUBLE), CAST(1.5 * r_regionkey + 3 AS DOUBLE)) AS bgeom " +
          "FROM region")
      polygonJoin(a, col("ageom"), b, col("bgeom"), cellSize = 3.0)
        .select("aid", "bid").orderBy("aid", "bid")
    },

    // Grid-blocked radius self-join on the nation grid: all point pairs
    // within Euclidean distance 1.5 (axis and diagonal neighbors).
    Op("spatial_join_radius",
      "WITH pts AS (SELECT n_nationkey AS id, CAST(n_nationkey % 5 AS DOUBLE) AS x, " +
      "CAST(n_nationkey // 5 AS DOUBLE) AS y FROM nation) " +
      "SELECT a.id AS id_a, b.id AS id_b, " +
      "ROUND(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist " +
      "FROM pts a JOIN pts b ON a.id < b.id AND " +
      "(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 2.25 " +
      "ORDER BY id_a, id_b") { (s, d) =>
      Tables.ensure(s, d)
      val pts = s.sql(
        "SELECT n_nationkey AS id, CAST(n_nationkey % 5 AS DOUBLE) AS x, " +
          "CAST(n_nationkey DIV 5 AS DOUBLE) AS y FROM nation")
      pointsWithin(pts, col("x"), col("y"), col("id"), radius = 1.5, cellSize = 2.0)
        .orderBy("id_a", "id_b")
    },

    // kNN join (r13): each nation grid point's 3 nearest customer points
    // (customers land on a half-integer lattice, so distance TIES are real
    // and the id_b tie-break is exercised). The oracle is the brute-force
    // cross join + rank — exact at fixture scale, while the Spark side is
    // the expanding-radius grid join that scales.
    Op("spatial_knn",
      "WITH l AS (SELECT n_nationkey AS id_a, CAST(n_nationkey % 5 AS DOUBLE) AS ax, " +
      "CAST(n_nationkey // 5 AS DOUBLE) AS ay FROM nation), " +
      "r AS (SELECT c_custkey AS id_b, CAST(c_custkey % 11 AS DOUBLE)/2 AS bx, " +
      "CAST(c_custkey % 13 AS DOUBLE)/2 AS by FROM customer) " +
      "SELECT id_a, id_b, ROUND(sqrt((ax-bx)*(ax-bx) + (ay-by)*(ay-by)), 6) AS dist, rnk FROM (" +
      "SELECT id_a, id_b, ax, ay, bx, by, CAST(row_number() OVER (PARTITION BY id_a " +
      "ORDER BY (ax-bx)*(ax-bx) + (ay-by)*(ay-by), id_b) AS INTEGER) AS rnk " +
      "FROM l CROSS JOIN r) t WHERE rnk <= 3 ORDER BY id_a, rnk") { (s, d) =>
      Tables.ensure(s, d)
      val l = s.sql("SELECT n_nationkey, CAST(n_nationkey % 5 AS DOUBLE) AS x, " +
        "CAST(n_nationkey DIV 5 AS DOUBLE) AS y FROM nation")
      val r = s.sql("SELECT c_custkey, CAST(c_custkey % 11 AS DOUBLE)/2 AS x, " +
        "CAST(c_custkey % 13 AS DOUBLE)/2 AS y FROM customer")
      knnJoin(l, col("n_nationkey"), col("x"), col("y"),
        r, col("c_custkey"), col("x"), col("y"), k = 3)
        .orderBy("id_a", "rnk")
    },

    // Geofencing (r13): events get deterministic coordinates off event_id
    // (offset 0.05 keeps them off zone boundaries), three 5x5 zones tile
    // three quadrants (the fourth is 'outside'), and the op emits per-user
    // zone TRANSITIONS. The oracle replays the same CASE logic + LAG in
    // SQL; the Spark side tags via the broadcast grid-blocked spatial join
    // and detects edges with one user_id window pass.
    Op("spatial_geofence",
      "WITH e AS (SELECT event_id, user_id, ts, " +
      "(event_id % 100)/10.0 + 0.05 AS px, ((event_id // 100) % 100)/10.0 + 0.05 AS py " +
      "FROM events), " +
      "z AS (SELECT user_id, ts, event_id, " +
      "CASE WHEN px < 5 AND py < 5 THEN 'A' WHEN px >= 5 AND py < 5 THEN 'B' " +
      "WHEN px < 5 AND py >= 5 THEN 'C' ELSE 'outside' END AS zone FROM e), " +
      "t AS (SELECT user_id, ts, event_id, zone, " +
      "LAG(zone) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM z) " +
      "SELECT user_id, ts, event_id, prev AS from_zone, zone AS to_zone " +
      "FROM t WHERE prev IS NOT NULL AND prev <> zone " +
      "ORDER BY user_id, ts, event_id") { (s, d) =>
      Tables.ensure(s, d)
      import s.implicits._
      val ev = s.table("events")
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("px", (col("event_id") % 100) / 10.0 + 0.05)
        .withColumn("py", (expr("event_id div 100") % 100) / 10.0 + 0.05)
      val zones = Seq(("A", 0.0, 0.0, 5.0, 5.0), ("B", 5.0, 0.0, 10.0, 5.0),
        ("C", 0.0, 5.0, 5.0, 10.0)).toDF("zone", "x1", "y1", "x2", "y2")
        .withColumn("geom", call_function("st_makeenvelope",
          col("x1"), col("y1"), col("x2"), col("y2")))
        .select("zone", "geom")
      val tagged = Geofence.tagZones(ev, "event_id", col("px"), col("py"),
        zones, "zone", col("geom"), cellSize = 5.0)
      Geofence.zoneTransitions(tagged.select("user_id", "ts", "event_id", "zone"))
        .orderBy("user_id", "ts", "event_id")
    })
}
