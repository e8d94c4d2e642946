package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Grid-bucketed spatial join: points × axis-aligned rectangles with
  * INCLUSIVE bounds — the 2-D sibling of [[RangeJoin]] (1-D intervals).
  * No reference analog (SURVEY.md §2.11 surface).
  *
  * Spark shape — the same never-cross-product discipline as the dedup
  * family: rectangles explode to the grid cells they cover, points map
  * to their ONE cell, candidates come from a plain equi-join on
  * (cx, cy), and the exact containment predicate filters after. A
  * (point, rect) pair can meet in exactly one cell (the point's), so
  * the join emits no duplicates to deduplicate — no `distinct`, no
  * window, no shuffle beyond the one equi-join.
  *
  * Cell size is the tuning knob: cells ≫ rects waste the filter, cells
  * ≪ rects explode the build side. A rectangle covering more than
  * `maxCellsPerRect` cells fails LOUDLY — a world-sized rectangle
  * belongs on a broadcast plan, not a 10⁶-row explode, and silently
  * accepting it is how grid joins die at scale.
  */
object SpatialJoin {

  /** Join `points` (with numeric `px`, `py`) to `rects` (with numeric
    * `xlo` ≤ `xhi`, `ylo` ≤ `yhi`): returns point-columns × rect-columns
    * for every containment hit. Malformed rectangles (lo > hi) and
    * oversized rectangles fail loudly.
    *
    * `saltBuckets` is the HOT-CELL defense (VERDICT r12 item 4): a grid
    * join shuffles on (cx, cy), so a natural hot cell — every real geo
    * dataset has a Manhattan where 90% of the points share one cell —
    * rides a single shuffle partition no matter how many executors the
    * cluster has. With `saltBuckets` > 1 the POINT side adds a
    * `pmod(hash(all point columns), saltBuckets)` salt to the join key
    * (the [[SkewJoin.saltedEquiJoin]] recipe: distinct rows spread
    * uniformly, byte-identical duplicates share a salt — acceptable,
    * skew comes from many distinct points in one cell) and the rect-cell
    * side replicates ×saltBuckets — cheap, it is the SMALL side by
    * construction. Join semantics are identical for any value; 1 (the
    * default) is plan-identical to the unsalted join.
    */
  def pointInRect(
      points: DataFrame, px: String, py: String,
      rects: DataFrame, xlo: String, ylo: String, xhi: String, yhi: String,
      cellSize: Long,
      maxCellsPerRect: Long = 100000L,
      saltBuckets: Int = 1): DataFrame = {
    require(cellSize > 0, s"cellSize $cellSize must be positive")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    def cellOf(c: Column): Column = floor(c / lit(cellSize.toDouble)).cast("long")
    val checked = rects.withColumn("__span", {
      val bad = col(xlo) > col(xhi) || col(ylo) > col(yhi)
      val span = (cellOf(col(xhi)) - cellOf(col(xlo)) + 1) *
        (cellOf(col(yhi)) - cellOf(col(ylo)) + 1)
      when(bad, raise_error(concat(lit("malformed rectangle: lo > hi at "),
          col(xlo).cast("string"), lit(","), col(ylo).cast("string"))))
        .when(span > maxCellsPerRect, raise_error(concat(
          lit(s"rectangle covers more than $maxCellsPerRect grid cells "),
          lit("(span "), span.cast("string"),
          lit(") — broadcast it instead of exploding the grid"))))
        .otherwise(span)
    })
    val rectCells = checked
      .withColumn("__cx", explode(sequence(cellOf(col(xlo)), cellOf(col(xhi)))))
      .withColumn("__cy", explode(sequence(cellOf(col(ylo)), cellOf(col(yhi)))))
      .drop("__span")
    val pts = points
      .withColumn("__cx", cellOf(col(px)))
      .withColumn("__cy", cellOf(col(py)))
    val (probe, build, keys) =
      if (saltBuckets == 1) (pts, rectCells, Seq("__cx", "__cy"))
      else (
        pts.withColumn("__salt",
          pmod(hash(points.columns.toIndexedSeq.map(col): _*), lit(saltBuckets))),
        rectCells.withColumn("__salt",
          explode(sequence(lit(0), lit(saltBuckets - 1)))),
        Seq("__cx", "__cy", "__salt"))
    probe.join(build, keys)
      .filter(col(px) >= col(xlo) && col(px) <= col(xhi) &&
        col(py) >= col(ylo) && col(py) <= col(yhi))
      .drop(keys: _*)
  }

  /** Points × CONVEX polygons — the general-shape sibling of
    * [[pointInRect]]: candidates come from the polygon's bounding box
    * on the same grid, the exact test is the half-plane intersection
    * (every edge's cross product ≥ 0 — boundary inclusive), all in
    * exact integer arithmetic so an oracle replays it with list
    * lambdas. `vertsCol` is `array<struct<x: long, y: long>>` in
    * COUNTER-CLOCKWISE order; polygons that are not convex-CCW (any
    * negative consecutive-edge cross) or degenerate (< 3 vertices)
    * fail loudly — a silently-accepted clockwise polygon would match
    * nothing and read as "no points in region".
    */
  def pointInConvexPoly(
      points: DataFrame, px: String, py: String,
      polys: DataFrame, vertsCol: String,
      cellSize: Long,
      maxCellsPerPoly: Long = 100000L): DataFrame =
    probePolyCells(points, px, py,
      stagePolyCells(polys, vertsCol, cellSize, maxCellsPerPoly), vertsCol, cellSize)

  /** The validated, bbox-annotated, cell-exploded polygon side —
    * exposed so [[graft.streaming.StreamingSpatialProbe]] can persist
    * it once for a stream's lifetime (a stream-static join re-evaluates
    * the static subplan every trigger).
    */
  private[graft] def stagePolyCells(
      polys: DataFrame, vertsCol: String,
      cellSize: Long, maxCellsPerPoly: Long): DataFrame = {
    require(cellSize > 0, s"cellSize $cellSize must be positive")
    def cellOf(c: Column): Column = floor(c / lit(cellSize.toDouble)).cast("long")
    val verts = col(vertsCol)
    val n = size(verts)
    def vx(i: Column) = element_at(verts, i + 1).getField("x")
    def vy(i: Column) = element_at(verts, i + 1).getField("y")
    def nxt(i: Column) = (i + 1) % n
    // cross of edge i with the following edge (cyclic) — convex CCW iff
    // all ≥ 0 and at least one > 0 (not all collinear)
    def edgeCross(i: Column): Column = {
      val j = nxt(i); val k = nxt(j)
      (vx(j) - vx(i)) * (vy(k) - vy(j)) - (vy(j) - vy(i)) * (vx(k) - vx(j))
    }
    val convexOk = forall(sequence(lit(0), n - 1), i => edgeCross(i) >= 0) &&
      exists(sequence(lit(0), n - 1), i => edgeCross(i) > 0)
    val checked = polys.withColumn("__ok",
      when(n < 3, raise_error(lit("polygon with fewer than 3 vertices")))
        .when(!convexOk, raise_error(
          lit("polygon is not convex counter-clockwise — a clockwise ring would " +
            "silently match nothing; reverse the vertex order")))
        .otherwise(lit(true)))
    val xs = transform(verts, v => v.getField("x"))
    val ys = transform(verts, v => v.getField("y"))
    val span = (cellOf(array_max(xs)) - cellOf(array_min(xs)) + 1) *
      (cellOf(array_max(ys)) - cellOf(array_min(ys)) + 1)
    // bounding box MATERIALIZED per polygon row before the explode: the
    // half-plane forall is an interpreted higher-order function, so a
    // codegen'd bbox comparison must kill the cell-grain false
    // candidates before any row reaches it (measured 2.6× on q245)
    val polyCells = checked
      .withColumn("__span", when(span > maxCellsPerPoly, raise_error(concat(
          lit(s"polygon covers more than $maxCellsPerPoly grid cells (span "),
          span.cast("string"), lit(") — broadcast it instead of exploding the grid"))))
        .otherwise(span))
      .withColumn("__bxlo", array_min(xs)).withColumn("__bxhi", array_max(xs))
      .withColumn("__bylo", array_min(ys)).withColumn("__byhi", array_max(ys))
      .withColumn("__cx", explode(sequence(cellOf(col("__bxlo")), cellOf(col("__bxhi")))))
      .withColumn("__cy", explode(sequence(cellOf(col("__bylo")), cellOf(col("__byhi")))))
      .drop("__ok", "__span")
    polyCells
  }

  /** The point-side probe against [[stagePolyCells]] output. The exact
    * test is integer-only, like the vertices: a fractional `px`/`py`
    * column is refused by name rather than truncated into a wrong
    * containment answer.
    */
  private[graft] def probePolyCells(
      points: DataFrame, px: String, py: String,
      cells: DataFrame, vertsCol: String, cellSize: Long): DataFrame = {
    for (c <- Seq(px, py)) points.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case d: DecimalType if d.scale == 0 =>
      case other => throw new IllegalArgumentException(
        s"point column `$c` is $other; pointInConvexPoly needs integer coordinates")
    }
    def cellOf(c: Column): Column = floor(c / lit(cellSize.toDouble)).cast("long")
    val verts = col(vertsCol)
    val pts = points
      .withColumn("__cx", cellOf(col(px)))
      .withColumn("__cy", cellOf(col(py)))
    // inside iff every edge (v_i → v_{i+1}) keeps the point on its left —
    // the NATIVE codegen expression (r19): the old `forall` half-plane
    // fold evaluated an interpreted lambda per edge per candidate row,
    // and the candidate stream (points × bbox-overlapping polygons) is
    // exactly where this operator's time goes (q245 profile: one 3 s job
    // = the probe stage). Identical operand order and ≥ 0 test.
    val inside = graft.functions.GraftFunctions.pointInConvexPoly(
      verts, col(px).cast("long"), col(py).cast("long"))
    pts.join(cells, Seq("__cx", "__cy"))
      .filter(col(px) >= col("__bxlo") && col(px) <= col("__bxhi") &&
        col(py) >= col("__bylo") && col(py) <= col("__byhi"))
      .filter(inside)
      .drop("__cx", "__cy", "__bxlo", "__bxhi", "__bylo", "__byhi")
  }
}
