package graft

import org.apache.spark.sql.functions.col

import graft.operators.SpatialJoin

/** [[SpatialJoin]] — brute-force parity on random data across cell
  * sizes, inclusive-bound edges, no duplicate emissions, and loud
  * refusal of malformed / grid-exploding rectangles.
  */
object SpatialJoinSpec {
  final case class V(x: Long, y: Long)
}

class SpatialJoinSpec extends SparkSpec {
  import spark.implicits._
  import SpatialJoinSpec.V

  test("matches brute force across cell sizes; no duplicate pairs") {
    val rnd = new scala.util.Random(13)
    val pts = (1L to 400L).map(i =>
      (i, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
    val rects = (1L to 60L).map { i =>
      val x0 = rnd.nextInt(900).toLong; val y0 = rnd.nextInt(900).toLong
      (i, x0, y0, x0 + 1 + rnd.nextInt(150), y0 + 1 + rnd.nextInt(150))
    }
    val want = (for {
      (pid, x, y) <- pts
      (rid, x0, y0, x1, y1) <- rects
      if x >= x0 && x <= x1 && y >= y0 && y <= y1
    } yield (pid, rid)).toSeq.sorted
    for (cs <- Seq(16L, 64L, 500L)) {
      val got = SpatialJoin.pointInRect(
          pts.toDF("pid", "px", "py"), "px", "py",
          rects.toDF("rid", "xlo", "ylo", "xhi", "yhi"),
          "xlo", "ylo", "xhi", "yhi", cellSize = cs)
        .select("pid", "rid").as[(Long, Long)].collect().toSeq.sorted
      assert(got == want, s"cellSize=$cs: ${got.size} vs ${want.size}")
    }
  }

  test("inclusive bounds: points exactly on every edge and corner are hits") {
    val pts = Seq((1L, 10L, 10L), (2L, 20L, 10L), (3L, 10L, 30L),
      (4L, 20L, 30L), (5L, 15L, 20L), (6L, 21L, 20L)).toDF("pid", "px", "py")
    val rects = Seq((7L, 10L, 10L, 20L, 30L)).toDF("rid", "xlo", "ylo", "xhi", "yhi")
    val got = SpatialJoin.pointInRect(pts, "px", "py",
        rects, "xlo", "ylo", "xhi", "yhi", cellSize = 7L)
      .select("pid").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("malformed and grid-exploding rectangles fail loudly") {
    val pts = Seq((1L, 5L, 5L)).toDF("pid", "px", "py")
    val bad = Seq((1L, 10L, 0L, 5L, 10L)).toDF("rid", "xlo", "ylo", "xhi", "yhi")
    val e1 = intercept[Exception](SpatialJoin.pointInRect(
      pts, "px", "py", bad, "xlo", "ylo", "xhi", "yhi", 10L).collect())
    assert(e1.getMessage.contains("malformed rectangle") ||
      e1.getCause.getMessage.contains("malformed rectangle"))
    val huge = Seq((1L, 0L, 0L, 10000000L, 10000000L)).toDF("rid", "xlo", "ylo", "xhi", "yhi")
    val e2 = intercept[Exception](SpatialJoin.pointInRect(
      pts, "px", "py", huge, "xlo", "ylo", "xhi", "yhi", 10L).collect())
    assert(e2.getMessage.contains("grid cells") ||
      e2.getCause.getMessage.contains("grid cells"))
  }

  test("pointInConvexPoly: brute-force parity on random convex polygons; boundary inclusive") {
    val rnd = new scala.util.Random(29)
    val pts = (1L to 300L).map(i =>
      (i, rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
    // diamonds are convex and CCW by construction
    val polys = (1L to 25L).map { i =>
      val cx = 50L + rnd.nextInt(300); val cy = 50L + rnd.nextInt(300)
      val a = 10L + rnd.nextInt(40); val b = 10L + rnd.nextInt(40)
      (i, Seq(V(cx + a, cy), V(cx, cy + b), V(cx - a, cy), V(cx, cy - b)), a, b, cx, cy)
    }
    val want = (for {
      (pid, x, y) <- pts
      (rid, _, a, b, cx, cy) <- polys
      if math.abs(x - cx) * b + math.abs(y - cy) * a <= a * b // closed diamond form
    } yield (pid, rid)).sorted
    val polyDf = polys.map { case (i, vs, _, _, _, _) => (i, vs) }.toDF("rid", "verts")
    for (cs <- Seq(16L, 100L)) {
      val got = SpatialJoin.pointInConvexPoly(
          pts.toDF("pid", "px", "py"), "px", "py", polyDf, "verts", cs)
        .select("pid", "rid").as[(Long, Long)].collect().toSeq.sorted
      assert(got == want, s"cellSize=$cs: ${got.size} vs ${want.size}")
    }
    // a vertex and an edge midpoint are boundary hits (inclusive)
    val tri = Seq((1L, Seq(V(0L, 0L), V(10L, 0L), V(0L, 10L)))).toDF("rid", "verts")
    val edgePts = Seq((1L, 0L, 0L), (2L, 5L, 0L), (3L, 5L, 5L), (4L, 6L, 5L))
      .toDF("pid", "px", "py")
    val hits = SpatialJoin.pointInConvexPoly(edgePts, "px", "py", tri, "verts", 8L)
      .select("pid").as[Long].collect().toSet
    assert(hits == Set(1L, 2L, 3L))
  }

  test("pointInConvexPoly: clockwise and degenerate polygons are refused loudly") {
    val pts = Seq((1L, 5L, 5L)).toDF("pid", "px", "py")
    val cw = Seq((1L, Seq(V(0L, 0L), V(0L, 10L), V(10L, 0L)))).toDF("rid", "verts")
    val e1 = intercept[Exception](SpatialJoin.pointInConvexPoly(
      pts, "px", "py", cw, "verts", 8L).collect())
    assert((e1.getMessage + Option(e1.getCause).map(_.getMessage).getOrElse(""))
      .contains("not convex counter-clockwise"))
    val degenerate = Seq((1L, Seq(V(0L, 0L), V(10L, 10L)))).toDF("rid", "verts")
    val e2 = intercept[Exception](SpatialJoin.pointInConvexPoly(
      pts, "px", "py", degenerate, "verts", 8L).collect())
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse(""))
      .contains("fewer than 3"))
  }

  test("pointInConvexPoly: fractional point coordinates are refused by column name") {
    val tri = Seq((1L, Seq(V(0L, 0L), V(10L, 0L), V(0L, 10L)))).toDF("rid", "verts")
    // (5, 5.5) lies outside; truncated to (5, 5) it would sit on the
    // hypotenuse and match. A whole 2.0 is refused by type all the same.
    val frac = Seq((1L, 5L, 5.5), (2L, 1L, 2.0)).toDF("pid", "px", "qy")
    val e = intercept[IllegalArgumentException](
      SpatialJoin.pointInConvexPoly(frac, "px", "qy", tri, "verts", 8L))
    assert(e.getMessage.contains("`qy`") && e.getMessage.contains("DoubleType"), e.getMessage)
    val dec = Seq((1L, BigDecimal("4.5"), 4L)).toDF("pid", "dx", "py")
    val e2 = intercept[IllegalArgumentException](
      SpatialJoin.pointInConvexPoly(dec, "dx", "py", tri, "verts", 8L))
    assert(e2.getMessage.contains("`dx`"), e2.getMessage)
    // int (not only long) coordinates still join
    val ints = Seq((1, 2, 2), (2, 20, 20)).toDF("pid", "px", "py")
    assert(SpatialJoin.pointInConvexPoly(ints, "px", "py", tri, "verts", 8L)
      .select("pid").as[Int].collect().toSeq == Seq(1))
  }

  test("saltBuckets: hot-cell fixture — identical results, balanced shuffle") {
    // Manhattan fixture (VERDICT r12 item 4): 90% of points in ONE grid
    // cell. Unsalted, the (cx, cy) shuffle puts all of them in one
    // partition no matter the cluster size; salted, they spread.
    val rnd = new scala.util.Random(47)
    val pts = (1L to 5000L).map { i =>
      if (i <= 4500L) (i, (rnd.nextInt(100)).toLong, (rnd.nextInt(100)).toLong)
      else (i, (rnd.nextInt(10000)).toLong, (rnd.nextInt(10000)).toLong)
    }
    val ptsDf = pts.toDF("pid", "px", "py")
    val rects = Seq(
      (1L, 0L, 0L, 99L, 99L),      // covers the hot cell
      (2L, 4000L, 4000L, 6000L, 6000L)).toDF("rid", "xlo", "ylo", "xhi", "yhi")
    val cs = 100L
    val unsalted = SpatialJoin.pointInRect(ptsDf, "px", "py",
        rects, "xlo", "ylo", "xhi", "yhi", cellSize = cs)
      .select("pid", "rid").as[(Long, Long)].collect().toSeq.sorted
    val salted = SpatialJoin.pointInRect(ptsDf, "px", "py",
        rects, "xlo", "ylo", "xhi", "yhi", cellSize = cs, saltBuckets = 16)
      .select("pid", "rid").as[(Long, Long)].collect().toSeq.sorted
    assert(salted == unsalted, s"${salted.size} vs ${unsalted.size}")
    assert(unsalted.count(_._2 == 1L) >= 4500L) // the fixture IS hot

    // shuffle balance, measured with the join's own partitioning
    // function: rows land in pmod(hash(join keys), 32) — the exact
    // hashpartitioning expression the exchange uses. Unsalted, the hot
    // cell's 90% rides one task; with 16 salts no task holds more than
    // a few times the uniform share.
    import org.apache.spark.sql.functions.{floor, hash, lit, pmod, max => smax}
    def cellOf(c: org.apache.spark.sql.Column) =
      floor(c / lit(cs.toDouble)).cast("long")
    val keyed = ptsDf
      .withColumn("__cx", cellOf(col("px"))).withColumn("__cy", cellOf(col("py")))
    val unsaltedMax = keyed
      .withColumn("__part", pmod(hash(col("__cx"), col("__cy")), lit(32)))
      .groupBy("__part").count().agg(smax("count")).as[Long].head
    val saltedMax = keyed
      .withColumn("__salt", pmod(hash(col("pid"), col("px"), col("py")), lit(16)))
      .withColumn("__part", pmod(hash(col("__cx"), col("__cy"), col("__salt")), lit(32)))
      .groupBy("__part").count().agg(smax("count")).as[Long].head
    assert(unsaltedMax >= 4500L, s"fixture must be skewed, max=$unsaltedMax")
    // 5000 rows / 32 partitions ≈ 156 uniform; hot cell contributes
    // 4500/16 ≈ 281 per salt — allow collisions headroom, require the
    // biggest task to carry well under a quarter of the data
    assert(saltedMax < 1250L, s"salted shuffle still skewed, max=$saltedMax")

    // the salted plan stays an equi-join — salting must never degrade
    // the candidate generation to a cross product
    val p = SpatialJoin.pointInRect(ptsDf, "px", "py",
        rects, "xlo", "ylo", "xhi", "yhi", cs, saltBuckets = 16)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salted candidates must come from the cell+salt equi-join:\n$p")
  }

  test("the plan is an equi-join on cells — never a cross product") {
    val pts = Seq((1L, 5L, 5L)).toDF("pid", "px", "py")
    val rects = Seq((1L, 0L, 0L, 10L, 10L)).toDF("rid", "xlo", "ylo", "xhi", "yhi")
    val p = SpatialJoin.pointInRect(pts, "px", "py",
        rects, "xlo", "ylo", "xhi", "yhi", 10L)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the cell equi-join:\n$p")
  }
}
