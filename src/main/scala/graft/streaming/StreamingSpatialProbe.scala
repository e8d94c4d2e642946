package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.SpatialJoin

/** STREAMING geofencing — "which region does this event land in?",
  * the fourth member of the stateless stream-probe family beside the
  * MinHash band probe, the IVF cell probe and the winnow probe: a
  * stream of points joins static convex polygons through the SAME
  * grid machinery as the batch [[SpatialJoin.pointInConvexPoly]]
  * (cell equi-join, codegen bbox pre-filter, half-plane exact test).
  *
  * Stateless by construction — every operator is a projection or a
  * stream-static equi-join, so append mode at any rate, no watermark,
  * restart-safe replay. The polygon side (validated, bbox-annotated,
  * cell-exploded) is staged ONCE and persisted for the probe's
  * lifetime: a stream-static join re-evaluates the static subplan
  * every trigger, so without the cache each micro-batch would
  * re-validate and re-explode every region. The handle owns that
  * storage, exactly like the other probes — close() when the region
  * set changes and a new probe replaces this one.
  */
object StreamingSpatialProbe {

  /** Probe streaming `points` against static convex `polys` — same
    * arguments and semantics as [[SpatialJoin.pointInConvexPoly]].
    */
  def pointsInPolygons(
      points: DataFrame, px: String, py: String,
      polys: DataFrame, vertsCol: String,
      cellSize: Long,
      maxCellsPerPoly: Long = 100000L): Probe = {
    val cells = SpatialJoin
      .stagePolyCells(polys, vertsCol, cellSize, maxCellsPerPoly)
      .persist()
    new Probe(
      SpatialJoin.probePolyCells(points, px, py, cells, vertsCol, cellSize),
      Seq(cells))
  }
}
