package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: Z-order (Morton) clustering for multi-dimension
  * data skipping — the Delta/Iceberg `OPTIMIZE ZORDER BY` idea, expressed
  * with plain Spark primitives. Interleaving the bits of two key columns
  * gives a 1-D sort order under which ranges of BOTH columns are spatially
  * clustered, so per-file min/max statistics prune files for predicates on
  * either column (a single-column sort clusters one dimension perfectly
  * and leaves the other scattered across every file).
  *
  * 100 TB posture: the z-value is a pure codegen'd column expression (bit
  * shifts/ors — no UDF), and the layout write is one
  * `repartitionByRange(z)` (range-exchange with sampled bounds) +
  * `sortWithinPartitions` — exactly one shuffle, no global sort barrier.
  * Pairs with `TxTable` per-file column stats: write z-ordered, commit
  * with stats, and point/range reads on either dimension skip most files.
  */
object Layout {

  /** Morton interleave of the low 16 bits of two non-negative integral
    * columns: bit i of x lands at position 2i, bit i of y at 2i+1. Pure
    * bitwise Column arithmetic (codegen'd, no carries — terms combine with
    * OR).
    */
  def zorder16(x: Column, y: Column): Column = {
    val xm = x.cast("long").bitwiseAND(lit(0xFFFFL))
    val ym = y.cast("long").bitwiseAND(lit(0xFFFFL))
    (0 until 16)
      .map { i =>
        shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
      }
      .reduce(_ bitwiseOR _)
  }

  /** DuckDB-SQL twin of [[zorder16]] (identical bit arithmetic), for
    * oracle pairing. `x`/`y` are SQL expressions of integral type.
    */
  def zorder16Sql(x: String, y: String): String = {
    val terms = (0 until 16).map { i =>
      s"(((((($x)::BIGINT & 65535) >> $i) & 1) << ${2 * i}) | " +
        s"((((($y)::BIGINT & 65535) >> $i) & 1) << ${2 * i + 1}))"
    }
    terms.mkString("(", " | ", ")")
  }

  // ------------------------------------------------------------ Hilbert

  /** Hilbert-curve distance of the low 16 bits of two non-negative
    * integral columns (the xy2d walk over a 65536² grid) — the
    * locality-tighter alternative to [[zorder16]]: consecutive Hilbert
    * distances are always GRID NEIGHBORS (spec-pinned), so a file
    * holding a contiguous distance range covers one connected blob of
    * (x, y) space with no Morton "seams" (z-order jumps across half the
    * plane at power-of-two boundaries, widening per-file min/max boxes).
    *
    * Implemented as ONE native Catalyst expression
    * ([[graft.functions.Hilbert16Dist]]) whose codegen emits the
    * 16-iteration loop directly — the expression-tree formulations
    * (16 chained projections of CASE ladders, or their branchless
    * multiply-add twin) fused into a whole-stage method too large to
    * execute well (~10 µs/row measured); the loop is ~30 lines of Java
    * and runs at ALU speed. [[hilbert16Sql]] emits the identical
    * arithmetic as nested sub-selects for oracle pairing — same
    * integer values, so CASE-vs-loop cannot diverge.
    */
  def hilbert16(df: DataFrame, xCol: String, yCol: String, outCol: String): DataFrame = {
    df.withColumn(outCol,
      graft.functions.GraftFunctions.hilbert16(
        col(xCol).cast("long"), col(yCol).cast("long")))
  }

  /** Plain-Scala twin of [[hilbert16]] for specs/oracles: the same
    * 16-level walk on one coordinate pair.
    */
  private[graft] def hilbert16Scala(x0: Long, y0: Long): Long = {
    var x = x0 & 0xFFFFL; var y = y0 & 0xFFFFL
    var d = 0L
    var i = 15
    while (i >= 0) {
      val s = 1L << i
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * (3L * rx + ry * (1L - 2L * rx))
      if (ry == 0L) {
        if (rx == 1L) { x = 65535L - x; y = 65535L - y }
        val t = x; x = y; y = t
      }
      i -= 1
    }
    d
  }

  /** DuckDB-SQL twin of [[hilbert16]]: the same walk as 16 NESTED
    * sub-selects over running (hx, hy, hd) columns — linear SQL size,
    * the chained-projection trick in SQL form. `keys` are carried
    * through every level; the innermost level masks `x`/`y`.
    */
  def hilbert16Sql(x: String, y: String, keys: Seq[String], table: String): String = {
    val ks = keys.mkString(", ")
    val inner = s"SELECT $ks, (($x)::BIGINT & 65535) AS hx, " +
      s"(($y)::BIGINT & 65535) AS hy, 0::BIGINT AS hd FROM $table"
    (15 to 0 by -1).foldLeft(inner) { (acc, i) =>
      val s = 1L << i
      val rx = s"(CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
      val refX = s"(CASE WHEN $rx = 1 THEN 65535 - hx ELSE hx END)"
      val refY = s"(CASE WHEN $rx = 1 THEN 65535 - hy ELSE hy END)"
      s"""SELECT $ks,
         |  (CASE WHEN $ry = 0 THEN $refY ELSE hx END) AS hx,
         |  (CASE WHEN $ry = 0 THEN $refX ELSE hy END) AS hy,
         |  hd + ${s * s} * (3 * $rx + $ry * (1 - 2 * $rx)) AS hd
         |FROM ($acc)""".stripMargin
    }
  }
}
