package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed linear algebra over embedding columns — opening with the
  * dominant-direction (top principal component of the uncentered second
  * moment) primitive that "all-but-the-top" embedding post-processing
  * (Mu & Viswanath, ICLR 2018) and anisotropy audits need.
  *
  * EXACTNESS DESIGN — the whole point of this implementation: floating
  * matvecs are summation-order-dependent and can never hash-match
  * across engines, so the pipeline is integer end to end:
  *   1. vectors quantize on the fixed dyadic grid q = floor(x·S + 1/2)
  *      (S a power of two, so x·S is EXACT for float inputs — no
  *      double-rounding; both engines floor the identical double);
  *   2. the second-moment matrix M = Σ q qᵀ is exact integer sums —
  *      order-independent by construction;
  *   3. power iteration stays in integers: w = M·v is an integer
  *      matvec (order-independent), and the rescale that stops
  *      overflow is an ARITHMETIC SHIFT by k = floor(log2 max|w|) − 20
  *      (capping components at ~2²¹) — floor-division by a power of
  *      two, identical in the JVM (>>) and SQL (bin-length for the
  *      log, >> for the shift), so a static SQL unroll replays every
  *      round bit for bit (q273).
  *
  * Scale shape: the matrix build is one narrow double-explode (dim²
  * rows per vector) into a map-side-combined hash aggregate of dim²
  * cells; each round is ONE equi-join (M ⋈ v on j) + one hash
  * aggregate + a 1-row max collect for the shift decision — the
  * driver holds only (round, maxabs), never data. Rounds are
  * lineage-truncated ([[Checkpoints]]). Overflow headroom: |w| ≤
  * dim · max|M| · 2²¹ — for dim 4096 and billion-row corpora that is
  * still < 2⁶³ when S = 64 and inputs are unit-scale (documented,
  * loudly guarded).
  */
object LinearAlgebra {

  /** Integer second-moment matrix of a quantized vector column:
    * (i, j, m) with 1-based indices, m = Σ_rows q_i · q_j.
    *
    * Computed by the per-partition [[graft.functions.GramianAgg]]
    * accumulator: each partition reduces its vectors into ONE dim²
    * integer buffer (a primitive while-loop over the quantized array),
    * so the exchange carries O(partitions) buffers instead of the
    * dim²-rows-per-vector the previous double-`posexplode` form
    * generated — at dim 1024–4096 that explode form emitted 1M–16M
    * codegen rows per input row before the map-side combine.
    * Integer adds are order-insensitive, so the result is cell-for-cell
    * identical to the explode form ([[secondMomentExplode]], kept as the
    * parity witness; GramianParitySpec pins equality).
    */
  def secondMoment(vecs: DataFrame, vecCol: String, quantScale: Int): DataFrame = {
    require(quantScale >= 2 && (quantScale & (quantScale - 1)) == 0,
      s"quantScale must be a power of two (exact float·scale), got $quantScale")
    val gram = udaf(graft.functions.GramianAgg(),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    vecs
      .select(expr(
        s"transform($vecCol, x -> CAST(floor(x * $quantScale + 0.5D) AS BIGINT))")
        .as("__qv"))
      .agg(gram(col("__qv")).as("__g"))
      .select(col("__g.dim").as("__d"), posexplode(col("__g.cells")).as(Seq("__idx", "m")))
      .select((expr("__idx div __d") + 1).cast("long").as("i"),
        (expr("__idx % __d") + 1).cast("long").as("j"), col("m"))
  }

  /** The original double-`posexplode` formulation of [[secondMoment]] —
    * retained as the independent parity witness for the accumulator
    * rewrite (and as the reference semantics for ragged inputs: a cell
    * exists iff some row covers it). Do NOT use on real embedding dims;
    * it materializes dim² rows per vector.
    */
  private[graft] def secondMomentExplode(
      vecs: DataFrame, vecCol: String, quantScale: Int): DataFrame = {
    require(quantScale >= 2 && (quantScale & (quantScale - 1)) == 0,
      s"quantScale must be a power of two (exact float·scale), got $quantScale")
    vecs
      .select(expr(
        s"transform($vecCol, x -> CAST(floor(x * $quantScale + 0.5D) AS BIGINT))")
        .as("__qv"))
      .select(posexplode(col("__qv")).as(Seq("__i0", "qi")), col("__qv"))
      .select(col("__i0"), col("qi"),
        posexplode(col("__qv")).as(Seq("__j0", "qj")))
      .select((col("__i0") + 1).cast("long").as("i"),
        (col("__j0") + 1).cast("long").as("j"),
        (col("qi") * col("qj")).as("__p"))
      .groupBy("i", "j").agg(sum(col("__p")).as("m"))
  }

  /** Dominant direction of the (uncentered) second moment by integer
    * power iteration: returns (i, v) — the 1-based component index and
    * the integer component of the direction estimate after `rounds`
    * matvec+rescale steps from the all-ones·2²⁰ start. The vector's
    * SCALE is arbitrary (direction is the object); its sign is
    * deterministic (fixed start, deterministic arithmetic). Degenerate
    * all-zero iterates fail loudly.
    *
    * Execution shape: the DATA-sized work is exactly one distributed
    * pass (the [[graft.functions.GramianAgg]] aggregate). The iteration
    * itself touches only the dim² Gramian, so for dim ≤ `maxDriverDim`
    * the matrix is collected ONCE as a single flat-array row (dim²
    * longs — 32 KB at dim 64, 32 MB at the 2048 default cap) and the
    * rounds run driver-local: integer matvecs are order-independent, so
    * the result is bit-identical to the distributed loop while paying
    * one Spark job instead of 3 jobs × rounds (measured: the 12-round
    * q274 spent ~70% of its wall in per-round job overhead over a
    * 4096-row table). Above the cap the original lineage-truncated
    * DataFrame loop runs unchanged — the driver never holds more than
    * `maxDriverDim`² longs. Equality of the two paths is pinned in
    * LinearAlgebraSpec.
    */
  def dominantDirection(vecs: DataFrame, vecCol: String,
      rounds: Int = 12, quantScale: Int = 64,
      maxDriverDim: Int = 2048): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1,64], got $rounds")
    require(quantScale >= 2 && (quantScale & (quantScale - 1)) == 0,
      s"quantScale must be a power of two (exact float·scale), got $quantScale")
    val spark = vecs.sparkSession
    // Bounded probe: ask the aggregate for the full Gramian struct but
    // only materialize it on the driver when its dimension is under the
    // cap. The dim itself is cheap to read off the same single-row
    // result that carries the cells, so this costs one job either way;
    // the > cap case falls back before holding the big array.
    val gramAgg = udaf(graft.functions.GramianAgg(),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val gRow = vecs
      .select(expr(
        s"transform($vecCol, x -> CAST(floor(x * $quantScale + 0.5D) AS BIGINT))")
        .as("__qv"))
      .agg(gramAgg(col("__qv")).as("__g"))
      .select(col("__g.dim").as("__d"),
        when(col("__g.dim") <= maxDriverDim, col("__g.cells")).as("__cells"))
      .head()
    val dimI = gRow.getInt(0)
    if (dimI == 0) throw new IllegalArgumentException(
      "dominantDirection: no vectors (empty input)")
    if (dimI <= maxDriverDim) {
      val cells = gRow.getSeq[Long](1).toArray
      val dim = dimI.toLong
      var maxM = 0L
      locally { var c = 0
        while (c < cells.length) {
          val a = math.abs(cells(c)); if (a > maxM) maxM = a; c += 1 } }
      require(maxM > 0, "second moment is identically zero")
      require(dim <= (1L << 20),
        s"dominantDirection: dim=$dim exceeds 2^20 components")
      require(maxM <= Long.MaxValue / (dim * (1L << 22)),
        s"matvec could overflow: dim=$dim, max|M|=$maxM — lower quantScale")
      var v = Array.fill(dimI)(1L << 20)
      var r = 0
      while (r < rounds) {
        val w = new Array[Long](dimI)
        var i = 0
        while (i < dimI) {
          var acc = 0L; var j = 0; val base = i * dimI
          while (j < dimI) { acc += cells(base + j) * v(j); j += 1 }
          w(i) = acc; i += 1
        }
        var maxAbs = 0L
        i = 0
        while (i < dimI) {
          val a = math.abs(w(i)); if (a > maxAbs) maxAbs = a; i += 1 }
        if (maxAbs == 0L) throw new IllegalStateException(
          "power iteration collapsed to the zero vector")
        val k = (63 - java.lang.Long.numberOfLeadingZeros(maxAbs)) - 20
        if (k > 0) { i = 0; while (i < dimI) { w(i) = w(i) >> k; i += 1 } }
        v = w
        r += 1
      }
      import spark.implicits._
      return v.toIndexedSeq.zipWithIndex
        .map { case (x, i) => ((i + 1).toLong, x) }
        .toDF("i", "v")
    }
    dominantDirectionDistributed(vecs, vecCol, rounds, quantScale)
  }

  /** The original DataFrame-loop formulation of [[dominantDirection]] —
    * the > `maxDriverDim` execution path, and the parity witness for the
    * driver-local iteration (LinearAlgebraSpec pins row-for-row
    * equality; both are exact integer arithmetic, so equality is bitwise).
    */
  private[graft] def dominantDirectionDistributed(vecs: DataFrame, vecCol: String,
      rounds: Int = 12, quantScale: Int = 64): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1,64], got $rounds")
    Checkpoints.iterate("dominantDirection", Seq(vecs), rounds) { (loop, in) =>
      val mm = loop.keep(secondMoment(in.head, vecCol, quantScale))
      // overflow headroom check: dim · max|M| · 2^21 must fit a Long
      val hdr = mm.agg(max(abs(col("m"))).as("ma"), max(col("i")).as("dim")).head()
      if (hdr.isNullAt(0)) throw new IllegalArgumentException(
        "dominantDirection: no vectors (empty input)")
      val (maxM, dim) = (hdr.getLong(0), hdr.getLong(1))
      require(maxM > 0, "second moment is identically zero")
      // dim must be bounded BEFORE it multiplies into the divisor below —
      // for dim > 2^41 the product dim·2^22 itself overflows Long and the
      // overflow guard would silently pass
      require(dim <= (1L << 20),
        s"dominantDirection: dim=$dim exceeds 2^20 components")
      require(maxM <= Long.MaxValue / (dim * (1L << 22)),
        s"matvec could overflow: dim=$dim, max|M|=$maxM — lower quantScale")
      (mm.select(col("i")).distinct().withColumn("v", lit(1L << 20)), (v, _) => {
        // broadcast the dim-row vector, never the dim² Gramian: the
        // checkpointed mm keeps its aggregate's small size estimate
        val w = loop.roundLocal(
          mm.join(broadcast(v.select(col("i").as("j"), col("v"))), Seq("j"))
            .groupBy("i").agg(sum(col("m") * col("v")).as("w")))
        val maxAbs = w.agg(max(abs(col("w")))).head().getLong(0)
        if (maxAbs == 0L) throw new IllegalStateException(
          "power iteration collapsed to the zero vector")
        // floor(log2 maxAbs) = 63 - nlz; shift down to ~21-bit components
        val k = (63 - java.lang.Long.numberOfLeadingZeros(maxAbs)) - 20
        if (k > 0) w.select(col("i"), shiftright(col("w"), k).as("v"))
        else w.select(col("i"), col("w").as("v"))
      })
    }
  }
}
