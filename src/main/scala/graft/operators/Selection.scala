package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact distributed order statistics with O(1) executor memory — the
  * 100 TB path for medians/percentiles on groups too large to buffer
  * (SURVEY.md §2.11 scale extension; no reference analog).
  *
  * Spark's `percentile(...)` (q45) materializes every group value in
  * one task's sort buffer — exact, but O(group size) memory: a 10^10-row
  * group OOMs the executor. This finds the EXACT k-th smallest by
  * multiway search over the VALUE DOMAIN instead: each round counts
  * rows ≤ p for ≤ 15 pivots per group in ONE map-side-combined
  * aggregate pass, so a handful of rounds pin the answer — each with
  * O(1) per-task state. The classic selection-by-counting algorithm,
  * shaped for Spark: the input persists once, every round is a
  * broadcast join against the O(#groups × 15) active-pivot table plus
  * one aggregate, and the driver holds only (group, k, lo, hi) — the
  * same bounded-collect contract as the budget/bucket walks
  * ([[Curation.budgetSelect]]).
  *
  * Round count: the FIRST counting round probes quantile-sketch seeds
  * (see below) and typically collapses the bracket to the populated
  * neighborhood of rank k; the remainder is 16-way equi-spaced
  * bisection of whatever value range survives — worst case
  * ⌈log16(range)⌉ rounds total (≤ 16 for any long domain), measured
  * 3–4 on concentrated domains that previously took ~15.
  *
  * Exactness: counting is integer, the domain is integral, ties are
  * irrelevant (the k-th VALUE is unique even when tie ORDER is not) —
  * so results are bit-identical to any engine's order statistic with
  * the same k. The quantile seeds only CHOOSE pivot positions; every
  * bracket move is still certified by an exact count, so a wrong seed
  * costs one round, never a wrong answer.
  */
object Selection {

  /** Sketch-grid resolution for round-1 seeding: 256 equi-spaced
    * fractions queried from ONE `percentile_approx` fused into the
    * stats pass. Grid values are actual data values, so on
    * concentrated domains adjacent grid points bracket rank k within
    * a tiny value gap — the lever that replaces most of the
    * log16(range) bisection ([[graft.operators.TimeSeries
    * .theilSenSelection]]'s regenerated O(n²) stream is the payoff
    * case: each saved round is one full self-join pass).
    */
  private val SeedGrid = 256
  private val SeedFracs: Seq[Double] = (0 to SeedGrid).map(_.toDouble / SeedGrid)

  /** Sketch accuracy (rank error = n/accuracy). MEASURED on q285's
    * regenerated pair stream (sf0.1, 1.3M pairs): accuracy 10000 made
    * the fused stats pass 5× the plain one (QuantileSummaries'
    * compress threshold scales with accuracy), while 1000 was free to
    * within noise. 1000's rank error (0.1% of n) is well under the
    * n/256 grid spacing the seeds target, and the exact counting
    * rounds certify the bracket regardless — sketch error costs
    * rounds, never correctness.
    */
  private val SeedAccuracy = 1000

  /** The exact k-th smallest `valCol` (LongType; 1-based k) per group.
    *
    * @param kOf k for a group of n rows — e.g. lower median
    *            `n => (n + 1) / 2` (the default), upper quartile
    *            `n => (3 * n + 3) / 4`; must be in [1, n].
    * @return (groupCol, n, kth LongType)
    *
    * Driver state and per-round collect are O(#groups) — callers with
    * unbounded group cardinality should aggregate upstream first (the
    * operator recomputes nothing per group; rounds are shared, bounded
    * by log2 of the WIDEST group's value range).
    *
    * @param cache persist the (group, value) projection across rounds
    *              (the default — right when the input is a table worth
    *              one materialization). Pass false when the input is a
    *              DERIVED relation bigger than its sources (e.g. the
    *              O(n²) implicit pair set of [[graft.operators
    *              .TimeSeries.theilSenSelection]]): every round then
    *              recomputes it — pure compute, zero storage footprint.
    * @param seed  probe round 1 at `percentile_approx` grid values
    *              around rank k instead of equi-spaced over [min, max]
    *              (the default; the sketch rides the existing stats
    *              pass, so seeding costs no extra input pass). Pass
    *              false to force pure equi-spaced bisection — kept as
    *              an explicit A/B lever for the round-count regression
    *              pin in SelectionSpec.
    */
  def kthSmallestByGroup(
      df: DataFrame,
      groupCol: String,
      valCol: String,
      kOf: Long => Long = n => (n + 1) / 2,
      cache: Boolean = true,
      seed: Boolean = true): DataFrame =
    kthSmallestByGroupCounted(df, groupCol, valCol, kOf, cache, seed)._1

  /** [[kthSmallestByGroup]] plus the number of counting rounds it ran
    * (full passes over the input AFTER the stats pass) — the measured
    * quantity the seeded-vs-unseeded regression pin asserts on.
    */
  private[graft] def kthSmallestByGroupCounted(
      df: DataFrame,
      groupCol: String,
      valCol: String,
      kOf: Long => Long = n => (n + 1) / 2,
      cache: Boolean = true,
      seed: Boolean = true): (DataFrame, Int) = {
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df
      .filter(col(valCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valCol).cast("long").as("v"))
    val cached = if (cache) projected.persist() else projected
    // size-derived parallelism ([[Checkpoints.sizedLoop]]): each counting
    // round is a broadcast join + partial-agg collect over this input
    Checkpoints.sizedLoop(projected) { loop =>
    val vals = Checkpoints.rebind(loop, cached)
    try {
      // the one stats pass: n / min / max, plus (when seeding) the
      // 256-point quantile sketch — KLL-bounded state per task, and the
      // grid is computed on the SAME pass, so the seed is free in input
      // passes even for uncached derived inputs
      val statsAgg =
        if (seed)
          vals.groupBy("g").agg(
            count(lit(1)).as("n"), min("v").as("lo"), max("v").as("mx"),
            percentile_approx(col("v"),
              array(SeedFracs.map(lit(_)): _*), lit(SeedAccuracy)).as("q"))
        else
          vals.groupBy("g")
            .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("mx"))
      val stats = statsAgg
        .collect() // one row per group — the documented bounded collect
      // state: group -> (k, lo, hi) with the invariant
      //   count(v <= lo - 1) < k  and  count(v <= hi) >= k
      val nOf: Map[String, Long] =
        stats.map(r => r.getString(0) -> r.getLong(1)).toMap
      var state: Map[String, (Long, Long, Long)] = stats.map { r =>
        val n = r.getLong(1)
        val k = kOf(n)
        require(k >= 1 && k <= n,
          s"kOf($n) = $k out of [1, $n] for group '${r.getString(0)}'")
        r.getString(0) -> (k, r.getLong(2), r.getLong(3))
      }.toMap
      // round-1 seed pivots: DISTINCT grid quantiles nearest fraction
      // k/n (grid values ARE data values, so they land in the populated
      // region regardless of how sparse the full [min, max] span is),
      // each paired with its predecessor value s-1. The s-1 probes are
      // what make heavy ties cheap — when the answer value x occupies
      // many ranks (q285: the median slope is exactly 0.0 across many
      // flat pairs), every near-k grid quantile IS x, and without the
      // predecessor probe round 1 could only pin hi = x, leaving a
      // full-domain walk below (measured: 17 rounds, no better than
      // unseeded). Probing x-1 and x together certifies
      // count(≤ x-1) < k ≤ count(≤ x) in ONE round. Sketch rank error
      // and grid spacing only affect how tight round 1 lands — the
      // count-certified bracket update below is correct for ANY probe
      // set.
      val seedsOf: Map[String, Seq[Long]] =
        if (!seed) Map.empty
        else stats.flatMap { r =>
          val g = r.getString(0)
          val n = r.getLong(1)
          val (k, lo, hi) = state(g)
          if (lo >= hi) None
          else {
            val grid = r.getSeq[Long](4)
            val i0 = math.max(0, math.min(grid.length - 1,
              math.round((k.toDouble / n.toDouble) * SeedGrid).toInt))
            // outward scan from i0 for up to 7 distinct values
            val nearby = (0 until grid.length)
              .flatMap(d => Seq(i0 - d, i0 + d))
              .filter(i => i >= 0 && i < grid.length)
              .map(grid(_)).distinct.take(7)
            val ps = nearby
              .flatMap(s => if (s == Long.MinValue) Seq(s) else Seq(s - 1, s))
              .distinct.filter(p => p >= lo && p < hi).take(15)
            if (ps.isEmpty) None else Some(g -> ps)
          }
        }.toMap
      // 16-way search via the JOIN-FANOUT counting pass: each row joins
      // its group's ≤ 15 broadcast pivots, the codegen'd (v <= p) filter
      // + PARTIAL aggregation collapse the fanout map-side — only
      // O(groups × pivots) rows ever cross the exchange. TWO measured
      // anti-lessons pin this shape (interleaved A/B on q285's pair
      // stream, r15):
      //  - a "no-fanout" rewrite (per-row pivot index via an array HOF,
      //    then count per index) was ~2× SLOWER: higher-order functions
      //    evaluate interpreted per element (the q76 lesson, again) —
      //    63 interpreted comparisons per row lose to codegen'd
      //    duplicate rows that never leave the map side;
      //  - widening to 64 pivots to cut rounds (log64 vs log16) was
      //    also ~2× slower: per-round cost here is fanout × rows of
      //    codegen work, so 4.2× per-round work bought only a 1.6×
      //    round reduction. Round count only dominates when the input
      //    is small enough that scheduling outweighs row work — and
      //    then wall-clock is already seconds.
      val nSplit = 16
      var rounds = 0
      var active = state.filter { case (_, (_, lo, hi)) => lo < hi }
      while (active.nonEmpty) {
        // pivot choice: seeded grid values on round 1 (where available),
        // then overflow-proof equi-spaced interior pivots in [lo, hi),
        // floor arithmetic via BigInt (survives lo ~ Long.Min,
        // hi ~ Long.Max); when the range is narrower than the fanout
        // this degenerates to every interior value — exact in one round
        val pivotsOf: Map[String, Seq[Long]] = active.map { case (g, (_, lo, hi)) =>
          val seeded = if (rounds == 0) seedsOf.getOrElse(g, Nil) else Nil
          if (seeded.nonEmpty) g -> seeded
          else {
            val (blo, bhi) = (BigInt(lo), BigInt(hi))
            val span = bhi - blo
            val ps = (1 until nSplit).map { i =>
              (blo + span * i / nSplit).toLong
            }.distinct.filter(p => p >= lo && p < hi)
            g -> (if (ps.isEmpty) Seq(lo) else ps)
          }
        }
        val pivotDf = pivotsOf.toSeq
          .flatMap { case (g, ps) => ps.map(g -> _) }.toDF("g", "p")
        val cnts = vals
          .join(broadcast(pivotDf), "g")
          .filter(col("v") <= col("p"))
          .groupBy("g", "p").agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
          .toMap
        rounds += 1
        state = state.map { case (g, s @ (k, lo, hi)) =>
          if (lo >= hi) g -> s
          else {
            // tightest bracket: hi' = smallest pivot with count ≥ k,
            // lo' = largest pivot with count < k, plus one
            val ps = pivotsOf(g)
            val cOf = (p: Long) => cnts.getOrElse((g, p), 0L)
            val newHi = ps.filter(cOf(_) >= k)
              .reduceOption(_ min _).getOrElse(hi)
            val newLo = ps.filter(cOf(_) < k)
              .reduceOption(_ max _).map(_ + 1).getOrElse(lo)
            g -> (k, newLo, newHi)
          }
        }
        active = state.filter { case (_, (_, lo, hi)) => lo < hi }
      }
      (state.toSeq.map { case (g, (_, lo, _)) => (g, nOf(g), lo) }
        .toDF(groupCol, "n", "kth"), rounds)
    } finally if (cache) { cached.unpersist(blocking = false); () }
    }
  }

  /** Global exact k-th smallest — the single-group fast path. */
  def kthSmallest(df: DataFrame, valCol: String, k: Long): Long = {
    val one = kthSmallestByGroup(
      df.select(lit("_").as("__g"), col(valCol)), "__g", valCol, _ => k)
    one.collect().head.getAs[Long]("kth")
  }
}
