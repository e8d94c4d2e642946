package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — refresh a keyed aggregate from a
  * change data feed instead of rescanning the base table (SURVEY.md
  * §2.11 scale extension; no reference analog — the reference's only
  * state is the last-value table itself).
  *
  * The 100 TB argument: a grouped sum/count over the full base table is
  * a full scan + shuffle per refresh. With a CDF
  * ([[Snapshot.changeDataFeed]] or a TxTable version diff), the refresh
  * cost is O(|changes|) + one key-partitioned merge join against the
  * (much smaller) aggregate state: inserts/post-images contribute +value,
  * deletes/pre-images −value — sum and count are abelian-group
  * aggregates, so signed deltas compose exactly. Groups whose count
  * reaches zero leave the state. Avg/derived ratios come from the
  * maintained (sum, count) pair; non-invertible aggregates (min/max
  * under deletes) need a rescan of the affected groups and are out of
  * scope by design — document, don't pretend.
  *
  * Join views maintain through ONE refresher, [[refreshJoinSumCount]]:
  * the view is the inner term set (one signed feed per term, the
  * multilinear telescoping) plus, for outer joins, the left-anti and
  * right-anti term sets — all folded through the same sign algebra into
  * the same null-safe state merge.
  *
  * EXACTNESS requires an order-insensitive value domain: integer or
  * DECIMAL sums are exact under any grouping/merge order, so the
  * maintained state is bit-identical to a from-scratch recompute (q185's
  * oracle proves this cross-engine). Floating-point sums are NOT —
  * maintain decimals, not doubles.
  */
object IncrementalAgg {

  /** Signed per-group deltas from a CDF: for each group, `d_cnt` =
    * Σ sign and `d_sum_<c>` = Σ sign·c, where sign is +1 for
    * insert/update_postimage and −1 for delete/update_preimage rows.
    * The aggregation is map-side partial — the shuffle carries one row
    * per AFFECTED group, never per change row.
    */
  def sumCountDeltas(
      cdf: DataFrame,
      groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    val sign = when(col("change_type").isin("insert", "update_postimage"), 1L)
      .when(col("change_type").isin("delete", "update_preimage"), -1L)
    // an unknown change_type must fail loudly, not silently drop weight
    val checked = cdf.withColumn("__sign",
      coalesce(sign, raise_error(concat(lit("unknown change_type: "),
        col("change_type")))))
    checked.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__sign")).as("d_cnt"),
        sumCols.map(c => sum(col(c) * col("__sign")).as(s"d_sum_$c")): _*)
  }

  /** Merge signed deltas into the previous aggregate state.
    *
    * @param prevAgg previous state: groupCols ++ (cntCol, sum columns) —
    *                the schema [[sumCountDeltas]] maintains
    * @param deltas  output of [[sumCountDeltas]] over the CDF
    * @return the refreshed state: same columns as `prevAgg`; groups with
    *         zero remaining rows are dropped, brand-new groups appear.
    *
    * The state rides along as one more delta row per group and one
    * re-aggregation merges them. GROUP BY puts every NULL key in one
    * group, so a NULL group meets its own delta (a using-join never
    * matches NULL to NULL and would split it in two). When both inputs
    * arrive hash-partitioned on the group key (an aggregate's output),
    * the merge adds no exchange.
    */
  def applySumCount(
      prevAgg: DataFrame,
      deltas: DataFrame,
      groupCols: Seq[String],
      cntCol: String,
      sumCols: Seq[String]): DataFrame = {
    val state = prevAgg.select(groupCols.map(col) ++ (col(cntCol).as("d_cnt") +:
      sumCols.map(c => col(c).as(s"d_sum_$c"))): _*)
    state.unionByName(deltas.select(state.columns.toSeq.map(col): _*))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("d_cnt")).as(cntCol),
        sumCols.map(c => coalesce(sum(col(s"d_sum_$c")), lit(0)).as(c)): _*)
      .filter(col(cntCol) > 0)
  }

  /** One-call refresh: state' = apply(state, deltas(cdf)). */
  def refreshSumCount(
      prevAgg: DataFrame,
      cdf: DataFrame,
      groupCols: Seq[String],
      cntCol: String,
      sumCols: Seq[String]): DataFrame =
    applySumCount(prevAgg, sumCountDeltas(cdf, groupCols, sumCols),
      groupCols, cntCol, sumCols)

  /** Second-moment (variance) maintenance — the degenerate-easy member
    * of the family: (count, Σv, Σv²) are all abelian-group
    * aggregates, so variance maintains exactly like sum/count with a
    * derived squared column — no rescan set, no support table. The
    * prevAgg must carry `cntCol`, `valCol` (= Σv) and `<valCol>_sq`
    * (= Σv²). Exactness needs an integer/decimal value domain, as
    * everywhere in this family; derive the float variance at
    * PRESENTATION time via [[popVariance]], never maintain it.
    */
  def refreshMoments(
      prevAgg: DataFrame,
      cdf: DataFrame,
      groupCols: Seq[String],
      cntCol: String,
      valCol: String): DataFrame = {
    val withSq = cdf.withColumn(s"${valCol}_sq", col(valCol) * col(valCol))
    refreshSumCount(prevAgg, withSq, groupCols, cntCol,
      Seq(valCol, s"${valCol}_sq"))
  }

  /** Population variance from maintained (count, Σv, Σv²): the integer
    * numerator n·Σv² − (Σv)² computes EXACTLY, then one IEEE division —
    * the same expression tree an oracle replays bit-identically
    * (Welford-style running floats would drift engine-by-engine).
    */
  def popVariance(cnt: Column, s: Column, s2: Column): Column =
    (s2 * cnt - s * s).cast("double") / (cnt * cnt).cast("double")

  /** The groups whose min/max CANNOT be maintained from the feed alone
    * and need a rescan: min/max are not invertible under deletion, so a
    * group re-derives iff the feed removes weight AT an extremum —
    * a delete/update_preimage row with value ≤ the maintained min or ≥
    * the maintained max (ties included: the removed row may have BEEN
    * the extremum's last copy) — or the feed touches a group the state
    * does not know. Deletions strictly inside the (min, max) interval
    * cannot move either end and stay feed-only. Exposed separately so
    * callers (and the spec) can audit that a refresh rescans O(affected
    * groups), not the table.
    */
  def minMaxRescanKeys(
      prevAgg: DataFrame,
      cdf: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      mnCol: String = "mn",
      mxCol: String = "mx"): DataFrame = {
    val removed = cdf
      .filter(col("change_type").isin("delete", "update_preimage"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(valCol)).as("__rmn"), max(col(valCol)).as("__rmx"))
    removed.join(prevAgg.select((groupCols.map(col) :+
        col(mnCol).as("__mn") :+ col(mxCol).as("__mx")): _*),
        groupCols, "left")
      .filter(col("__mn").isNull ||
        col("__rmn") <= col("__mn") || col("__rmx") >= col("__mx"))
      .select(groupCols.map(col): _*)
  }

  /** Maintain per-group min/max from a change data feed, rescanning
    * ONLY the groups a deletion at an extremum invalidates
    * ([[minMaxRescanKeys]]); every other group merges monotonically
    * (insert/update-postimage values can only tighten an extremum
    * outward: min' = least(min, batch min), max' = greatest).
    *
    * @param newBase the POST-change base relation (e.g. the table's new
    *                merged view, or the CDF-maintained replica): rescans
    *                read the affected groups from here via one semi-join
    *                — partition-/bucket-pruned when the base is laid out
    *                on the group key, so the rescan cost is O(rows of
    *                affected groups), never a table scan.
    * @return groupCols ++ (mnCol, mxCol); groups with no remaining rows
    *         disappear (their rescan finds nothing).
    *
    * Exactness needs an order-insensitive value domain for the COMPARE
    * (any orderable type works — min/max never add), so unlike the
    * sum path even doubles are safe here.
    */
  def refreshMinMax(
      prevAgg: DataFrame,
      cdf: DataFrame,
      newBase: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      mnCol: String = "mn",
      mxCol: String = "mx"): DataFrame = {
    val rescanKeys = minMaxRescanKeys(prevAgg, cdf, groupCols, valCol,
      mnCol, mxCol)
    val rescanned = newBase.join(rescanKeys, groupCols, "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(valCol)).as(mnCol), max(col(valCol)).as(mxCol))
    val added = cdf
      .filter(col("change_type").isin("insert", "update_postimage"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(valCol)).as("__amn"), max(col(valCol)).as("__amx"))
    val monotonic = prevAgg.join(added, groupCols, "full_outer")
      .join(rescanKeys.withColumn("__r", lit(true)), groupCols, "left")
      .filter(col("__r").isNull)
      .select((groupCols.map(col) :+
        least(col(mnCol), col("__amn")).as(mnCol) :+
        greatest(col(mxCol), col("__amx")).as(mxCol)): _*)
    monotonic.unionByName(rescanned)
  }

  /** The join-view refresher renames each dimension's join key to the
    * fact side's name before the using-join; if that dimension ALREADY
    * has a distinct column named like the fact key, the rename would
    * create duplicate column names and an ambiguous join — fail loudly
    * instead.
    */
  private def requireNoKeyShadow(
      dim: DataFrame, factKey: String, dimKey: String): Unit =
    require(factKey == dimKey || !dim.columns.contains(factKey),
      s"dimension input already carries a column named '$factKey' distinct " +
        s"from its join key '$dimKey' — renaming would create an " +
        "ambiguous duplicate; drop or rename it before the refresh")

  /** One dimension input of [[refreshJoinSumCount]]: its change feed,
    * its PRE-change snapshot (joined in terms for feeds LATER in the
    * chain, and read by the anti terms), its POST-change snapshot (terms
    * for earlier feeds), and the fact-side/dim-side equi-join columns.
    * For a snowflake chain, `factKey` may name a column PRODUCED by the
    * previous dimension's join (e.g. customer supplies `nationkey` for
    * the nation dim) — terms join in chain order, so it is in scope.
    */
  final case class DimFeed(
      cdf: DataFrame,
      oldDim: DataFrame,
      newDim: DataFrame,
      factKey: String,
      dimKey: String)

  /** Maintain a JOIN-aggregate view V = γ(F ⋈ D₁ ⋈ … ⋈ Dₙ) — or, with
    * one dimension D, γ(F ⟕ D), γ(F ⟖ D), γ(F ⟗ D) — from the change
    * feeds of the fact AND every dimension, never re-joining the full
    * inputs. The view is a sum of term groups, each telescoped over
    * signed multisets (F′ = F + ΔF, D′ = D + ΔD):
    *
    * INNER (every join type; any chain length). Joins are multilinear,
    * so the update telescopes, one signed feed per term:
    *
    *   ΔF ⋈ D₁′ ⋈ … ⋈ Dₙ′                 (all NEW dims)
    *   + F ⋈ ΔD₁ ⋈ D₂′ ⋈ … ⋈ Dₙ′          (OLD before, NEW after)
    *   + …
    *   + F ⋈ D₁ ⋈ … ⋈ Dₙ₋₁ ⋈ ΔDₙ
    *
    * — with one dimension, the ΔF ⋈ D′ + F ⋈ ΔD bracketing (the ΔF ⋈ ΔD
    * cross term is absorbed by pairing ΔF with the NEW and ΔD with the
    * OLD other side, so signs never multiply).
    *
    * LEFT-ANTI (`left`, `full`): F rows whose key has no D match, with
    * D-sourced group columns null-padded. A = F·z (z = 1 iff the key has
    * ZERO matches) telescopes as ΔA = ΔF·z′ + F·Δz: ΔF anti-joined
    * against D′'s keys, plus OLD F rows of keys whose emptiness FLIPPED —
    * a key D′ dropped re-enters (+), a key D′ introduced leaves (−). A
    * NULL fact key never matches (SQL semantics) and stays anti.
    *
    * RIGHT-ANTI (`right`, `full`): the mirror, ΔD·z_F′ + D·Δz_F over the
    * FACT side's key-emptiness. Its rows carry real D-sourced group
    * values but NULL measures (measures ride F), so they add to the count
    * and nothing to the sums; the state then carries a per-measure
    * NON-NULL counter `<c>_nn` (itself abelian) beside each sum: SQL's
    * sum over an all-null group is NULL where an additive state can only
    * say 0, and `when(col("p_nn") > 0, col("p"))` restores it at
    * presentation. Seed `prevAgg` with `count(col(c)).as(s"${c}_nn")`.
    *
    * Every term folds through the [[sumCountDeltas]] sign algebra into
    * one null-safe [[applySumCount]] — the null-padded group is a
    * first-class group. Group columns may come from any input; sum
    * columns must come from the FACT (a dimension-carried measure
    * multiplies by the join fan-out — refused loudly). Each term reads
    * only the inputs it needs: `newFact` feeds only the right-anti terms,
    * a dimension's `oldDim` only later-dimension and anti terms.
    *
    * Scale posture: O(|Δ| · fanout) probe work per term + one O(affected
    * groups) state merge — never a scan of the view; the anti terms'
    * key sets are O(distinct keys) of the opposite side (at fact-sized
    * sides maintain that key support with [[refreshSupport]] instead).
    * Exactness needs the [[refreshSumCount]] integer/DECIMAL domain.
    *
    * @param factCdf   change feed of the fact: change_type + join key +
    *                  the fact-side group/sum columns
    * @param oldFact   PRE-change fact snapshot (F)
    * @param newFact   POST-change fact snapshot (F′)
    * @param joinType  `inner` (any number of dimensions), or `left`,
    *                  `right`, `full` (exactly one)
    * @return the refreshed state, [[applySumCount]] semantics: emptied
    *         groups leave, brand-new groups appear.
    */
  def refreshJoinSumCount(
      prevAgg: DataFrame,
      factCdf: DataFrame,
      oldFact: DataFrame,
      newFact: DataFrame,
      dims: Seq[DimFeed],
      joinType: String,
      groupCols: Seq[String],
      cntCol: String,
      sumCols: Seq[String]): DataFrame = {
    val (leftAnti, rightAnti) = joinType match {
      case "inner" => (false, false)
      case "left" => (true, false)
      case "right" => (false, true)
      case "full" => (true, true)
      case other => throw new IllegalArgumentException(
        s"join type must be inner, left, right or full, got '$other'")
    }
    require(dims.nonEmpty, "refreshJoinSumCount needs at least one dimension" +
      " — for zero dims use refreshSumCount directly")
    require(joinType == "inner" || dims.size == 1,
      s"a $joinType join view takes exactly one dimension, got ${dims.size}")
    require((oldFact +: newFact +: dims.flatMap(d => Seq(d.oldDim, d.newDim)))
        .forall(!_.columns.contains("change_type")),
      "snapshot inputs must not carry a change_type column — it would " +
        "shadow the feed's sign and silently corrupt the delta algebra")
    dims.foreach { d =>
      Seq(d.cdf, d.oldDim, d.newDim)
        .foreach(requireNoKeyShadow(_, d.factKey, d.dimKey))
    }
    val dimMeasures = sumCols.filterNot(oldFact.columns.contains)
    require(dimMeasures.isEmpty,
      s"sum column(s) ${dimMeasures.mkString(", ")} are not fact columns — " +
        "a dimension-carried measure multiplies by the join fan-out; " +
        "aggregate it in its own view instead")
    def dimSide(side: DataFrame, d: DimFeed) = side.withColumnRenamed(d.dimKey, d.factKey)
    val proj = (groupCols ++ sumCols :+ "change_type").map(col)
    // inner: the fact feed against every NEW dimension, then per dim i
    // the old fact with dims joined IN CHAIN ORDER as old (< i), the
    // feed (= i), new (> i) — chain order keeps snowflake keys in scope
    val tFact = dims.foldLeft(factCdf) { (b, d) =>
      b.join(dimSide(d.newDim, d), Seq(d.factKey))
    }.select(proj: _*)
    val tDims = dims.indices.map { i =>
      dims.zipWithIndex.foldLeft(oldFact) { case (b, (d, j)) =>
        val side = if (j < i) d.oldDim else if (j == i) d.cdf else d.newDim
        b.join(dimSide(side, d), Seq(d.factKey))
      }.select(proj: _*)
    }
    // anti terms (one dimension): rows of one side whose key has no match
    // on the other, the columns they lack null-padded
    val dim = dims.head
    val key = dim.factKey
    val types = (oldFact.schema ++ dim.newDim.schema).map(f => f.name -> f.dataType).toMap
    def padded(rows: DataFrame) = rows.select((groupCols ++ sumCols).map(c =>
      if (rows.columns.contains(c)) col(c) else lit(null).cast(types(c)).as(c)) :+
      col("change_type"): _*)
    def keys(side: DataFrame) = side.select(col(key)).distinct()
    // ΔA = Δside·z′ + side·Δz over the other side's key-emptiness
    def antiTerms(feed: DataFrame, old: DataFrame, otherOld: DataFrame,
        otherNew: DataFrame): Seq[DataFrame] = {
      val (was, now) = (keys(otherOld), keys(otherNew))
      val died = was.join(now, Seq(key), "left_anti").withColumn("change_type", lit("insert"))
      val born = now.join(was, Seq(key), "left_anti").withColumn("change_type", lit("delete"))
      Seq(feed.join(now, Seq(key), "left_anti"),
        old.join(died.unionByName(born), Seq(key))).map(padded)
    }
    val terms = (tFact +: tDims) ++
      (if (leftAnti) antiTerms(factCdf, oldFact, dimSide(dim.oldDim, dim),
        dimSide(dim.newDim, dim)) else Nil) ++
      (if (rightAnti) antiTerms(dimSide(dim.cdf, dim), dimSide(dim.oldDim, dim),
        oldFact, newFact) else Nil)
    // right-anti rows carry NULL measures: the per-measure non-null
    // counters ride the same sign algebra
    val nn = if (rightAnti) sumCols.map(c => s"${c}_nn") else Nil
    val withNn = sumCols.zip(nn).foldLeft(terms.reduce(_ unionByName _)) {
      case (d, (c, n)) => d.withColumn(n, when(col(c).isNotNull, 1L).otherwise(0L))
    }
    refreshSumCount(prevAgg, withNn, groupCols, cntCol, sumCols ++ nn)
  }

  /** Signed per-(group, value) SUPPORT deltas from a CDF — the classic
    * counting algorithm that makes COUNT(DISTINCT) incrementally
    * maintainable: distinct-count itself is not invertible (a delete may
    * or may not remove the value's last copy), but the support table
    * (group, value) -> multiplicity IS an abelian-group state, and
    * n_distinct = the number of support rows per group. Map-side partial;
    * the shuffle carries one row per affected (group, value), never per
    * change row.
    */
  def supportDeltas(
      cdf: DataFrame,
      groupCols: Seq[String],
      valCol: String): DataFrame = {
    val sign = when(col("change_type").isin("insert", "update_postimage"), 1L)
      .when(col("change_type").isin("delete", "update_preimage"), -1L)
    val checked = cdf.withColumn("__sign",
      coalesce(sign, raise_error(concat(lit("unknown change_type: "),
        col("change_type")))))
    checked.groupBy((groupCols :+ valCol).map(col): _*)
      .agg(sum(col("__sign")).as("d_sup"))
  }

  /** Merge support deltas into the previous support table. Values whose
    * multiplicity reaches zero leave the state; a multiplicity that
    * would go NEGATIVE fails loudly — the feed deleted a row the state
    * never held, so state and feed have diverged and every downstream
    * distinct-count would silently lie. One full-outer equi-join on
    * (group, value) — co-located for free when the state is bucketed by
    * the group key. State size is O(distinct (group, value)) — the
    * irreducible memory of EXACT distinct maintenance; use the HLL
    * sketches (q26/q123) when approximate is acceptable at 100 TB.
    */
  def refreshSupport(
      prevSupport: DataFrame,
      cdf: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      supCol: String = "support"): DataFrame = {
    // the applySumCount merge: the state rides as one more delta row, and
    // GROUP BY keeps a NULL group or value one key
    val keys = (groupCols :+ valCol).map(col)
    val merged = prevSupport.select(keys :+ col(supCol).as("d_sup"): _*)
      .unionByName(supportDeltas(cdf, groupCols, valCol))
      .groupBy(keys: _*)
      .agg(sum(col("d_sup")).as(supCol))
    merged
      .withColumn(supCol,
        when(col(supCol) < 0, raise_error(concat(
          lit(s"negative support in $supCol: CDF deleted a row the state " +
            "never held for value "), col(valCol).cast("string"))))
          .otherwise(col(supCol)))
      .filter(col(supCol) > 0)
  }

  /** Derive the per-group aggregate view from a support table:
    * n_distinct = support rows, n_rows = Σ multiplicity. */
  def distinctFromSupport(
      support: DataFrame,
      groupCols: Seq[String],
      supCol: String = "support",
      ndCol: String = "n_distinct",
      rowsCol: String = "n_rows"): DataFrame =
    support.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as(ndCol), sum(col(supCol)).as(rowsCol))

  /** The groups whose maintained top-k (largest values, multiset
    * semantics) CANNOT be repaired from the feed alone: a
    * delete/update_preimage at or above the maintained k-th value may
    * remove a top-k member (ties included — the removed row may be a
    * duplicate of the cut value), a group the state does not know has
    * no baseline, and a state holding fewer than k values has EVERY
    * row in its top-k. Deletions strictly below the cut cannot enter
    * the top-k and stay feed-only — the [[minMaxRescanKeys]] argument,
    * generalized from k = 1.
    */
  def topKRescanKeys(
      prevAgg: DataFrame,
      cdf: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      k: Int,
      tkCol: String = "topk"): DataFrame = {
    val removed = cdf
      .filter(col("change_type").isin("delete", "update_preimage"))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col(valCol)).as("__rmx"))
    removed.join(prevAgg.select((groupCols.map(col) :+
        col(tkCol).as("__tk")): _*), groupCols, "left")
      .filter(col("__tk").isNull || size(col("__tk")) < k ||
        col("__rmx") >= element_at(col("__tk"), k))
      .select(groupCols.map(col): _*)
  }

  /** Maintain the per-group top-k largest `valCol` values (a sorted-
    * descending array, multiset semantics) from a change data feed,
    * rescanning ONLY the groups a deletion at the cut invalidates
    * ([[topKRescanKeys]]); every other group merges monotonically —
    * the batch's own top-k unions into the maintained array and the
    * merge re-cuts at k. Both the per-batch and the rescan top-k cuts
    * go through a row_number window (never a whole-group collect), so
    * executor memory stays O(k) and the rescan cost is O(rows of
    * affected groups). Any orderable value type works — top-k never
    * adds, exactly like min/max.
    *
    * @param newBase the POST-change base relation (rescans read the
    *                affected groups from here via one semi-join)
    * @return groupCols ++ tkCol (ARRAY, length ≤ k, sorted descending);
    *         emptied groups disappear (their rescan finds nothing).
    */
  def refreshTopK(
      prevAgg: DataFrame,
      cdf: DataFrame,
      newBase: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      k: Int,
      tkCol: String = "topk"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    def topkOf(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col(valCol).desc)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .groupBy(groupCols.map(col): _*)
        .agg(slice(sort_array(collect_list(col(valCol)), asc = false),
          1, k).as(tkCol))
    }
    val rescanKeys = topKRescanKeys(prevAgg, cdf, groupCols, valCol, k, tkCol)
    val rescanned = topkOf(newBase.join(rescanKeys, groupCols, "left_semi"))
    val added = topkOf(cdf
        .filter(col("change_type").isin("insert", "update_postimage")))
      .withColumnRenamed(tkCol, "__add")
    val empty = array().cast(prevAgg.schema(tkCol).dataType)
    val monotonic = prevAgg.join(added, groupCols, "full_outer")
      .join(rescanKeys.withColumn("__r", lit(true)), groupCols, "left")
      .filter(col("__r").isNull)
      .select((groupCols.map(col) :+
        slice(sort_array(concat(coalesce(col(tkCol), empty),
          coalesce(col("__add"), empty)), asc = false), 1, k).as(tkCol)): _*)
    monotonic.unionByName(rescanned)
  }
}
