package graft

/** Plan-shape audit over the real query inventory: the physical-plan
  * properties that make each query survive a 100× scale-up, asserted on
  * the plan string so a regression fails loudly instead of silently
  * degrading into extra shuffles or nested loops.
  *
  * These run at sf0.001 but assert SHAPE, not timing — the shapes are
  * scale-invariant (explicit broadcast hints, pushed filters, partial
  * aggregation, bucketed-equi rewrites are all decided before data volume
  * matters).
  */
class PlanAuditSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  // formatted mode: scan details (PushedFilters / ReadSchema) are printed
  // in full; the tree-mode toString elides them mid-list
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q01: shipdate filter is pushed to the parquet scan; map-side combine") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter must reach the scan:\n$p")
    assert(p.contains("partial_sum"), s"expected partial aggregation below the exchange:\n$p")
  }

  test("q02: predicate AND projection both reach the scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_discount"),
      s"filters must reach the scan:\n$p")
    // pruned read schema: none of the untouched lineitem columns are read
    assert(!p.contains("l_comment") && !p.contains("l_returnflag"),
      s"scan must prune unused columns:\n$p")
  }

  test("q04: every dim join is a broadcast join; the fact table is never shuffled pre-agg") {
    val p = plan("q04_star_broadcast")
    // formatted mode lists each operator in the tree AND a detail section:
    // 3 joins appear ≥ 3 times; the exact operator set is pinned by the
    // no-SortMergeJoin assert below
    assert(p.split("BroadcastHashJoin").length - 1 >= 3,
      s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge join for dims:\n$p")
  }

  test("q12: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = plan("q12_global_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q29: last-value-per-key shuffles partial max_by aggregates, no window sort") {
    val p = plan("q29_last_per_key")
    assert(p.contains("partial_max_by"),
      s"shuffle must carry one row per key per partition:\n$p")
    assert(!p.contains("Window"), s"no window sort of the full input:\n$p")
  }

  test("q34: the MinHash-LSH pipeline contains no cartesian or nested-loop join") {
    val p = plan("q34_minhash_lsh_pairs")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$p")
  }

  test("q192: SemDeDup pairs come from a cell equi-join, never all-pairs") {
    val p = plan("q192_semdedup_pairs")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$p")
  }

  test("q49: the range join is a bucketed equi-join, not a nested loop") {
    val p = plan("q49_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must rewrite to an equi-join:\n$p")
  }

  test("q40: brute-force ANN broadcasts the query side; corpus scans once unshuffled") {
    val p = plan("q40_ann_topk")
    // the only join is corpus × broadcast(queries) — a broadcast join with
    // the non-equi self-exclusion condition; the corpus is never exchanged
    // before scoring
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle to join:\n$p")
    // top-k must be the partial-aggregating TopKNeighbors aggregate, not a
    // per-query window: a window pins each query's full corpus score
    // stream in ONE task and moves all of it through the exchange
    assert(!p.contains("Window"), s"no single-partition-per-query window:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topkneighbors"),
      s"top-k must partial-aggregate map-side:\n$p")
  }

  test("q61: the scalar subquery is a one-row broadcast, not a per-row re-execution") {
    val p = plan("q61_scalar_subquery")
    assert(p.contains("Subquery") || p.contains("ReusedSubquery"),
      s"scalar subquery must plan as a subquery node evaluated once:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q62: EXISTS/NOT EXISTS rewrite to semi and anti hash joins") {
    val p = plan("q62_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS must become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no per-row subquery loop:\n$p")
  }

  test("q66: deterministic sampling is a pure filter — no shuffle before the aggregation") {
    val p = plan("q66_hash_sample")
    // exactly one hash exchange (the group-by; ORDER BY range-partitions).
    // The sample membership test itself must not repartition anything.
    assert(p.split("Arguments: hashpartitioning").length - 1 == 1,
      s"sampling must not add exchanges:\n$p")
  }

  test("q70: the corpus-size side of TF-IDF is a broadcast, the tf join partial-aggregates") {
    val p = plan("q70_tfidf")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the one-row corpus count must broadcast:\n$p")
    assert(p.contains("partial_count"), s"tf/df must partial-aggregate:\n$p")
  }

  test("q74: the per-type stats join broadcasts the tiny stats side") {
    val p = plan("q74_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), s"stats side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"events must not shuffle to join stats:\n$p")
  }

  test("q73: the interpolation window stack shares one exchange and one sort") {
    val p = plan("q73_interpolate")
    // ascending last() frames + descending-anchored first() frames share
    // one partitionBy/orderBy: Spark may stack several Window operators,
    // but no Exchange or Sort is allowed BETWEEN them — the whole stack
    // runs off a single per-key sort.
    val ops = """\(\d+\) (\w+)""".r.findAllMatchIn(p).map(_.group(1)).toSeq
    val first = ops.indexOf("Window"); val last = ops.lastIndexOf("Window")
    assert(first >= 0, s"expected window operators:\n$p")
    val between = ops.slice(first + 1, last)
    assert(!between.exists(o => o == "Exchange" || o == "Sort"),
      s"window stack must not re-sort or re-shuffle between frames ($ops):\n$p")
  }

  test("q76/q78: blocked pair generation is an equi-join on block attributes") {
    Seq("q76_ngram_jaccard", "q78_containment").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: block join must stay an equi-join:\n$p")
    }
  }

  test("q83: packing aggregates partially after the sharded cumsum window") {
    val p = plan("q83_sequence_packing")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the per-sequence roll-up must partial-aggregate:\n$p")
    // window partitions by shard, never globally
    assert(!p.contains("No Partition Defined"), s"cumsum must be sharded:\n$p")
  }

  test("q85: all four analytic functions share one window sort") {
    val p = plan("q85_window_extras")
    val ops = """\(\d+\) (\w+)""".r.findAllMatchIn(p).map(_.group(1)).toSeq
    val first = ops.indexOf("Window"); val last = ops.lastIndexOf("Window")
    assert(first >= 0, s"expected window operators:\n$p")
    assert(!ops.slice(first + 1, last).exists(o => o == "Exchange" || o == "Sort"),
      s"window stack must not re-sort between functions ($ops):\n$p")
  }

  test("q86: deletion-neighborhood fuzzy match joins only on equi-keys") {
    val p = plan("q86_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
  }

  test("q86: close-pair volume grows sub-quadratically with corpus size") {
    // runtime property, not plan shape: deletion-neighborhood candidates
    // come from an equi-join on variant hashes, so pair volume tracks the
    // DATA's neighbor density (~n · digits²), not block². Measured on the
    // fixed testdata: 8 327 close pairs at sf0.01 → 163 383 at sf0.1
    // (19.6× for 10× rows); the quadratic fixed-block formulation grows
    // 100×. The 40× bound separates the two regimes with headroom.
    def closePairs(sf: String): Long =
      graft.operators.Dedup.editDistancePairs(
        graft.queries.Q.t(spark, s"/root/testdata/sf$sf", "customer"),
        "c_custkey", "c_name", maxDist = 2, Seq("c_nationkey")).count()
    val n1 = closePairs("0.01"); val n10 = closePairs("0.1")
    assert(n1 > 0, "expected close pairs at sf0.01")
    assert(n10.toDouble / n1 < 40.0,
      s"close pairs grew $n1 -> $n10 (${n10.toDouble / n1}x) — quadratic regression?")
  }

  test("q58: dupClusters' iterative lineage is truncated by checkpointing") {
    // a 40-link chain takes ~6 pointer-jumping rounds; each round
    // self-joins the previous labels, so WITHOUT localCheckpoint the
    // logical plan doubles per round (hundreds of nodes, analyzer OOM at
    // scale). The returned plan must be a flat checkpointed scan.
    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = graft.operators.Dedup.dupClusters(chain)
    val nNodes = labels.queryExecution.optimizedPlan.collect { case n => n }.size
    assert(nNodes < 10, s"expected a checkpoint-truncated plan, got $nNodes nodes")
  }

  test("q96: TPC-H Q5 broadcasts every dimension; one big shuffle join only") {
    val p = plan("q96_tpch_q5")
    // supplier+nation+region and customer reach lineitem⋈orders as
    // broadcasts; the only SortMergeJoin (if any) is lineitem ⋈ orders
    assert(p.split("BroadcastHashJoin").length - 1 >= 3,
      s"dims must broadcast:\n$p")
    assert(p.split("SortMergeJoin").length - 1 <= 1,
      s"only lineitem-orders may shuffle-join:\n$p")
    assert(p.contains("partial_sum"), s"revenue must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q95/q97: date filters push to the scans; top-k is TakeOrdered") {
    Seq("q95_tpch_q3", "q97_tpch_q10").foreach { q =>
      val p = plan(q)
      assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
        s"$q: order-date filter must reach the scan:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: LIMIT must plan as top-k, not a full sort:\n$p")
    }
  }

  test("q103: BM25 is hash aggregates + broadcasts — no corpus window, top-k cut") {
    val p = plan("q103_bm25_topk")
    assert(!p.contains("Window"),
      s"corpus stats must come from aggregates, not a window over the corpus:\n$p")
    assert(p.contains("partial_count"), s"tf/df must partial-aggregate:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k cut must plan as top-k, not a full sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q104: segment dedup picks winners via min-struct agg, never a window") {
    val p = plan("q104_segment_dedup_keep_first")
    // a row_number() window over the segment key would sort every
    // duplicate — the min(struct) aggregate map-side-combines instead
    assert(!p.contains("Window"), s"no window over duplicate segments:\n$p")
    assert(p.contains("partial_min"),
      s"winner selection must partial-aggregate:\n$p")
  }

  test("q177: forward as-of with tolerance plans one key exchange, no nested loop") {
    val p = plan("q177_asof_forward_tolerance")
    // the naive formulation (non-equi theta join on ts <= ts + tol) would
    // plan a BroadcastNestedLoopJoin — the union+window shape must not
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not plan a nested loop:\n$p")
    // exactly one hash exchange on the join key feeds the window carry
    // (the output ORDER BY range-partitions; aggregation of the purchase
    // side adds its own keyed exchange)
    val winExchanges = """hashpartitioning\(user_id""".r.findAllIn(p).size
    assert(winExchanges >= 1 && p.contains("Window"),
      s"expected the keyed window carry:\n$p")
  }

  test("q173: the TxTable pruned read pushes the row filter to the pruned scan") {
    // file-level skipping is metadata-side (TxTableStatsSpec pins
    // files-opened << total); here: the residual ROW filter must still
    // reach the parquet scan of the surviving files — pruning is a
    // superset pre-filter, not a substitute for pushdown
    val p = plan("q173_txtable_pruned_read")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(o_custkey,31)"),
      s"row filter must reach the pruned scan:\n$p")
    assert(p.contains("LessThanOrEqual(o_custkey,142)"),
      s"both bounds must push:\n$p")
  }

  test("q174: bucketed budget select plans no window anywhere") {
    // the entire point of ntileExact: ntile(B) OVER (ORDER BY ...) would
    // serialize the corpus through one unpartitioned window task; the
    // two-phase ranking keeps every stage parallel, and the rate gate is
    // a broadcast join of the <=B bucket rates
    val p = plan("q174_budget_select_bucketed")
    assert(!p.contains("Window"), s"no unpartitioned window in the rank path:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-rate gate must broadcast:\n$p")
  }

  test("q105: bigram LM scoring is model-join only — no pairwise blowup") {
    val p = plan("q105_bigram_lm_score")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"scoring must stay equi-joins on the vocab keys:\n$p")
    assert(p.contains("partial_count"), s"model counts must partial-aggregate:\n$p")
  }

  test("q106: z-order values plan exactly one exchange — the output range sort") {
    val p = plan("q106_zorder_values")
    assert(!p.contains("Arguments: hashpartitioning"),
      s"the interleave is pure per-row arithmetic — no hash shuffle:\n$p")
    // TakeOrderedAndProject absorbs the LIMIT 50 without even a full
    // range exchange; allow either that or a single range partitioning
    val ranges = p.split("Arguments: rangepartitioning").length - 1
    assert(p.contains("TakeOrderedAndProject") || ranges == 1,
      s"ordering must be one top-k or one range exchange:\n$p")
  }

  test("q108: near-dup removal is LSH joins + one anti join; clusters checkpointed") {
    val p = plan("q108_neardup_removal")
    assert(p.contains("LeftAnti"),
      s"survivor filtering must be one anti hash join against the drop set:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pairwise scan anywhere in the pipeline:\n$p")
  }

  test("q109: pageRank returns a checkpoint-truncated plan") {
    // each iteration self-references the previous ranks; without the
    // localCheckpoint the lineage would accrete 5 rounds of join+agg
    val df = SparkEntry.queries("q109_pagerank")(spark, sf)
    val nNodes = df.queryExecution.optimizedPlan.collect { case n => n }.size
    assert(nNodes < 10, s"expected a checkpoint-truncated plan, got $nNodes nodes")
  }

  test("q112: token KL windows partition by token/group — never unpartitioned") {
    val p = plan("q112_token_kl_divergence")
    assert(!p.contains("No Partition Defined"),
      s"corpus total must be a broadcast scalar, not a global window:\n$p")
    assert(p.contains("partial_count"),
      s"token counts must partial-aggregate:\n$p")
  }

  test("q114: PMI pairs join through the broadcast vocabulary; top-k cut") {
    val p = plan("q114_token_pmi")
    // the vocab cap (and the 1-row doc count) must broadcast — the token
    // stream is the only big side anywhere in the plan
    assert(p.contains("BroadcastHashJoin"), s"vocab filter must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must be the within-doc equi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the pmi cut must plan as top-k, not a full sort:\n$p")
    assert(p.contains("partial_count"), s"df/pair counts must partial-aggregate:\n$p")
  }

  test("q115: triangle census is equi-joins + one semi join — no cross product") {
    val p = plan("q115_triangle_census")
    assert(p.contains("LeftSemi"),
      s"wedge closure must be a semi join against the edge set:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the two 1-row stat sides may cross-join (as broadcasts):\n$p")
    assert(p.contains("partial_count"), s"degree counts must partial-aggregate:\n$p")
  }

  test("q117: duplicate spans is one scan + one aggregate — no join, no window") {
    val p = plan("q117_duplicate_spans")
    val ops = """\(\d+\) (\w+)""".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(!ops.exists(_.contains("Join")), s"no join anywhere ($ops):\n$p")
    assert(!p.contains("Window"), s"no window over the span stream:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the output cut must plan as top-k:\n$p")
  }

  test("q118: weighted sampling is scan + filter + top-k — no shuffle of the input") {
    val p = plan("q118_weighted_sample")
    assert(!p.contains("Arguments: hashpartitioning"),
      s"ES keys are per-row arithmetic — nothing may hash-shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k cut must plan as per-partition top-k:\n$p")
  }

  test("q119: three rollup tiers ride ONE Expand and one hash exchange") {
    val p = plan("q119_multires_rollup")
    assert(p.contains("Expand"), s"grouping sets must plan a single Expand:\n$p")
    assert(p.split("Arguments: hashpartitioning").length - 1 == 1,
      s"one shuffle for all three resolutions — the union-of-rollups shape " +
        s"would show three:\n$p")
    assert(p.contains("partial_count"), s"tiers must partial-aggregate:\n$p")
  }

  test("q120: the skew profile is two aggregates — input shuffles pre-combined counts") {
    val p = plan("q120_key_skew_profile")
    assert(p.contains("partial_count"),
      s"per-key counts must map-side combine (that's what makes the " +
        s"pre-flight check affordable):\n$p")
    assert(!p.contains("Window"), s"no window over the input:\n$p")
  }

  test("q121: int8 quantization is a codegen projection — no lambda, no shuffle") {
    val p = plan("q121_int8_quantize")
    assert(!p.contains("Arguments: hashpartitioning"),
      s"quantization is per-row — nothing may hash-shuffle:\n$p")
    assert(p.contains("int8_quant"), s"the codegen expression must be in the plan:\n$p")
    assert(!p.contains("transform("),
      s"no interpreted HOF lambdas in the scan projection:\n$p")
  }

  test("q122: the per-group sample window partitions by group — never global") {
    val p = plan("q122_weighted_sample_per_group")
    assert(p.contains("Window"), s"expected the per-group row_number window:\n$p")
    assert(!p.contains("No Partition Defined"),
      s"the cut must be per-group, not a global sort:\n$p")
  }

  test("q123: sketches partial-aggregate; the raw value stream shuffles once") {
    val p = plan("q123_hll_sketch_rollup")
    assert(p.contains("partial_hll_sketch_agg"),
      s"per-bucket sketches must build map-side:\n$p")
    assert(p.contains("partial_hll_union_agg"),
      s"the group merge must union sketch partials, not re-shuffle values:\n$p")
  }

  test("q126: leakage matrix broadcasts the pair stream, streams the labels") {
    val p = plan("q126_cross_source_leakage")
    // the O(duplicates) pair table rides through both label lookups as a
    // broadcast; the corpus-sized label side must never be broadcast
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"both label lookups must broadcast the small pair side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q128/q129: TPC-H Q7/Q8 broadcast every small dim; no cross product") {
    Seq("q128_tpch_q7", "q129_tpch_q8").foreach { q =>
      val p = plan(q)
      assert(p.split("BroadcastHashJoin").length - 1 >= 2,
        s"$q: nation/supplier dims must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cross product:\n$p")
      assert(p.contains("partial_sum"), s"$q: revenue must partial-aggregate:\n$p")
    }
  }

  test("q128: nation-pair filter is pushed into both broadcast sides") {
    val p = plan("q128_tpch_q7")
    // the two-name IN filter must reach the nation scans (both sides), so
    // the supplier/customer joins are already nation-filtered BEFORE the
    // lineitem⋈orders and ⋈customer shuffles — Catalyst cannot derive
    // this from the symmetric OR, it has to be in the declared plan
    assert(p.contains("In(n_name"),
      s"nation-name IN filter must be pushed to the nation scans:\n$p")
    assert(p.split("In\\(n_name").length - 1 >= 2,
      s"BOTH nation sides (supplier and customer) must be pre-filtered:\n$p")
  }

  test("q131: HAVING survivors broadcast into a semi-join against lineitem") {
    val p = plan("q131_tpch_q18")
    // the grouped subquery's output is small by construction — it must
    // semi-join lineitem as a broadcast, not shuffle the fact table
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"big-order set must broadcast-semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q132: EXISTS/NOT EXISTS collapse to window aggregates over ONE lineitem scan") {
    val p = plan("q132_tpch_q21")
    // the spec's three correlated lineitem references must NOT become
    // three scans — the per-order window computes both existence tests
    // in one pass
    val scans = p.split("lineitem\\.parquet").length - 1
    assert(scans == 1, s"expected exactly 1 lineitem scan, got $scans:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier dim must broadcast:\n$p")
  }

  test("q135-q140: TPC-H Q4/Q12/Q13/Q14/Q17/Q22 shapes — no cross products, right join kinds") {
    Seq("q135_tpch_q4", "q136_tpch_q12", "q137_tpch_q13",
      "q138_tpch_q14", "q139_tpch_q17", "q140_tpch_q22").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q: no cross product")
    }
    // Q4's EXISTS must be a semi join, Q22's NOT EXISTS an anti join —
    // never a count-and-filter or a nested loop
    assert(plan("q135_tpch_q4").contains("LeftSemi"), "q135 semi join")
    val p140 = plan("q140_tpch_q22")
    assert(p140.contains("LeftAnti"), "q140 anti join")
    // Q22's scalar average is a one-row broadcast evaluated once
    assert(p140.contains("BroadcastNestedLoopJoin") || p140.contains("BroadcastHashJoin"),
      "q140 one-row scalar broadcast")
    // Q14's ratio is ONE pass: a single aggregate node pair, not two scans
    val p138 = plan("q138_tpch_q14")
    assert(p138.split("lineitem\\.parquet").length - 1 == 1, "q138 single lineitem scan")
    // Q17's correlated average decorrelates into a window over ONE scan,
    // not a second scan + aggregate + join-back
    val p139 = plan("q139_tpch_q17")
    assert(p139.split("lineitem\\.parquet").length - 1 == 1, "q139 single lineitem scan")
  }

  test("q141/q143: Q6 pushes every filter to the scan; Q19's OR stays a hash join") {
    val p141 = plan("q141_tpch_q6")
    assert(p141.contains("PushedFilters") && p141.contains("GreaterThanOrEqual(l_shipdate") &&
      p141.contains("LessThan(l_quantity"), s"q141 filters must reach the scan:\n$p141")
    assert(p141.contains("partial_sum"), "q141 map-side combine")
    val p143 = plan("q143_tpch_q19")
    // the OR-of-ANDs must remain a residual over a broadcast HASH join on
    // p_partkey, never degrade the join to a nested loop / cross product
    assert(p143.contains("BroadcastHashJoin"), s"q143 hash join on partkey:\n$p143")
    assert(!p143.contains("BroadcastNestedLoopJoin") && !p143.contains("CartesianProduct"),
      s"q143 must not degrade to a nested loop:\n$p143")
  }

  test("q146: per-vector confusion scoring never shuffles the vector table") {
    val p = plan("q146_label_confusion")
    // centroids collapse to ONE broadcast row; the vector side joins it
    // with a broadcast nested loop (single-row cross), scores in a plain
    // projection, and the only exchanges carry per-label partials
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"vector table must never shuffle to join:\n$p")
    assert(!p.contains("Window"), s"no window over the corpus:\n$p")
    assert(p.contains("partial_count"),
      s"final per-label agg must partial-aggregate map-side:\n$p")
  }

  test("q154: the recipe's pre-rank chain stays key-joined with broadcast rates") {
    // the deterministic-shuffle rank materializes (zipWithIndex), cutting
    // the visible lineage — audit the composed chain up to that point,
    // where every join in the recipe actually lives
    import org.apache.spark.sql.functions.col
    import graft.operators.{Curation, Dedup}
    val docs = graft.queries.Q.t(spark, sf, "documents")
    val dd = Dedup.exactDedup(docs, "doc_id", "text")
    val train = dd.filter(col("doc_id") >= 100)
    val bench = docs.filter(col("doc_id") < 100)
    val bad = Curation.contaminatedDocs(train, bench, "doc_id", "text", 8)
      .select("doc_id")
    val mixed = Curation.temperatureResample(
      train.join(bad, Seq("doc_id"), "left_anti"), "lang", "doc_id", 0.5)
    val p = mixed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every recipe stage joins on keys:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"mixture rates must broadcast:\n$p")
  }

  test("q157: TPC-H Q2's correlated min decorrelates to a broadcast — no cartesian") {
    val p = plan("q157_tpch_q2")
    // the per-part min table joins back by broadcast (it is O(filtered
    // parts)); the whole plan stays nested-loop-free
    assert(p.contains("BroadcastHashJoin"), s"min side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cross product in the decorrelated plan:\n$p")
  }

  test("q158: TPC-H Q9 scans lineitem once; part/supplier/partsupp broadcast") {
    val p = plan("q158_tpch_q9")
    // exactly one lineitem scan feeds the whole profit rollup
    assert(p.split("lineitem\\.parquet").length - 1 <= 2, // tree + detail section
      s"lineitem must be scanned once:\n$p")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cross product:\n$p")
  }

  test("q159: TPC-H Q11's global threshold is a one-row broadcast, not a collect") {
    val p = plan("q159_tpch_q11")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the scalar threshold must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q161: TPC-H Q20's nested semi chain plans as semi joins on keys") {
    val p = plan("q161_tpch_q20")
    assert(p.contains("LeftSemi"), s"IN chains must become semi joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cross product:\n$p")
  }

  test("q166: incremental probe is band-key equi-joins — no corpus self-join blowup") {
    val p = plan("q166_incremental_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe and verify must stay on equi-keys:\n$p")
  }

  test("q167: soft dedup touches the corpus with key joins + a hash filter only") {
    val p = plan("q167_soft_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cross product anywhere in the chain:\n$p")
    assert(!p.contains("Window"), s"no corpus-wide window:\n$p")
  }

  test("q180/q181: APNG decode stays a narrow per-partition map — no shuffle before the sort") {
    val p = plan("q180_apng_frames")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"decode is per-row; nothing to join or window:\n$p")
    val p1 = plan("q181_video_frame_dhash")
    assert(!p1.contains("Join") && !p1.contains("Arguments: hashpartitioning"),
      s"frame fingerprints are per-row compute:\n$p1")
  }

  test("q183: video near-dup pairs via banded equi-join — never all-pairs") {
    val p = plan("q183_video_neardup_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pairing must be the banded equi-join, not a cross product:\n$p")
  }

  test("q185: incremental refresh aggregates deltas map-side; no cartesian, no window") {
    val p = plan("q185_incremental_agg")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("Window"), s"CDF + merge are equi-joins only:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"delta aggregation must combine map-side before the shuffle:\n$p")
  }

  test("q250: join-view refresh is equi-joins + map-side deltas; never re-joins full snapshots") {
    val p = plan("q250_incremental_join_view")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("Window"),
      s"both delta-join probe terms and the state merge are equi-joins only:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the folded two-feed deltas must combine map-side before the shuffle:\n$p")
  }

  test("q186: exact jaccard join candidates come from an equi-join; never a cross product") {
    val p = plan("q186_jaccard_join_exact")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix filtering must candidate via equi-join:\n$p")
  }

  test("q189: the ANN attribute filter is pushed to the corpus scan") {
    val p = plan("q189_filtered_ann")
    assert(p.contains("PushedFilters:") && p.contains("label"),
      s"the label predicate must reach the parquet reader:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scoring stays a broadcast join over the filtered scan:\n$p")
  }

  test("q165: text canonicalization is a pure projection before the output sort") {
    val p = plan("q165_text_canonical_dedup")
    // one scan → project (the codegen expression) → range sort for the
    // ORDER BY; no hash exchange, no join, no window
    assert(!p.contains("Arguments: hashpartitioning") && !p.contains("Window") &&
      !p.contains("Join"), s"canonicalization must not shuffle or join:\n$p")
  }

  test("q168: the Bloom membership filter exists scan-side; no cross product") {
    val p = plan("q168_bloom_decontamination")
    // the broadcast-closure UDF filter must be present (it is the whole
    // point of the plan — clean shingles die before the verify join)
    assert(p.contains("UDF"), s"Bloom membership filter missing from plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cross product:\n$p")
  }

  test("q215: the whole HTML extraction chain is UDF-free column work") {
    val p = plan("q215_html_extract")
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"),
      s"extraction must stay native expressions:\n$p")
    // one documents scan; the only exchange is the output ORDER BY
    assert(!p.contains("Arguments: hashpartitioning"),
      s"a projection chain must not hash-shuffle:\n$p")
    // shape: scan → projection chain → the output sort, nothing else
    assert(p.contains("Scan parquet") && p.contains("Project"),
      s"expected a pure scan+project chain:\n$p")
  }

  test("q217: gopher signals shuffle only for the line-dup fold and its stitch join") {
    val p = plan("q217_gopher_quality")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no cross product:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"line stats must partial-aggregate below the exchange:\n$p")
    assert(!p.contains("Window"), s"no window anywhere:\n$p")
  }

  test("q219: WARC assembly partial-aggregates; parse side is one narrow pass") {
    val p = plan("q219_warc_pipeline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no cross product:\n$p")
    // container assembly groups by file_id: map-side partials for the
    // record list, then exactly the grouping exchange
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("q77: chunking is shuffle-free end to end") {
    val p = plan("q77_doc_chunking")
    // the only exchange allowed is the output ORDER BY's range partitioning
    val body = p.substring(0, math.max(0, p.indexOf("Sort"))) match {
      case "" => p
      case pre => pre
    }
    assert(!body.contains("Arguments: hashpartitioning"),
      s"chunking itself must not shuffle:\n$p")
  }

  test("q220: the support refresh is ONE full-outer join; deltas partial-aggregate") {
    val sp = SparkEntry.queries("q220_incremental_distinct")(spark, sf)
      .queryExecution.sparkPlan
    val fullOuters = sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType.toString == "FullOuter" => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType.toString == "FullOuter" => j
    }
    // one by construction: the q220 fixture DERIVES its CDF from an
    // old-vs-new snapshot diff (the full-outer); the refresh merges state
    // with deltas by re-aggregating their union, no join. A production
    // refresh reads the CDF from the table log and pays no full-outer.
    assert(fullOuters.size == 1,
      s"CDF diff = exactly one full-outer, state merge none, got ${fullOuters.size}:\n$sp")
    val p = plan("q220_incremental_distinct")
    assert(p.contains("partial_sum"),
      s"signed deltas must combine map-side (one row per affected (group, value)):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product joins in the refresh:\n$p")
  }

  test("q221: both symbol-count joins broadcast; pair counts partial-aggregate") {
    val p = plan("q221_wordpiece_pair_scores")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"symcnt joins must broadcast (alphabet-sized side):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join against the alphabet-sized count tables:\n$p")
    assert(p.contains("partial_sum"),
      s"pair counts must combine map-side:\n$p")
  }

  test("q222: wordpiece encode is a narrow per-row pass — no shuffle before the sort") {
    val p = plan("q222_wordpiece_tokenize")
    val body = p.substring(0, math.max(0, p.indexOf("Sort"))) match {
      case "" => p
      case pre => pre
    }
    assert(!body.contains("Arguments: hashpartitioning"),
      s"greedy encode must not shuffle (piece set rides the closure):\n$p")
  }

  test("q223: crawl-to-rank ends lineage-truncated — iteration depth never compounds") {
    // the rank loop checkpoints per iteration, so the FINAL plan must be
    // a scan of the truncated result, not a 5-iteration join tower (the
    // scale property: iteration k's plan cost is O(1), not O(k))
    val p = plan("q223_web_rank")
    assert(p.contains("Scan ExistingRDD"),
      s"expected checkpoint-truncated lineage:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no join tower may survive into the final plan:\n$p")
  }

  test("q231: winnow matches bucket on fingerprint equi-joins — never a cross product") {
    val p = plan("q231_winnow_matches")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair candidates must come from the (hash, gram) equi-join:\n$p")
    assert(p.contains("partial_count"),
      s"df-cap and pair counts must combine map-side:\n$p")
  }

  test("q233: the metadata aggregate plans ZERO file scans") {
    // statsAggregate folds the commit log on the driver; the returned
    // plan must be a local one-row relation — any parquet scan here
    // means the 'metadata-only' claim silently became a table read
    val p = plan("q233_txtable_stats_agg")
    assert(!p.toLowerCase.contains("parquet"),
      s"no parquet scan may appear in a log-only aggregate:\n$p")
  }

  test("q234: the blocklist scan is one narrow pass — no join, no pre-sort shuffle") {
    val p = plan("q234_blocklist_scan")
    assert(!p.contains("Join"), s"pattern dispatch rides the closure, not a join:\n$p")
    val body = p.substring(0, math.max(0, p.indexOf("Sort"))) match {
      case "" => p
      case pre => pre
    }
    assert(!body.contains("Arguments: hashpartitioning"),
      s"the automaton scan must not shuffle before the output sort:\n$p")
  }

  test("q236: domain rollup is UDF-free codegen with one aggregation exchange") {
    val p = plan("q236_domain_rollup")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"normalization and eTLD+1 must be pure Column work:\n$p")
    assert(p.contains("partial_count"),
      s"per-domain counts must combine map-side:\n$p")
  }

  test("q238: robots decisions contain no cartesian join; one window cut per url") {
    val p = plan("q238_robots_decisions")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"url × rule candidates must come from the host equi-join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected the longest-prefix window cut:\n$p")
  }

  test("q240: the spatial join is a cell equi-join, never a range nested loop") {
    val p = plan("q240_spatial_grid_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the (cx, cy) equi-join:\n$p")
    assert(p.contains("partial_count"),
      s"per-rect counts must combine map-side:\n$p")
  }

  test("q242: the decomposition is ONE ordered window over pre-aggregated buckets") {
    val p = plan("q242_seasonal_decompose")
    // the series aggregates BEFORE the window: the window input is one
    // row per hour bucket, so exactly one Window operator and it sits
    // above a hash aggregate, not the raw events
    assert(p.contains("Window"), s"expected the trend window:\n$p")
    assert(p.contains("partial_sum"),
      s"bucket sums must combine map-side before the window:\n$p")
  }

  test("q243: viterbi segmentation is a narrow pass over the distinct-word frame") {
    val p = plan("q243_unigram_viterbi")
    assert(!p.contains("Join"),
      s"the lexicon rides the closure, never a join:\n$p")
  }

  test("q235: the hilbert walk is projection-only before the top-k cut") {
    val p = plan("q235_hilbert_values")
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY + LIMIT must plan as top-k, not a full sort:\n$p")
    assert(!p.contains("Arguments: hashpartitioning"),
      s"the 16-level walk must stay shuffle-free:\n$p")
    assert(p.contains("hilbert16"),
      s"the walk must be the ONE native loop expression, not a project tower:\n$p")
  }

  test("q241: posting compression rides the index build's own aggregation") {
    val p = plan("q241_postings_vbyte")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no join belongs in an index build:\n$p")
    assert(p.contains("partial_"),
      s"the (term, doc) dedup and postings collect must partial-aggregate:\n$p")
  }

  test("q245: polygon candidates come from the cell equi-join with the bbox filter inside") {
    val p = plan("q245_spatial_polygon_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the (cx, cy) equi-join:\n$p")
    // the codegen'd bbox range test must sit in the plan as a plain
    // comparison filter — it is what shields the interpreted forall
    assert(p.contains("__bxlo") || p.contains("bxlo"),
      s"expected the materialized bbox pre-filter:\n$p")
  }

  test("q256: the BSON pipeline is scan → group → decode, no join anywhere") {
    val p = plan("q256_bson_pipeline")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"container assembly and decode are join-free:\n$p")
    assert(p.contains("partial_"),
      s"the per-file collect must partial-aggregate map-side:\n$p")
  }

  test("q259/q260: iterative graph state ends lineage-truncated") {
    // both loops checkpoint per round (the PageRank discipline) — the
    // FINAL plan must scan the truncated result, not a round tower
    for (name <- Seq("q259_bfs_khop", "q260_label_propagation")) {
      val p = plan(name)
      assert(p.contains("Scan ExistingRDD"),
        s"$name: expected checkpoint-truncated lineage:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name: no round tower may survive into the final plan:\n$p")
    }
  }

  test("q262: substring spans come from the gram equi-join; windows key on (pair, diagonal)") {
    val p = plan("q262_exact_substring_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"position pairs must come from the gram equi-join:\n$p")
    assert(p.contains("windowspecdefinition(id1") || p.contains("Window"),
      s"expected the per-(pair, diagonal) islands window:\n$p")
    // the window must never be unpartitioned: its spec carries the keys
    assert(!p.contains("windowspecdefinition(__w"),
      s"islands window must partition by pair+diagonal:\n$p")
  }

  test("q263: entity resolution never forms the quadratic — variant equi-join only") {
    val p = plan("q263_entity_resolution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"match candidates must come from the deletion-variant equi-join:\n$p")
  }

  test("q264: holt smoothing is two hash aggregates and zero joins/windows") {
    val p = plan("q264_holt_smoothing")
    assert(!p.contains("Join"), s"the fold rides the collected series:\n$p")
    assert(!p.contains("Window"), s"no window belongs in the per-key fold:\n$p")
    assert(p.contains("partial_"),
      s"hourly counts must combine map-side:\n$p")
  }

  test("q261: QOI cross-format pairs come from the band equi-join") {
    val p = plan("q261_image_neardup_qoi")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair candidates must come from the band equi-join:\n$p")
  }

  test("q269: count-min build and probe are hash aggregates over equi-joins") {
    val p = plan("q269_count_min")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sketch cells and probes meet on (r, bucket) equi-joins:\n$p")
    assert(p.contains("partial_"),
      s"cell counts must combine map-side:\n$p")
  }

  test("q271: the ORC read path prunes columns and pushes the discount filter") {
    val p = plan("q271_orc_roundtrip")
    assert(p.contains("PushedFilters:") && p.contains("l_discount"),
      s"the filter must reach the ORC scan:\n$p")
    assert(!p.contains("l_comment"),
      s"the ORC scan must not read unwritten/unused columns:\n$p")
  }

  test("q275: shortest-path rounds are equi-joins + hash aggregates, no cartesian/window") {
    val pl = plan("q275_weighted_shortest_paths")
    assert(!pl.contains("CartesianProduct"), s"no cross product:\n$pl")
    assert(!pl.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$pl")
    assert(!pl.contains("Window"), s"no window over nodes:\n$pl")
  }

  test("q277: the interval sweep windows are KEYED and fed distinct intervals") {
    val pl = plan("q277_interval_merge")
    // both windows partition by k — never an unpartitioned corpus sort
    assert(pl.contains("Window"), s"expected the sweep windows:\n$pl")
    assert(pl.split("\n").filter(_.contains("windowspecdefinition"))
      .forall(_.contains("k#")),
      s"sweep windows must partition by the key:\n$pl")
    // the duplicate collapse runs BEFORE the window — the tie-hazard
    // fix is visible in the plan as a pre-sweep aggregation
    assert(pl.contains("partial_count") || pl.contains("partial_"),
      s"expected the pre-sweep collapse aggregation:\n$pl")
  }

  test("q281/q282: KMV signatures are one hash aggregate; set ops never go cartesian on data") {
    val p1 = plan("q281_kmv_distinct")
    assert(!p1.contains("Window"), s"no window in signature construction:\n$p1")
    assert(!p1.contains("CartesianProduct"), s"no cross product:\n$p1")
    val p2 = plan("q282_kmv_setops")
    // the pairwise ga < gb join is over O(groups) signature rows — a
    // nested-loop over GROUPS is the expected (and fine) shape; a
    // cartesian over the raw value stream would be a bug, and the raw
    // stream appears only below its hash aggregate
    assert(!p2.contains("CartesianProduct"), s"no cartesian:\n$p2")
  }

  test("q280: Jaro-Winkler scores the distinct-value dictionary, never the corpus join") {
    val p = plan("q280_jaro_winkler_linkage")
    // the scorer must run ONLY inside the eagerly-materialized value
    // dictionary (a lineage-cut leaf), so the expansion plan contains NO
    // jaro_winkler at all — in particular never over corpus columns
    // (the VERDICT r14 scale-killer was jaro_winkler applied to the
    // brand self-join, and the first fix attempt REGREW it via
    // constraint inference: `jaro_winkler(p_name, p_name)` as a
    // post-scan filter — this assertion pins both failure modes dead)
    assert(!p.contains("jaro_winkler"),
      s"the scorer must be pre-evaluated into the dictionary leaves, " +
        s"never live in the expansion plan:\n$p")
    // the dictionaries enter as materialized leaves…
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed dictionary leaves:\n$p")
    // …and the expansion back to ids is broadcast equi-joins of the
    // qualifying dictionary — never a shuffled corpus self-join on the
    // block alone
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast expansion:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q286: blocked linkage — scorer confined to the dictionary; candidates sub-quadratic") {
    val p = plan("q286_linkage_blocked_highcard")
    // same contract as q280, now on the HIGH-CARDINALITY path: the
    // scorer runs once per blocked candidate pair inside the truncated
    // dictionary subplan; the final expansion/aggregation plan carries
    // no live jaro_winkler anywhere (in particular, the dict-side
    // score(__v1,__v2) >= t constraint must never be re-manufactured
    // onto a corpus scan by constraint inference)
    assert(!p.contains("jaro_winkler"),
      s"the scorer must be pre-evaluated into the dictionary leaves:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed dictionary leaves:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // broadcast-free BY CONTRACT (merge-hinted): every join side here is
    // corpus-vocabulary-sized, and AQE's runtime SMJ->BHJ conversion
    // must never broadcast one — measured at 11M distinct values, the
    // converted broadcast died deserializing its hashed relation while
    // the dictionary checkpoints pinned storage memory
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      s"linkageBlocked joins must stay shuffle-based:\n$p")
    // …and AFTER execution too (ADVICE r16): the string above is the
    // pre-execution plan, but the measured failure was AQE's RUNTIME
    // SMJ->BHJ conversion — so execute the query and assert the FINAL
    // adaptive plan (isFinalPlan=true) still contains no broadcast; a
    // Spark-version change in merge-hint handling under AQE re-planning
    // fails here instead of shipping
    val executed = SparkEntry.queries("q286_linkage_blocked_highcard")(spark, sf)
    // collect() drives THIS DataFrame's queryExecution (a write would
    // plan a fresh one and leave this plan un-finalized); the result is
    // a handful of (ja, jb) groups at sf0.001 — bounded
    executed.collect()
    val fin = executed.queryExecution.executedPlan.toString
    assert(fin.contains("isFinalPlan=true"),
      s"expected an executed adaptive plan:\n${fin.take(2000)}")
    assert(!fin.contains("BroadcastHashJoin") && !fin.contains("BroadcastExchange"),
      s"AQE re-planning must not broadcast a linkage side at runtime:\n$fin")
    // the candidate generator itself is sub-quadratic on the fixture:
    // count blocked pairs vs the all-pairs scan on the sf0.001 value
    // dictionary (VERDICT r15 task #1 "Done" bar)
    val vals = spark.read.parquet(s"$sf/orders.parquet")
      .select(org.apache.spark.sql.functions.col("o_orderkey").cast("long").as("key"))
      .selectExpr("concat(substring('klmnopqrstuvwxy', cast((key div 3) % 15 as int) + 1, 1)," +
        " substring('abcdefghijklmnopqrstuvwxyz', cast(((key div 3) div 15) % 26 as int) + 1, 1)," +
        " substring('abcdefghijklmnopqrstuvwxyz', cast(((key div 3) div 390) % 26 as int) + 1, 1)," +
        " substring('abcdefghijklmnopqrstuvwxyz', cast(((key div 3) div 10140) % 26 as int) + 1, 1)," +
        " translate(reverse(lpad(cast(key as string), 7, '0')), '0123456789', 'abcdefghij')) as __v")
      .distinct()
    val n = vals.count()
    val cand = graft.operators.Dedup.prefixBlockedCandidates(vals).count()
    assert(cand < n * (n - 1) / 2 / 10,
      s"blocked candidates $cand must be far under C($n,2)=${n * (n - 1) / 2}")
  }

  test("q54b/q163b: saved-index probes prune to the probed cell directories") {
    // the 100 TB ANN read story: a probe of p cells must READ p list
    // directories, not scan the index — the static IN filter lands as
    // PartitionFilters on the cell-partitioned parquet (ivfSaveIndex /
    // ivfPqSaveIndex layout), decided at plan time, not left to DPP
    val p54 = plan("q54b_ivf_topk_replay")
    assert(p54.contains("PartitionFilters") && p54.contains("__cell"),
      s"expected static cell pruning on the lists scan:\n$p54")
    assert(!p54.contains("CartesianProduct"), s"no cartesian:\n$p54")
    val p163 = plan("q163b_ivfpq_topk_replay")
    assert(p163.contains("PartitionFilters") && p163.contains("__cell"),
      s"expected static cell pruning on the codes scan:\n$p163")
    assert(!p163.contains("CartesianProduct"), s"no cartesian:\n$p163")
  }

  test("q272: isotonic windows are keyed; only the tiny bins table is ever windowed") {
    val p = plan("q272_isotonic_calibration")
    // the suffix-min window partitions by k — never an unpartitioned
    // window over data-sized input (the bins table is the contract)
    assert(p.contains("Window"), s"expected the suffix-min window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the range join must stay a (non-cartesian) join on i <= j... " +
        s"broadcast nested loop over BINS is acceptable, cartesian is not:\n$p")
  }
}
