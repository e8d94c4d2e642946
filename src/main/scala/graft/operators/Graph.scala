package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-structure metrics over an edge DataFrame — the connectivity
  * profiling pass a corpus pipeline runs over link graphs (page→page,
  * doc→domain) before graph-based quality weighting; complements
  * [[PageRank]] (centrality) and [[Dedup.dupClusters]] (components).
  *
  * No reference analog (the reference is a point-to-point ETL bridge,
  * /root/reference/OPC2MongoDB/Program.cs has no graph surface) — this is
  * SURVEY.md §2.11 "beyond the reference" scope.
  *
  * Plan shape (the 100 TB story): triangle counting uses degree-ordered
  * edge orientation (Cohen's map-reduce triangle algorithm / the
  * compact-forward ordering): every undirected edge is oriented from its
  * (degree, id)-smaller endpoint to the larger, wedges are enumerated only
  * between a node's OUT-neighbors, and a wedge closes iff its far pair is
  * itself an edge. Orientation caps every out-degree at O(sqrt(m)), so the
  * wedge join emits O(m^1.5) rows worst-case instead of the Σ deg² blowup
  * a naive neighbor self-join takes on skewed degree distributions — a hub
  * with a million neighbors enumerates no wedge at all unless the far
  * endpoints out-rank it. Everything is equi-joins + hash aggregates; no
  * windows, no driver-side state.
  */
object Graph {

  /** Canonical undirected edge set: (a, b) with a < b, loops and nulls
    * dropped, duplicates collapsed. One hash aggregate on the edge pair.
    */
  def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()

  /** One-row global triangle census: node/edge/wedge/triangle counts plus
    * transitivity (3·triangles / wedges — the global clustering
    * coefficient). Exact, every count from equi-joins and aggregates.
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = canonicalEdges(edges, srcCol, dstCol)
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

    // Orient each edge from its (deg, id)-smaller endpoint: the struct
    // comparison gives the total order; ties in degree break by id, so the
    // orientation is acyclic and every triangle has exactly one apex.
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("__db")), "b")
      .select(
        when(struct(col("__da"), col("a")) < struct(col("__db"), col("b")),
          struct(col("a").as("s"), col("b").as("t")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("__o"))
      .select(col("__o.s").as("s"), col("__o.t").as("t"))

    // Wedges at each apex: unordered OUT-neighbor pairs (u < w by id), so
    // each candidate triangle is generated exactly once, at its
    // (deg, id)-minimal vertex. The closing edge (u, w) has u < w, i.e. it
    // is already in canonical form — one semi-join closes the wedge.
    val wedges = oriented.select(col("s"), col("t").as("u"))
      .join(oriented.select(col("s"), col("t").as("w")), "s")
      .filter(col("u") < col("w"))
    val triangles = wedges
      .join(und, col("u") === col("a") && col("w") === col("b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))

    // Σ C(deg, 2) wedge total + node count in one aggregate; edge count in
    // another; both 1-row sides of broadcast cross-joins (never data-sized).
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    val edgeStats = und.agg(count(lit(1)).as("n_edges"))

    degStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        // wedge-free graphs (e.g. a perfect matching) have an undefined
        // clustering coefficient: explicit NULL, not a 0/0 whose
        // NaN-vs-error behavior differs by engine and ANSI mode
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("transitivity"))
  }

  /** k-CORE of the undirected graph (Seidman 1983): the maximal
    * subgraph where every node keeps degree ≥ k — iterative PEELING
    * (drop sub-k nodes, re-derive degrees, repeat) until a fixpoint.
    * The peel order is irrelevant to the result (the k-core is unique),
    * so the synchronized round is deterministic; and a CONVERGED peel
    * is idempotent, which is what lets a statically-unrolled SQL
    * replay with extra no-op rounds hash-match (q248).
    *
    * Returns (node, deg) over the surviving subgraph — empty when the
    * graph has no k-core. Each round is one degree aggregation + two
    * semi-joins, run by [[Checkpoints.iterate]] with the surviving-edge
    * count as its signal. LOUD failure when `maxRounds` rounds do not
    * converge — callers pairing with a fixed-round replay pass the
    * replay's round count here, so drift fails instead of silently
    * mismatching.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // the surviving-edge count is the observed sum of a unit column
    val e = Checkpoints.iterate("kCore", Seq(edges), maxRounds, Some("__one"),
        stop = (prev, n) => n == prev || n == 0L,
        capError = Some(n => s"k-core peeling did not converge within $maxRounds rounds " +
          s"($n edges still shrinking)")) { (_, in) =>
      (canonicalEdges(in.head, srcCol, dstCol).withColumn("__one", lit(1L)), (state, _) => {
        val e = state.select("a", "b")
        val deg = e.select(col("a").as("v"))
          .unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= k).select("v")
        e.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
          .withColumn("__one", lit(1L))
      })
    }
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Bounded multi-source BFS over the undirected graph: (node, dist)
    * with dist = hop distance to the NEAREST source, for every node
    * within `maxDepth` hops (the "k-hop neighborhood" primitive:
    * contamination blast radius, link-graph crawl frontiers, feature
    * radii). Sources are dist 0; unreached nodes are ABSENT, not ∞.
    *
    * Each round expands the frontier by one hop: frontier ⋈ edges →
    * candidate neighbors, anti-join against the settled set (a node's
    * FIRST discovery round is its distance — later candidates lose),
    * union into the state. All equi-joins and distincts, ONE Spark
    * action per round ([[Checkpoints.iterate]] observes the frontier
    * size on it); early-out when a frontier empties. The bounded-round
    * shape is what makes a static SQL unroll replay it exactly (q259's
    * oracle: r_i = nodes within i hops, dist = min round of first
    * appearance).
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    Checkpoints.iterate("bfsDistances", Seq(edges, sources), maxDepth, Some("__new"),
        stop = (_, n) => n == 0L) { (loop, in) =>
      val und = canonicalEdges(in(0), srcCol, dstCol)
      // both directions once, so each round is a single equi-join
      val bidir = loop.keep(
        und.select(col("a").as("u"), col("b").as("v"))
          .unionAll(und.select(col("b").as("u"), col("a").as("v"))))
      // ONE materialization per round: the grown state carries a __new
      // flag (1 on rows discovered this round), the frontier size is its
      // observed sum, and the next frontier is a lazy filter over the
      // same checkpointed blocks
      (in(1).select(col(sourceCol).cast("long").as("node")).distinct()
        .withColumn("dist", lit(0L)).withColumn("__new", lit(1L)), (grown, depth) => {
        val state = grown.select("node", "dist")
        // round 1's frontier is every source: the state's own plan, so a
        // broadcast of it is built once for both joins
        val frontier = if (depth == 1) state
          else grown.filter(col("__new") === 1L).select("node", "dist")
        val discovered = frontier.join(bidir, col("node") === col("u"))
          .select(col("v").as("node")).distinct()
          .join(state, Seq("node"), "left_anti")
          .withColumn("dist", lit(depth.toLong))
        state.withColumn("__new", lit(0L))
          .unionAll(discovered.withColumn("__new", lit(1L)))
      })
    }.select("node", "dist")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for
    * community detection, made DETERMINISTIC: every node starts as its
    * own label; each round all nodes simultaneously adopt the most
    * frequent label among their neighbors, ties broken by SMALLEST
    * label. Runs a FIXED `rounds` count — fixed-round synchronous LPA
    * is replay-stable across engines and partitionings (asynchronous /
    * random-tie LPA is not), which is the whole oracle story (q260
    * unrolls the same rounds in SQL).
    *
    * Per round: one equi-join (bidirectional edges ⋈ labels) and two
    * hash aggregates — (node, label) counts, then the per-node argmax
    * via max(struct(cnt, -label)) so no window ever partitions by
    * node. Isolated nodes cannot occur (edge-derived node set).
    * Returns (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    Checkpoints.iterate("labelPropagation", Seq(edges), rounds) { (loop, in) =>
      val und = canonicalEdges(in.head, srcCol, dstCol)
      val bidir = loop.keep(
        und.select(col("a").as("u"), col("b").as("v"))
          .unionAll(und.select(col("b").as("u"), col("a").as("v"))))
      (bidir.select(col("u").as("node")).distinct()
        .withColumn("label", col("node").cast("long")), (labels, _) =>
        bidir
          .join(labels.withColumnRenamed("node", "v"), "v")
          .groupBy(col("u").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy("node")
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("top"))
          .select(col("node"), (-col("top.nl")).as("label")))
    }
  }

  /** Weighted single-source (well, multi-source) shortest paths by
    * synchronous Bellman-Ford relaxation — the weighted completion of
    * [[bfsDistances]] (SURVEY §2.11 graph family): per round, every
    * settled node relaxes its out-edges (state ⋈ edges equi-join →
    * candidate (v, dist_u + w)), then one hash aggregate takes the min
    * per node over old + candidate distances. INTEGER weights by
    * contract: integer min/plus is order-insensitive, so the result is
    * replay-stable across engines and partitionings (float weights
    * would tie-break nondeterministically) — the same exactness seam as
    * the rest of the graph family, and what lets the oracle unroll the
    * identical rounds in SQL (q275).
    *
    * Runs at most `maxRounds` rounds, stopping EARLY at the fixpoint
    * (no distance improved). Early exit preserves round-unrolled oracle
    * parity: once no round changes anything, further rounds are
    * identity, so stopping at the fixpoint equals running all
    * `maxRounds` rounds. Bellman-Ford needs |V|−1 rounds in the worst
    * case; a bounded `maxRounds` yields the correct distance for every
    * node within that many hops (documented partial-frontier contract,
    * as [[bfsDistances]]).
    *
    * Scale shape: each round is ONE equi-join + ONE hash aggregate over
    * the O(V) state — no windows, no driver data paths beyond the
    * per-round 1-row change count; rounds are lineage-truncated.
    * Negative weights are REFUSED (undirected interpretation makes any
    * negative edge a negative cycle).
    *
    * @return (node, dist) for every node reachable within `maxRounds`
    *         hops of a source; unreachable nodes are absent.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, sources: DataFrame, sourceCol: String,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    Checkpoints.sizedLoop(edges) { loop =>
      shortestPathsLoop(Checkpoints.rebind(loop, edges), srcCol, dstCol, wCol,
        Checkpoints.rebind(loop, sources), sourceCol, maxRounds) }
  }

  // not run by Checkpoints.iterate: its observed negative-weight check
  // and its uncounted sources would need driver features of its own
  private def shortestPathsLoop(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String, sources: DataFrame, sourceCol: String,
      maxRounds: Int): DataFrame = {
    val und = edges.select(
        col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"),
        col(wCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      // parallel edges: only the lightest can ever matter
      .groupBy("a", "b").agg(min(col("w")).as("w"))
    // the negative-weight refusal rides the bidir checkpoint's own
    // materialization as an observed conditional sum
    val (bidirCk, negs) = Checkpoints.truncateWithSum(
      und.select(col("a").as("u"), col("b").as("v"), col("w"))
        .unionAll(und.select(col("b").as("u"), col("a").as("v"), col("w")))
        .withColumn("__neg", when(col("w") < 0, 1L).otherwise(0L)),
      "__neg")
    var state: DataFrame = null
    try {
      require(negs == 0L,
        "shortestPaths: negative edge weight — an undirected negative " +
          "edge is a negative cycle; distances would be unbounded")
      val bidir = bidirCk.select("u", "v", "w")
      state = Checkpoints.truncate(
        sources.select(col(sourceCol).cast("long").as("node")).distinct()
          .withColumn("dist", lit(0L)))
      var round = 0
      var changed = 1L
      while (round < maxRounds && changed > 0) {
        round += 1
        val relaxed = state.join(bidir, col("node") === col("u"))
          .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
        // fixpoint test FUSED into the round's single materialization:
        // old rows carry their distance in __old (exactly one per node —
        // state is already min-unique), relaxed rows carry null, and min()
        // ignores nulls, so after the aggregate __old is the node's
        // previous distance or null when the node is newly reached.
        // Distances are monotone non-increasing, hence "dist < __old OR
        // __old IS NULL" is exactly "(node, dist) not already in state";
        // the count of such nodes rides the checkpoint's own action.
        val (next, chg) = Checkpoints.truncateWithSum(
          state.withColumn("__old", col("dist"))
            .unionAll(relaxed.withColumn("__old", lit(null).cast("long")))
            .groupBy("node")
            .agg(min(col("dist")).as("dist"), min(col("__old")).as("__old"))
            .select(col("node"), col("dist"),
              when(col("__old").isNull || col("dist") < col("__old"), 1L)
                .otherwise(0L).as("__chg")),
          "__chg")
        changed = chg
        Checkpoints.free(state)
        state = next.select("node", "dist")
      }
      state
    } catch { case t: Throwable =>
      if (state != null) Checkpoints.free(state)
      throw t
    } finally Checkpoints.free(bidirCk)
  }
}
