package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge DataFrame — the centrality pass a
  * corpus pipeline runs over a link/citation graph to weight documents by
  * connectivity (the original web-scale use). Non-normalized formulation
  * (as in the classic Spark examples): `pr := (1-d) + d * Σ pr(in)/deg(in)`.
  *
  * Deterministic given the edge set and iteration count — membership and
  * degrees are exact, and float summation noise sits ~1e-15 relative, far
  * below any reasonable output rounding.
  *
  * Shape at scale: per iteration, one equi-join of edges against the
  * current ranks (both hash-partitioned on the node key — a co-partitioned
  * shuffle pair that AQE keeps local after the first materialization) and
  * one hash aggregation on the destination. Rounds run through
  * [[Checkpoints.iterate]], which truncates each rank table. Default is
  * `localCheckpoint` (local mode, not fault-tolerant); set the
  * `graft.checkpoint.dir` session conf to switch every round to RELIABLE
  * `checkpoint()` so executor loss recovers from storage.
  *
  * Dangling nodes (out-degree 0) contribute no mass and receive the base
  * (1-d) only — callers wanting the strongly-ergodic variant symmetrize
  * the edge set first, which also guarantees every node appears as a
  * destination.
  */
object PageRank {

  /** `edges` = (src, dst) directed, duplicates allowed (deduped here).
    * Returns (id, pagerank) for every node appearing in the edge set; a
    * node with no in-edges holds the base rank (1-d).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Checkpoints.iterate("pageRank", Seq(edges), iters) { (loop, in) =>
      val c1 = in.head.columns(0); val c2 = in.head.columns(1)
      val e = loop.persist(in.head
        .select(col(c1).cast("long").as("src"), col(c2).cast("long").as("dst"))
        .distinct())
      val deg = e.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
      // contribution edges carry 1/deg(src) so each iteration is join+agg only
      val contrib = loop.persist(e.join(deg, "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w")))
      // ranks stay defined over ALL nodes: a src with no in-edges must keep
      // contributing its base rank in later rounds, so each round left-joins
      // the full node set against the aggregated in-mass
      val nodes = loop.persist(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
      (nodes.withColumn("pr", lit(1.0)), (ranks, _) => {
        val inMass = contrib.join(ranks, col("src") === col("id"))
          .groupBy("dst").agg(sum(col("w") * col("pr")).as("m"))
        nodes
          .join(inMass, col("id") === col("dst"), "left")
          .select(col("id"),
            (lit(1.0 - damping) + lit(damping) * coalesce(col("m"), lit(0.0))).as("pr"))
      })
    }
  }
}
