package graft

import graft.operators.{Checkpoints, Dedup, Graph, LinearAlgebra, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** [[Checkpoints.iterate]], the round driver behind the iterative
  * operators, and `Graph.shortestPaths`, which keeps its own loop: each
  * superseded round is freed, only the last state stays (it backs the
  * returned frame), and a throw from setup, a round or the round cap
  * leaves nothing behind. Persisted state is counted as the
  * `getPersistentRDDs` keys a call adds, read right after it returns or
  * throws, with no GC in between, so Spark's `ContextCleaner` cannot be
  * what freed it.
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def gained(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
  }

  test("kCore's round-cap error leaves nothing persisted") {
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("s", "d")
    val added = gained {
      val e = intercept[IllegalStateException](
        Graph.kCore(path, "s", "d", 2, maxRounds = 1))
      assert(e.getMessage.contains("did not converge"), e.getMessage)
    }
    assert(added.isEmpty, s"kCore left RDDs $added persisted")
  }

  test("shortestPaths' negative-weight refusal leaves nothing persisted") {
    val added = gained {
      val e = intercept[IllegalArgumentException](Graph.shortestPaths(
        Seq((0L, 1L, 1L), (1L, 2L, -1L)).toDF("s", "d", "w"), "s", "d", "w",
        Seq(0L).toDF("n"), "n", maxRounds = 3))
      assert(e.getMessage.contains("negative"), e.getMessage)
    }
    assert(added.isEmpty, s"shortestPaths left RDDs $added persisted")
  }

  test("a throw from a round releases the state, the invariants and the round's tables") {
    val in = spark.range(0, 20).toDF("id")
    val added = gained {
      val e = intercept[RuntimeException](
        Checkpoints.iterate("failing", Seq(in), maxRounds = 5) { (loop, ins) =>
          val kept = loop.keep(ins.head.withColumn("k", lit(1L)))
          val persisted = loop.persist(ins.head.withColumn("p", lit(2L)))
          persisted.count()
          (kept, (state, round) => {
            loop.roundLocal(state.withColumn("r", lit(round.toLong)))
            if (round == 2) throw new RuntimeException("round 2 fails")
            state.withColumn("k", col("k") + 1)
          })
        })
      assert(e.getMessage == "round 2 fails")
    }
    assert(added.isEmpty, s"iterate left RDDs $added persisted")
  }

  test("a state without its signal column fails the loop instead of never stopping it") {
    val in = spark.range(0, 20).toDF("id")
    val added = gained {
      val e = intercept[IllegalArgumentException](
        Checkpoints.iterate("unsignalled", Seq(in), maxRounds = 5, Some("n"),
            stop = (_, n) => n == 0L) { (_, ins) =>
          (ins.head.withColumn("n", lit(1L)), (state, _) => state.drop("n"))
        })
      assert(e.getMessage.contains("unsignalled: state lacks its signal column n"),
        e.getMessage)
    }
    assert(added.isEmpty, s"iterate left RDDs $added persisted")
  }

  test("every iterative operator keeps at most its final state persisted") {
    // a 6-ring with a 6-edge tail: k-core peels the tail one node per
    // round, BFS and Bellman-Ford walk it, dupClusters needs several jumps
    val graph = ((0L until 6L).map(i => (i, (i + 1) % 6, 1L)) ++
      (5L until 11L).map(i => (i, i + 1, 2L))).toDF("s", "d", "w")
    val edges = graph.select("s", "d")
    val sources = Seq(0L).toDF("n")
    val vecs = (1 to 12).map(i => Tuple1(Array.tabulate(4)(j =>
      math.sin(i * 0.7 + j).toFloat))).toDF("v")
    val loops: Seq[(String, () => DataFrame)] = Seq(
      "kCore" -> (() => Graph.kCore(edges, "s", "d", 2)),
      "bfsDistances" -> (() => Graph.bfsDistances(edges, "s", "d", sources, "n", 8)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, "s", "d", 3)),
      "shortestPaths" -> (() =>
        Graph.shortestPaths(graph, "s", "d", "w", sources, "n", 20)),
      "pageRank" -> (() => PageRank.pageRank(edges, 4)),
      "dupClusters" -> (() => Dedup.dupClusters(edges)),
      "dominantDirectionDistributed" -> (() =>
        LinearAlgebra.dominantDirectionDistributed(vecs, "v", rounds = 3)))
    loops.foreach { case (name, run) =>
      var rows = 0L
      val added = gained { rows = run().count() }
      assert(rows > 0, s"$name returned no rows")
      assert(added.size <= 1, s"$name left ${added.size} RDDs persisted: $added")
    }
  }
}
