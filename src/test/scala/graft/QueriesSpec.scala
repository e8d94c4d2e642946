package graft

import org.apache.spark.sql.functions._

import graft.queries.Q

/** Inventory-level checks that the DuckDB oracle can't express. */
class QueriesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("scratchDir: per-prefix singleton, cleared on reuse") {
    val a = Q.scratchDir("graft-spec-scratch")
    val f = new java.io.File(a, "sub/marker.txt")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, "x".getBytes)
    val b = Q.scratchDir("graft-spec-scratch")
    assert(a === b, "same prefix must reuse ONE directory (bench loops N times)")
    assert(!f.exists(), "reuse must clear the previous run's contents")
    assert(new java.io.File(b).isDirectory)
    assert(Q.scratchDir("graft-spec-scratch2") !== a, "prefixes stay isolated")
  }

  test("every query has a unique name; oracle keys are a subset") {
    val names = SparkEntry.inventory.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q269 leaves nothing cached or persisted in the session") {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(SparkEntry.queries("q269_count_min")(spark, sf).count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty, "q269 left a cached relation")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "q269 left a persisted RDD")
  }

  test("q251 leaves nothing cached or persisted in the session") {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(SparkEntry.queries("q251_txtable_join_view")(spark, sf).count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty, "q251 left a cached relation")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "q251 left a persisted RDD")
  }

  test("q26 approx_count_distinct within 10% of exact counts") {
    val approx = SparkEntry.queries("q26_approx_distinct")(spark, sf)
      .as[(Long, Long)].collect().head
    val exact = Q.t(spark, sf, "lineitem")
      .agg(countDistinct(col("l_partkey")), countDistinct(col("l_orderkey")))
      .as[(Long, Long)].collect().head
    // HLL++ default rsd is 5%; allow 2 sigma
    def close(a: Long, e: Long) = math.abs(a - e).toDouble / e < 0.10
    assert(close(approx._1, exact._1), s"$approx vs $exact")
    assert(close(approx._2, exact._2), s"$approx vs $exact")
  }

  test("q57 approx percentiles close to exact q45") {
    def byFlag(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("l_returnflag", "q1", "median", "q3")
      .as[(String, Double, Double, Double)].collect()
      .map { case (f, a, b, c) => f -> Seq(a, b, c) }.toMap
    val exact = byFlag("q45_percentiles")
    val approx = byFlag("q57_approx_percentiles")
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (flag, e) =>
      e.zip(approx(flag)).foreach { case (ev, av) =>
        // l_quantity spans 1..50; accuracy=1000 keeps the sketch within a
        // couple of quantity units at these group sizes
        assert(math.abs(ev - av) <= 2.0, s"$flag exact=$ev approx=$av")
      }
    }
  }

  /** IN-SPEC exact top-5 neighbors per q40/q42/q54 query (vec_id % 50 = 0)
    * over the sf0.001 embeddings, computed locally in plain Scala — an
    * oracle independent of the engine's own bruteForceTopK, so a bug in
    * the exact path cannot silently re-baseline the recall pins below.
    */
  private lazy val exactTop5: Set[(Long, Long)] = {
    val emb = Q.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    emb.filter(_._1 % 50 == 0).flatMap { case (qid, qv) =>
      emb.filter(_._1 != qid).map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(n => (qid, n._1))
    }.toSet
  }

  private def neighborSet(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

  test("q40 brute-force top-k EQUALS the local exact answer on sf0.001") {
    assert(neighborSet("q40_ann_topk") == exactTop5)
  }

  test("q54 IVF top-k recall is pinned against the in-spec exact answer") {
    // fully deterministic pipeline (hash-sampled k-means, fixed data):
    // recall@5 = 0.76 at the q54 settings (16 cells / 6 probes / 3 iters).
    // A drop means the index or probe regressed; a rise means the setting
    // changed — re-measure and re-pin either way.
    val recall = (exactTop5 & neighborSet("q54_ivf_topk")).size.toDouble / exactTop5.size
    assert(math.abs(recall - 0.76) < 1e-9, s"recall $recall, pinned 0.76")
  }

  test("q42 LSH top-k recall is pinned against the in-spec exact answer") {
    // deterministic SRP planes: recall@5 = 0.68 at the q42 settings
    // (4 planes x 8 tables) on the weakly-clustered synthetic embeddings
    val recall = (exactTop5 & neighborSet("q42_lsh_topk")).size.toDouble / exactTop5.size
    assert(math.abs(recall - 0.68) < 1e-9, s"recall $recall, pinned 0.68")
  }

  test("q163 IVF-PQ top-k recall holds a floor against the in-spec exact answer") {
    // deterministic (hash-sampled k-means + driver Lloyd's + first-hit
    // argmin): the int8-coded ADC shortlist + exact re-rank must keep
    // recall@5 ≥ 0.6 at the q163 settings — the price of m=8 byte codes
    // over full 64-float vectors, bounded and asserted
    val recall = (exactTop5 & neighborSet("q163_ivfpq_topk")).size.toDouble / exactTop5.size
    assert(recall >= 0.6, s"IVF-PQ recall $recall below floor 0.6")
  }
}
