package graft

import graft.operators.LinearAlgebra

/** Integer power iteration: exact quantization grid, hand-checkable
  * second moments, dominance on axis-aligned and oblique data, and the
  * loud degenerate/overflow arms.
  */
class LinearAlgebraSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("secondMoment: exact integer cells on a hand case") {
    // rows (1, 0)×3 and (0, 1)×1 at S = 64 → q = (64,0)/(0,64):
    // M = [[3·4096, 0], [0, 4096]]
    val vecs = (Seq.fill(3)(Seq(1.0f, 0.0f)) :+ Seq(0.0f, 1.0f)).toDF("embedding")
    val m = LinearAlgebra.secondMoment(vecs, "embedding", 64)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(m == Map((1, 1) -> 12288L, (1, 2) -> 0L, (2, 1) -> 0L, (2, 2) -> 4096L))
    // negative halves floor DOWN on the fixed grid: -0.5·64 + 0.5 = -31.5
    // → -32, while +0.5·64 + 0.5 = 32.5 → 32 (floor, not round-half-up)
    val neg = Seq(Seq(-0.5f, 0.5f)).toDF("embedding")
    val mn = LinearAlgebra.secondMoment(neg, "embedding", 64)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(mn((1L, 1L)) == 1024L && mn((2L, 2L)) == 1024L && mn((1L, 2L)) == -1024L)
  }

  test("dominantDirection: axis-aligned dominance and the exact first round") {
    val vecs = (Seq.fill(3)(Seq(1.0f, 0.0f)) :+ Seq(0.0f, 1.0f)).toDF("embedding")
    // round 1 by hand: w = (3·2^32, 2^32); max 3·2^32 → floor log2 = 33,
    // k = 13 → v = (3·2^19, 2^19)
    val r1 = LinearAlgebra.dominantDirection(vecs, "embedding", rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> (3L << 19), 2L -> (1L << 19)))
    // after 12 rounds the off-axis component is crushed by 3^11
    val r12 = LinearAlgebra.dominantDirection(vecs, "embedding", rounds = 12)
      .as[(Long, Long)].collect().toMap
    assert(r12(1L) > 0 && r12(2L) * 1000 < r12(1L), r12.toString)
  }

  test("dominantDirection: oblique direction recovered with quantization-level accuracy") {
    // all mass along (0.3, 0.4): the dominant direction has v2/v1 = 4/3
    val vecs = (1 to 8).map(c => Seq(0.3f * c / 8, 0.4f * c / 8)).toDF("embedding")
    val v = LinearAlgebra.dominantDirection(vecs, "embedding", rounds = 8)
      .as[(Long, Long)].collect().toMap
    val ratio = v(2L).toDouble / v(1L)
    assert(math.abs(ratio - 4.0 / 3) < 0.05, s"ratio $ratio")
  }

  test("dominantDirection: driver-local path is bit-identical to the distributed loop") {
    // mixed-direction data so every round exercises both the matvec and
    // the shift; 5 rounds keeps the distributed witness quick
    val vecs = (1 to 16).map(c =>
      Seq(0.3f * (c % 5), 0.4f * (c % 3), 0.1f * c, -0.2f * (c % 7)))
      .toDF("embedding")
    val local = LinearAlgebra.dominantDirection(vecs, "embedding", rounds = 5)
      .as[(Long, Long)].collect().toMap
    val dist = LinearAlgebra
      .dominantDirectionDistributed(vecs, "embedding", rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(local == dist, s"driver $local vs distributed $dist")
    // the cap routes to the distributed path without changing the result
    val capped = LinearAlgebra.dominantDirection(vecs, "embedding", rounds = 5,
      maxDriverDim = 0).as[(Long, Long)].collect().toMap
    assert(capped == dist)
  }

  test("dominantDirectionDistributed: no round broadcasts the Gramian side") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val vecs = (1 to 16).map(c =>
      Seq(0.3f * (c % 5), 0.4f * (c % 3), 0.1f * c, -0.2f * (c % 7)))
      .toDF("embedding")
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      LinearAlgebra.dominantDirectionDistributed(vecs, "embedding", rounds = 2)
        .collect()
      // a sentinel execution bounds the asynchronous listener events
      spark.range(1).select($"id".as("la_sentinel")).collect()
      val deadline = System.currentTimeMillis() + 20000L
      while (!plans.asScala.exists(_.output.exists(_.name == "la_sentinel")) &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    val broadcasts = plans.asScala.toSeq.flatMap(p => collectWithSubqueries(p) {
      case b: BroadcastExchangeExec => b.output.map(_.name)
    })
    // the matvec ran and broadcast its vector side...
    assert(broadcasts.exists(_.contains("v")), s"broadcast sides: $broadcasts")
    // ...and never the dim² Gramian (i, j, m)
    assert(!broadcasts.exists(_.contains("m")), s"broadcast sides: $broadcasts")
  }

  test("degenerate input refuses loudly; quantScale must be a power of two") {
    val zeros = Seq(Seq(0.0f, 0.0f)).toDF("embedding")
    val e = intercept[IllegalArgumentException](
      LinearAlgebra.dominantDirection(zeros, "embedding"))
    assert(e.getMessage.contains("identically zero"))
    intercept[IllegalArgumentException](
      LinearAlgebra.secondMoment(zeros, "embedding", quantScale = 100))
  }
}
