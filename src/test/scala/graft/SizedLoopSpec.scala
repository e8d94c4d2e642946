package graft

import graft.operators.Checkpoints

/** [[Checkpoints.sizedLoop]] — the r19 size-derived parallelism gate:
  * partition count from the input plan's size estimate, AQE off only in
  * the tiny zone, nothing at all once the derived count reaches the
  * session default, session confs restored no matter how the body exits.
  * The shared test session's default (2) sits below the floor (4), so
  * each test raises the default to 32 first — which is also a pin that
  * the gate NEVER fires on sessions already at or below the floor.
  */
class SizedLoopSpec extends SparkSpec {
  import spark.implicits._

  private def confs(): (String, String) = (
    spark.conf.get("spark.sql.shuffle.partitions"),
    spark.conf.get("spark.sql.adaptive.enabled", "true"))

  private def at32[T](body: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("below the floor the gate is a no-op (session default 2 < floor 4)") {
    val tiny = Seq((1L, 2L)).toDF("a", "b")
    val before = confs()
    var inside: (String, String) = null
    Checkpoints.sizedLoop(tiny) { inside = confs() }
    assert(inside === before)
    assert(confs() === before)
  }

  test("tiny input: partitions derived (floor 4), AQE off inside, confs restored") {
    at32 {
      val tiny = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      val before = confs()
      var inside: (String, String) = null
      Checkpoints.sizedLoop(tiny) { inside = confs() }
      assert(inside._1.toInt === 4)
      assert(inside._2 === "false")
      assert(confs() === before)
    }
  }

  test("derived count at/past the session default leaves everything alone") {
    at32 {
      // 100 rows × 16 bytes ≈ 1.6 KB estimated; at 1 byte/partition the
      // derived count far exceeds the session default (32), so the gate
      // must fall through without touching any conf
      val tiny = (1L to 100L).map(i => (i, i)).toDF("a", "b")
      spark.conf.set("graft.loop.partitionBytes", "1")
      try {
        val before = confs()
        var inside: (String, String) = null
        Checkpoints.sizedLoop(tiny) { inside = confs() }
        assert(inside === before)
        assert(confs() === before)
      } finally spark.conf.unset("graft.loop.partitionBytes")
    }
  }

  test("mid zone (p above aqeOffMaxPartitions, below default): partitions set, AQE kept") {
    at32 {
      val tiny = Seq((1L, 2L)).toDF("a", "b")
      spark.conf.set("graft.loop.aqeOffMaxPartitions", "2")
      try {
        val before = confs()
        var inside: (String, String) = null
        Checkpoints.sizedLoop(tiny) { inside = confs() }
        assert(inside._1.toInt === 4) // floor 4 > aqeOffMax 2
        assert(inside._2 === before._2) // AQE untouched
        assert(confs() === before)
      } finally spark.conf.unset("graft.loop.aqeOffMaxPartitions")
    }
  }

  test("confs restored when the body throws") {
    at32 {
      val tiny = Seq((1L, 2L)).toDF("a", "b")
      val before = confs()
      intercept[RuntimeException] {
        Checkpoints.sizedLoop(tiny) { throw new RuntimeException("boom") }
      }
      assert(confs() === before)
    }
  }

  test("sizedPartitions: floor 4, 1 MB per partition, capped at the session default") {
    val tiny = Seq((1L, 2L)).toDF("a", "b")
    assert(Checkpoints.sizedPartitions(tiny) === 2) // session default 2 < floor
    at32 {
      val before = confs()
      assert(Checkpoints.sizedPartitions(tiny) === 4)
      spark.conf.set("graft.loop.partitionBytes", "1")
      try {
        // one partition per estimated byte, between the floor and the cap
        val est = tiny.queryExecution.optimizedPlan.stats.sizeInBytes.toInt
        assert(est > 4 && est < 32)
        assert(Checkpoints.sizedPartitions(tiny) === est)
        val big = (1L to 100L).map(i => (i, i)).toDF("a", "b")
        assert(Checkpoints.sizedPartitions(big) === 32)
      } finally spark.conf.unset("graft.loop.partitionBytes")
      assert(confs() === before)
    }
  }
}
