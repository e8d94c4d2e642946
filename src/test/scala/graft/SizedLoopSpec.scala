package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import graft.operators.{Checkpoints, Dedup, Graph, PageRank, Selection, SimilaritySearch}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** [[Checkpoints.sizedLoop]] — the r19 size-derived parallelism gate:
  * partition count from the input plan's size estimate, the body run on
  * a session fork at that count with AQE off, nothing at all once the
  * derived count reaches the session default, and the caller's session
  * config never written. The shared test session's default (2) sits
  * below the floor (4), so each test raises the default to 32 first —
  * which is also a pin that the gate NEVER fires on sessions already at
  * or below the floor.
  */
class SizedLoopSpec extends SparkSpec {
  import spark.implicits._

  private def confs(s: SparkSession = spark): (String, String) = (
    s.conf.get("spark.sql.shuffle.partitions"),
    s.conf.get("spark.sql.adaptive.enabled", "true"))

  private def at32[T](body: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  /** (planned shuffle partitions, planned under AQE) of a small
    * aggregate run on `s`.
    */
  private def planned(s: SparkSession): (Int, Boolean) = {
    val q = s.range(0, 100, 1, 2).groupBy(col("id") % 5).count()
    q.collect()
    val (plan, adaptive) = q.queryExecution.executedPlan match {
      case ad: AdaptiveSparkPlanExec => (ad.initialPlan, true)
      case other => (other, false)
    }
    (plan.collectFirst {
      case s: ShuffleExchangeExec => s.outputPartitioning.numPartitions
    }.getOrElse(-1), adaptive)
  }

  test("below the floor the gate is a no-op (session default 2 < floor 4)") {
    val tiny = Seq((1L, 2L)).toDF("a", "b")
    val before = confs()
    var session: SparkSession = null
    Checkpoints.sizedLoop(tiny) { loop => session = loop }
    assert(session eq spark)
    assert(confs() === before)
  }

  test("tiny input: partitions derived (floor 4), AQE off inside, confs restored") {
    at32 {
      val tiny = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      val before = confs()
      val (inside, plannedInside, session) = Checkpoints.sizedLoop(tiny) { loop =>
        (confs(loop), planned(loop), loop) }
      assert(session ne spark)
      assert(inside === (("4", "false")))
      assert(plannedInside === ((4, false)))
      assert(confs() === before)
    }
  }

  test("derived count at/past the session default leaves everything alone") {
    at32 {
      // range(10M) estimates 80 MB with no job run: 80 one-MB partitions
      // exceed the session default (32), so the body gets the caller's
      // own session
      val big = spark.range(10000000L).toDF()
      val before = confs()
      var session: SparkSession = null
      Checkpoints.sizedLoop(big) { loop => session = loop }
      assert(session eq spark)
      assert(confs() === before)
    }
  }

  test("a fork is reused while the caller's session and config are unchanged") {
    at32 {
      val tiny = Seq((1L, 2L)).toDF("a", "b")
      val first = Checkpoints.sizedLoop(tiny)(identity)
      assert(Checkpoints.sizedLoop(tiny)(identity) eq first)
      // a config change on the caller's session reaches the next fork
      spark.conf.set("graft.sized.loop.spec", "x")
      try {
        val second = Checkpoints.sizedLoop(tiny)(identity)
        assert(second ne first)
        assert(second.conf.get("graft.sized.loop.spec") === "x")
      } finally spark.conf.unset("graft.sized.loop.spec")
    }
  }

  test("the caller's session is unchanged and the exception propagates") {
    at32 {
      val tiny = Seq((1L, 2L)).toDF("a", "b")
      val before = confs()
      val e = intercept[RuntimeException] {
        Checkpoints.sizedLoop(tiny) { _ => throw new RuntimeException("boom") }
      }
      assert(e.getMessage === "boom")
      assert(confs() === before)
    }
  }

  test("sizedPartitions: floor 4, 1 MB per partition, capped at the session default") {
    val tiny = Seq((1L, 2L)).toDF("a", "b")
    assert(Checkpoints.sizedPartitions(tiny) === 2) // session default 2 < floor
    at32 {
      val before = confs()
      assert(Checkpoints.sizedPartitions(tiny) === 4)
      // range(n) estimates 8n bytes: 8 MB → 8 partitions, 80 MB → capped
      assert(Checkpoints.sizedPartitions(spark.range(1000000L).toDF()) === 8)
      assert(Checkpoints.sizedPartitions(spark.range(10000000L).toDF()) === 32)
      assert(confs() === before)
    }
  }

  test("a query on the caller's session mid-loop sees the session defaults") {
    at32 {
      val tiny = Seq((1L, 2L)).toDF("a", "b")
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val inside = new AtomicReference[((String, String), (Int, Boolean))]()
      val failure = new AtomicReference[Throwable]()
      val a = new Thread(() =>
        try Checkpoints.sizedLoop(tiny) { loop =>
          inside.set((confs(loop), planned(loop)))
          entered.countDown()
          release.await(60, TimeUnit.SECONDS)
        } catch { case t: Throwable => failure.set(t); entered.countDown() })
      a.start()
      try {
        assert(entered.await(60, TimeUnit.SECONDS), "the loop body never started")
        // thread A is inside its loop body now
        assert(confs() === (("32", "true")))
        assert(planned(spark) === ((32, true)))
      } finally {
        release.countDown()
        a.join()
      }
      assert(failure.get == null, s"loop thread failed: ${failure.get}")
      assert(inside.get === ((("4", "false"), (4, false))))
    }
  }

  /** A Spark job's SQL confs (shuffle partitions, AQE; null outside a
    * SQL execution) and the session tags it carries.
    */
  private case class Job(parts: String, aqe: String, sessions: Set[String])

  /** The jobs `body` started, and the session tag of the caller's
    * session, read off a sentinel job run on it after `body`. The
    * sentinel also bounds the listener events, which arrive
    * asynchronously and in order.
    */
  private def jobsOf[T](body: => T): (T, Seq[Job], Set[String]) = {
    val group = s"sized_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Job)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties).getOrElse(new java.util.Properties())
        val tags = Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(","))
        seen.add((String.valueOf(p.getProperty("spark.jobGroup.id")), Job(
          p.getProperty("spark.sql.shuffle.partitions"),
          p.getProperty("spark.sql.adaptive.enabled"),
          tags.filter(t => t.startsWith("spark-session-") && !t.contains("-execution-")).toSet)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "sized loop under test")
      val out = try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup(s"end_$group", "sentinel")
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      def sentinel = seen.asScala.find(_._1 == s"end_$group").map(_._2)
      val deadline = System.currentTimeMillis() + 20000L
      while (sentinel.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(sentinel.exists(_.sessions.nonEmpty), s"no tagged sentinel job: $sentinel")
      (out, seen.asScala.toSeq.filter(_._1 == group).map(_._2), sentinel.get.sessions)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("operators run on the fork and hand their results back on the caller's session") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sizedloop").toString
    def vec(i: Int): Array[Float] = Array.tabulate(8)(j => math.sin(i * 1.3 + j).toFloat)
    val corpus = (1 to 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val (cents, assigned) = SimilaritySearch.ivfBuildIndex(
      corpus, "vec_id", "embedding", nCells = 2, iters = 1)
    SimilaritySearch.ivfSaveIndex(dir, cents, assigned)
    at32 {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("src", "dst")
      val sources = Seq(1L).toDF("id")
      val batch = Seq((100L, vec(7)), (101L, vec(1000)), (102L, vec(1000)))
        .toDF("vec_id", "embedding")
      val ops: Seq[(String, () => Seq[DataFrame])] = Seq(
        "dupClusters" -> (() => Seq(Dedup.dupClusters(edges))),
        "pageRank" -> (() => Seq(PageRank.pageRank(edges, 3))),
        "labelPropagation" -> (() => Seq(Graph.labelPropagation(edges, "src", "dst", 2))),
        "kCore" -> (() => Seq(Graph.kCore(edges, "src", "dst", 2))),
        "bfsDistances" -> (() =>
          Seq(Graph.bfsDistances(edges, "src", "dst", sources, "id", 3))),
        "shortestPaths" -> (() => Seq(Graph.shortestPaths(
          edges.withColumn("w", col("src") * 0 + 1), "src", "dst", "w", sources, "id", 3))),
        "kthSmallestByGroup" -> (() => Seq(Selection.kthSmallestByGroup(
          Seq(("g", 3L), ("g", 1L), ("g", 2L)).toDF("g", "v"), "g", "v"))),
        "semDedupAdmit" -> { () =>
          val adm = SimilaritySearch.semDedupAdmit(
            spark, dir, batch, "vec_id", "embedding", threshold = 0.999)
          Seq(adm.admitted, adm.rejected)
        })
      ops.foreach { case (name, op) =>
        // every SQL job runs on a fork at 4 partitions with AQE off; jobs
        // outside a SQL execution (parquet schema inference) carry no SQL
        // confs and depend on none
        val (outs, jobs, caller) = jobsOf(op())
        val sqlJobs = jobs.filter(_.parts != null)
        assert(sqlJobs.nonEmpty, s"$name ran no SQL job")
        assert(sqlJobs.forall(j => j.parts == "4" && j.aqe == "false"),
          s"$name ran jobs off the loop config: $jobs")
        assert(sqlJobs.forall(j => j.sessions.nonEmpty && (j.sessions & caller).isEmpty),
          s"$name ran jobs on the caller's session ($caller): $jobs")
        outs.foreach { out =>
          assert(out.sparkSession eq spark, s"$name returned a frame of another session")
          out.createOrReplaceTempView("sized_loop_out")
          assert(spark.sql("SELECT count(*) FROM sized_loop_out").head().getLong(0) ===
            out.count(), name)
        }
      }
      spark.catalog.dropTempView("sized_loop_out")
    }
  }
}
