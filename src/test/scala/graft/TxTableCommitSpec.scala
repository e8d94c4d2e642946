package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.TxTable

/** The per-commit plan of [[TxTable.mergeLatest]]: a one-partition
  * commit runs at most three Spark jobs with no sort anywhere, never
  * changes the shared session's config, and records its rows and wall
  * time on the commit's `op` line.
  */
class TxTableCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** One poll cycle of `server`: 64 tags, every reading moved by `cycle`. */
  private def cycle(c: Int, server: String = "srv"): DataFrame =
    (0 until 64).map { i =>
      val t = ts(f"2024-01-01 00:00:$c%02d")
      (server, s"tag$i", i + c * 100.0, t, t)
    }.toDF("serverName", "tag", "doubleValue", "serverTimestamp", "sourceTimestamp")

  private def table(path: String): Set[(String, String, Double)] =
    TxTable.read(spark, path).get
      .select("serverName", "tag", "doubleValue").as[(String, String, Double)]
      .collect().toSet

  private def expected(c: Int, servers: String*): Set[(String, String, Double)] =
    servers.flatMap(s => (0 until 64).map(i => (s, s"tag$i", i + c * 100.0))).toSet

  /** Every physical node of an executed plan, through AQE stages, command
    * results and cached relations.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(nodes)
  })

  /** Run `body` in a job group of its own; return the number of jobs it
    * started and the plans of the SQL executions it ran. Sentinel
    * actions before and after bound the listener events, which arrive
    * asynchronously.
    */
  private def observed(body: => Unit): (Int, Seq[SparkPlan]) = {
    val group = s"commit_${UUID.randomUUID().toString.replace("-", "")}"
    val jobGroups = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val started = new AtomicBoolean(false)
    val ended = new AtomicBoolean(false)
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobGroups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val execs = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val names = qe.analyzed.output.map(_.name)
        if (names.contains(s"start_$group")) started.set(true)
        else if (names.contains(s"end_$group")) ended.set(true)
        else if (started.get && !ended.get) plans.add(qe.executedPlan)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def sentinel(name: String): Unit = {
      spark.sparkContext.setJobGroup(s"${name}_$group", name)
      try spark.range(1).select(col("id").as(s"${name}_$group")).collect()
      finally spark.sparkContext.clearJobGroup()
    }
    def await(flag: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 20000L
      while (!flag && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(flag, "listener events did not arrive")
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(execs)
    try {
      sentinel("start")
      await(started.get)
      spark.sparkContext.setJobGroup(group, "commit under test")
      try body finally spark.sparkContext.clearJobGroup()
      sentinel("end")
      await(ended.get && jobGroups.contains(s"end_$group"))
      (jobGroups.asScala.count(_ == group), plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(execs)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("one-partition mergeLatest: at most 3 jobs and no sort in any executed plan") {
    val path = tmp("txc-plan")
    TxTable.mergeLatest(spark, cycle(1), path)
    val (jobs, plans) = observed { TxTable.mergeLatest(spark, cycle(2), path); () }
    assert(jobs >= 2 && jobs <= 3, s"$jobs jobs")
    assert(plans.nonEmpty, "the commit's write reported no plan")
    val sorts = plans.flatMap(nodes).collect {
      case s: SortExec => s.nodeName
      case s: SortAggregateExec => s.nodeName
    }
    assert(sorts.isEmpty, s"sorting operators in the commit: $sorts")
    assert(table(path) == expected(2, "srv"))
  }

  test("a concurrent action started mid-commit sees the session's config unchanged") {
    val path = tmp("txc-race")
    val partsKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val oldParts = spark.conf.get(partsKey)
    // 32 partitions: a size-derived count (floor 4) sits below the
    // session default, the zone where a session-wide flip would show
    spark.conf.set(partsKey, "32")
    val aqe = spark.conf.get(aqeKey)
    try {
      TxTable.mergeLatest(spark, cycle(1), path)
      val inCommit = new AtomicBoolean(false)
      val done = new AtomicBoolean(false)
      // (partitions conf, AQE conf, planned shuffle partitions, planned
      // under AQE, started mid-commit) for each probe action
      val seen = new ConcurrentLinkedQueue[(String, String, Int, Boolean, Boolean)]()
      val failure = new AtomicReference[Throwable]()
      val probe = new Thread(() =>
        try {
          while (!done.get) {
            val mid = inCommit.get
            val (p, a) = (spark.conf.get(partsKey), spark.conf.get(aqeKey))
            val q = spark.range(0, 100, 1, 2).groupBy(col("id") % 5).count()
            q.collect()
            val (planned, adaptive) = q.queryExecution.executedPlan match {
              case ad: AdaptiveSparkPlanExec => (ad.initialPlan, true)
              case other => (other, false)
            }
            val parts = planned.collectFirst {
              case s: ShuffleExchangeExec => s.outputPartitioning.numPartitions
            }.getOrElse(-1)
            seen.add((p, a, parts, adaptive, mid))
          }
        } catch { case t: Throwable => failure.set(t) })
      probe.start()
      try (2 to 5).foreach { c =>
        inCommit.set(true)
        try TxTable.mergeLatest(spark, cycle(c), path)
        finally inCommit.set(false)
      } finally {
        done.set(true)
        probe.join()
      }
      assert(failure.get == null, s"probe failed: ${failure.get}")
      val all = seen.asScala.toSeq
      assert(all.exists(_._5), "no probe action started mid-commit")
      all.foreach { case (p, a, parts, adaptive, _) =>
        assert(p == "32" && a == aqe, s"probe saw partitions=$p aqe=$a")
        assert(parts == 32 && adaptive == aqe.toBoolean,
          s"probe planned $parts partitions, adaptive=$adaptive")
      }
      assert(spark.conf.get(partsKey) == "32" && spark.conf.get(aqeKey) == aqe)
      assert(table(path) == expected(5, "srv"))
    } finally spark.conf.set(partsKey, oldParts)
  }

  test("mergeLatest's op line records rows and ms, read back through history") {
    val path = tmp("txc-hist")
    TxTable.mergeLatest(spark, cycle(1), path)
    // two partitions: the fanned multi-partition write path
    TxTable.mergeLatest(spark, cycle(2).unionByName(cycle(2, "srv2")), path)
    val h = TxTable.history(path)
    assert(h.map(_.op) == Seq("mergeLatest", "mergeLatest"))
    assert(h.map(_.detail("rows")) == Seq("128", "64"))
    h.foreach { c =>
      assert(c.detail("attempt") == "0")
      assert(c.detail("ms").toLong >= 0L)
    }
    assert(table(path) == expected(2, "srv", "srv2"))
  }
}
