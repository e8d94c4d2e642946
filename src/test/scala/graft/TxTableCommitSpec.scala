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
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.{StreamingPipeline, TxTable, TxTableSinkProvider}

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

  /** The sink a `format("txtable")` stream writes through, fed here on
    * the test thread so [[observed]] sees each batch's jobs.
    */
  private def txSink(path: String) =
    new TxTableSinkProvider().createSink(spark.sqlContext, Map("path" -> path), Nil,
      OutputMode.Update())

  /** Top-level `data/` dirs no version of the table references. */
  private def unreferencedDirs(path: String): Set[String] = {
    val live = (0L to TxTable.snapshot(path).version)
      .flatMap(v => TxTable.snapshotAt(path, v).allFiles)
      .map(_.split('/').take(2).mkString("/")).toSet
    val onDisk = Option(new java.io.File(path, "data").list()).toSet.flatten.map("data/" + _)
    onDisk -- live
  }

  test("txtable sink: the second and later micro-batches commit in 2 jobs with no cached batch") {
    val path = tmp("txc-sink")
    val sink = txSink(path)
    val (first, _) = observed(sink.addBatch(0, cycle(1)))
    assert(first == 3, s"the first batch discovers its partition: $first jobs")
    (1 to 3).foreach { b =>
      val (jobs, plans) = observed(sink.addBatch(b, cycle(b + 1)))
      assert(jobs == 2, s"batch $b: $jobs jobs")
      assert(plans.nonEmpty, s"batch $b reported no plan")
      val cached = plans.flatMap(nodes).collect { case m: InMemoryTableScanExec => m }
      assert(cached.isEmpty, s"batch $b read a cached batch")
    }
    assert(table(path) == expected(4, "srv"))
    assert(TxTable.history(path).map(_.detail("rows")) == Seq.fill(4)("64"))
  }

  test("txtable sink: a batch outside the expected partitions commits what discovery commits") {
    val (streamed, merged) = (tmp("txc-miss-sink"), tmp("txc-miss-batch"))
    val sink = txSink(streamed)
    val batches = Seq(cycle(1), cycle(2), cycle(3).unionByName(cycle(3, "srv2")), cycle(4))
    val jobs = batches.zipWithIndex.map { case (b, i) =>
      TxTable.mergeLatest(spark, b, merged)
      observed(sink.addBatch(i, b))._1
    }
    // the miss: the guessed attempt's 2 jobs, then discovery's 3
    assert(jobs == Seq(3, 2, 5, 2), jobs)
    assert(table(streamed) == table(merged))
    assert(table(streamed) == expected(4, "srv") ++ expected(3, "srv2"))
    assert(TxTable.snapshot(streamed).filesByPartition.keySet == Set("srv", "srv2"))
    assert(TxTable.history(streamed).map(_.detail("rows")) ==
      TxTable.history(merged).map(_.detail("rows")))
    // the missed attempt dropped its data dir: every dir on disk is one
    // some version lists, the live files or superseded ones
    assert(unreferencedDirs(streamed).isEmpty, unreferencedDirs(streamed))
  }

  test("txtable sink: a batch whose rows all lose to the table's keeps its partition expected") {
    val (streamed, merged) = (tmp("txc-stale-sink"), tmp("txc-stale-batch"))
    val sink = txSink(streamed)
    // cycle 1 is older than cycle 3 on every key: a late or replayed batch
    val batches = Seq(cycle(2), cycle(3), cycle(1), cycle(4))
    val jobs = batches.zipWithIndex.map { case (b, i) =>
      TxTable.mergeLatest(spark, b, merged)
      observed(sink.addBatch(i, b))._1
    }
    assert(jobs == Seq(3, 2, 2, 2), jobs)
    assert(table(streamed) == table(merged))
    assert(table(streamed) == expected(4, "srv"))
    assert(TxTable.history(streamed).map(_.detail("rows")) ==
      TxTable.history(merged).map(_.detail("rows")))
    assert(unreferencedDirs(streamed).isEmpty, unreferencedDirs(streamed))
  }

  test("txtable sink: an expected partition the batch does not reach gets no add or remove line") {
    val path = tmp("txc-unreached")
    val sink = txSink(path)
    sink.addBatch(0, cycle(1).unionByName(cycle(1, "srv2")))
    val before = TxTable.snapshot(path)
    val (jobs, _) = observed(sink.addBatch(1, cycle(2)))
    assert(jobs == 2, s"the guess {srv, srv2} held: $jobs jobs")
    val after = TxTable.snapshot(path)
    assert(after.version == before.version + 1)
    assert(after.filesByPartition("srv2") == before.filesByPartition("srv2"))
    assert(after.filesByPartition("srv") != before.filesByPartition("srv"))
    val lines = Files.readAllLines(java.nio.file.Paths.get(path, "_log",
      f"${after.version}%020d.commit")).asScala
    val srv2Files = before.filesByPartition("srv2").toSet
    assert(!lines.exists(l => l.startsWith("add\tsrv2\t")), lines)
    assert(!lines.exists(l => l.startsWith("remove\t") && srv2Files(l.stripPrefix("remove\t"))), lines)
    assert(unreferencedDirs(path).isEmpty, unreferencedDirs(path))
    assert(table(path) == expected(2, "srv") ++ expected(1, "srv2"))
  }

  test("txtable sink: a stream batch that violates a CHECK constraint is refused") {
    val path = tmp("txc-check")
    val sink = txSink(path)
    sink.addBatch(0, cycle(1))
    sink.addBatch(1, cycle(2))
    TxTable.addConstraint(spark, path, "bounded", "doubleValue < 1000")
    val v = TxTable.snapshot(path).version
    val e = intercept[IllegalStateException](sink.addBatch(2, cycle(20)))
    assert(e.getMessage.contains("bounded"), e.getMessage)
    assert(TxTable.snapshot(path).version == v)
    sink.addBatch(3, cycle(3))
    assert(table(path) == expected(3, "srv"))
  }

  test("the stream sinks leave no cached relation or persisted RDD behind, a miss included") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def drain(start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val mem = MemoryStream[(String, String, Double, java.sql.Timestamp, java.sql.Timestamp)]
      val q = start(mem.toDF().toDF(cycle(1).columns.toIndexedSeq: _*))
      try Seq(cycle(1), cycle(2), cycle(3).unionByName(cycle(3, "srv2"))).foreach { b =>
        mem.addData(b.as[(String, String, Double, java.sql.Timestamp, java.sql.Timestamp)].collect().toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    val (viaFormat, viaForeach) = (tmp("txc-clean-format"), tmp("txc-clean-foreach"))
    drain(_.writeStream.format("txtable").option("path", viaFormat)
      .option("checkpointLocation", tmp("txc-clean-ckpt1")).start())
    drain(StreamingPipeline.currentValueSink(_, viaForeach, tmp("txc-clean-ckpt2"),
      Trigger.ProcessingTime(0)).start())
    Seq(viaFormat, viaForeach).foreach { p =>
      assert(table(p) == expected(3, "srv", "srv2"))
      assert(TxTable.history(p).size == 3)
    }
    assert(spark.sharedState.cacheManager.isEmpty, "a sink left a cached relation")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "a sink left a persisted RDD")
  }

  test("an empty-string partition value commits like any other: one write per commit, same reads and stats") {
    // mergeLatest, deleteKeys and mergeInto on partitions `v` and "srv":
    // the table's path and each op's job count (counts, not call sites:
    // a job started from an AQE stage thread is named by that thread)
    def run(v: String): (String, Seq[Int]) = {
      val path = tmp("txc-empty")
      val ops: Seq[() => Long] = Seq(
        () => TxTable.mergeLatest(spark, cycle(1, v).unionByName(cycle(1)), path),
        () => TxTable.mergeLatest(spark, cycle(2, v).unionByName(cycle(2)), path),
        () => TxTable.deleteKeys(spark, Seq((v, "tag1"), ("srv", "tag2")).toDF("serverName", "tag"), path),
        () => TxTable.mergeInto(spark, cycle(3, v).filter(col("tag") === "tag3")
          .unionByName(cycle(3, v).filter(col("tag") === "tag4").withColumn("tag", lit("extra")))
          .unionByName(cycle(3).filter(col("tag") === "tag5")),
          path, updateExprs = Map("doubleValue" -> col("s.doubleValue"))))
      val jobs = ops.zipWithIndex.map { case (op, i) =>
        val (version, s) = jobSitesOf(op())
        assert(version == i.toLong)
        // every add line of the commit names a dir of one write
        val adds = Files.readAllLines(java.nio.file.Paths.get(path, "_log", f"$version%020d.commit"))
          .asScala.filter(_.startsWith("add\t")).map(_.split("\t")(2))
        assert(adds.size == 2 && adds.map(_.split('/').take(2).mkString("/")).distinct.size == 1,
          s"op $i with '$v': $adds")
        s.size
      }
      (path, jobs)
    }
    val ((empty, emptyJobs), (named, namedJobs)) = (run(""), run("a"))
    assert(emptyJobs == namedJobs)
    def renamed(df: DataFrame, c: String) =
      df.withColumn(c, when(col(c) === "", "a").otherwise(col(c))).collect().toSet
    (0L to 3L).foreach { v =>
      assert(renamed(TxTable.readAt(spark, empty, v).get, "serverName") ==
        TxTable.readAt(spark, named, v).get.collect().toSet, s"version $v")
      def census(p: String) = TxTable.statsAggregateByPartition(spark, p, Seq("tag", "doubleValue"), v)
      assert(renamed(census(empty), "partition") == census(named).collect().toSet, s"version $v")
    }
    assert(TxTable.read(spark, empty).get.filter(col("serverName") === "").count() == 64)
  }
}
