package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.functions.Normalize
import graft.model.{OpcValue, RawReading}
import graft.sources.OpcSimSource
import graft.streaming.{StreamingPipeline, TxTable}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}

/** Peak live memory of this JVM: the largest heap in use right after any
  * garbage collection, plus the peak use of the non-heap pools (metaspace,
  * code cache). Unlike the resident set it follows what the program keeps
  * alive, not how far the collector lets the heap grow.
  */
object LiveMemory {
  @volatile private var heapAfterGc = 0L

  /** Starts watching collections; call before the work it should cover. */
  def watch(): Unit = {
    val heap = pools(MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heap(pool) => u.getUsed }.sum
        synchronized { heapAfterGc = math.max(heapAfterGc, used) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  }

  private def pools(t: MemoryType) = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == t)

  def peakMb(): Double =
    (heapAfterGc + pools(MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum) / 1048576.0
}

/** What one workload run measured. `e2e` is measured untraced; `layer`
  * holds the per-layer numbers of the traced segment (empty untraced).
  */
final case class Outcome(
    attempted: Long, failed: Long, notes: Seq[String],
    e2e: Map[String, Double], layer: Map[String, Double])

/** The benchmark's JVM program. `run.py` generates the inputs from the seed and
  * starts this JVM; it receives only the generated config text and query
  * names.
  *
  * Arguments: workload, inputs dir (config.txt or queries.txt), data dir,
  * work dir, output json, seconds, trace (0|1), tiny (0|1), corrupt (0|1),
  * cores.
  */
object Main {
  private val started = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%6.1f s  $what")

  final case class Opts(
      workload: String, inputs: File, data: String, work: File, out: File,
      seconds: Double, trace: Boolean, tiny: Boolean, corrupt: Boolean, cores: Int)

  val SetupReps = 9
  val BaseEpochMs = 1704067200000L // the opcsim source's default clock origin

  def main(args: Array[String]): Unit = {
    LiveMemory.watch()
    val Array(workload, inputs, data, work, out, seconds, trace, tiny, corrupt, cores) = args
    val o = Opts(workload, new File(inputs), data, new File(work), new File(out),
      seconds.toDouble, trace == "1", tiny == "1", corrupt == "1", cores.toInt)
    o.work.mkdirs()
    val res = o.workload match {
      case "ingest_txtable" => new Ingest(o).run()
      case "query_mix" => new QueryMix(o).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    val json = s"""{"attempted":${res.attempted},"failed":${res.failed},""" +
      s""""notes":${res.notes.map(Json.str).mkString("[", ",", "]")},""" +
      s""""e2e":${Json.obj(res.e2e)},"layer":${Json.obj(res.layer)}}"""
    Files.writeString(o.out.toPath, json + "\n")
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start plus `register`, `SetupReps` times, each on a fresh
    * session; returns the last session and the median seconds.
    */
  def setup(o: Opts)(register: SparkSession => Unit): (SparkSession, Double) = {
    val secs = (1 to SetupReps).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      register(session(o))
      (System.nanoTime() - t0) / 1e9
    }
    (SparkSession.getActiveSession.get, median(secs))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  /** Listeners that exist only in the traced segment. */
  final class Tracers(spark: SparkSession) {
    val counters = new SparkCounters
    val phases = new PlanPhases
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(phases)
    Trace.on = true

    def finish(): Map[String, Double] = {
      counters.quiesce()
      Thread.sleep(200) // the query-execution listener bus is separate
      Trace.on = false
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(phases)
      counters.metrics ++ phases.metrics
    }
  }

  def traceMetrics(o: Opts, layerMs: Map[String, Double], spans: Seq[Span]): Map[String, Double] = {
    val file = new File(o.work, "spans.jsonl")
    Trace.write(file, spans)
    System.err.println(s"perfbench: wrote ${spans.size} spans to $file")
    val layers = Seq("run", "trigger", "sources", "streaming", "sink", "queries",
      "planning", "jobs")
    layers.map(l => s"self_ms.$l" -> layerMs.getOrElse(l, 0.0)).toMap +
      ("trace.spans" -> spans.size.toDouble)
  }
}

/** Streaming ingest into the current-value table: per server, `opcsim`
  * source → `StreamingPipeline.normalizeStream` → the `txtable` streaming
  * sink, all servers' queries writing one table partitioned by server.
  * Each drain is a closed loop under `Trigger.AvailableNow`: a query reads
  * its next poll cycle only once its previous trigger has committed.
  */
final class Ingest(o: Main.Opts) {
  import Main._

  private val conf = Files.readString(new File(o.inputs, "config.txt").toPath)
  private val servers = graft.config.OpcConfigParser.parse(conf).config.servers.map(_.serverName)
  // Warm-up and measurement share one drain: a query's first triggers
  // cost several times a steady one (query start, class loading, code
  // generation), so a drain that restarts inside the measured segment
  // measures mostly the restart.
  private val warmTriggers = if (o.tiny) 2L else 5L
  // The measured segment's length is fixed per second of --seconds, so the
  // work does not depend on the speed of the code under test. A trigger
  // takes about 1 s on a 4-core host.
  private val measured = math.max(3L, math.round(o.seconds * 1.6))
  // The traced segment is a drain of its own, after the untraced one; its
  // first triggers are the restart and are not measured.
  private val restartTriggers = if (o.tiny) 1L else 3L
  private val tracedTriggers = math.max(3L, measured / 2)
  private val table = new File(o.work, "table").getAbsolutePath
  private val ckptRoot = new File(o.work, "checkpoints")

  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private object ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** One poll cycle per trigger, as the reference commits once per cycle. */
  private def source(spark: SparkSession, server: String, maxCycles: Long): DataFrame =
    spark.readStream.format("opcsim")
      .option("config", conf).option("server", server)
      .option("cyclesPerTrigger", 1L).option("maxCycles", maxCycles)
      .option("numPartitions", o.cores).load()

  private def start(spark: SparkSession, server: String, maxCycles: Long): StreamingQuery =
    StreamingPipeline.normalizeStream(source(spark, server, maxCycles))
      .writeStream.format("txtable")
      .option("path", table).option("partitionCol", "serverName")
      .option("keys", "serverName,tag").option("order", "serverTimestamp,sourceTimestamp")
      .option("checkpointLocation", new File(ckptRoot, server).getAbsolutePath)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .queryName(s"ingest-$server").start()

  /** One closed-loop drain of every server query up to `triggers` total
    * triggers each. Returns the failed query count.
    */
  private def drain(spark: SparkSession, triggers: Long): Int = {
    val qs = servers.map(s => start(spark, s, triggers))
    qs.foreach(q => scala.util.Try(q.awaitTermination()))
    val failed = qs.count(_.exception.isDefined)
    qs.flatMap(_.exception).foreach(e => System.err.println(s"perfbench: query failed: $e"))
    // progress events arrive on the listener bus after termination
    val deadline = System.currentTimeMillis() + 10000L
    def seen = progress.asScala.filter(_.batchId == triggers - 1).map(_.id).toSet
    while (failed == 0 && seen.size < qs.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    failed
  }

  /** Progress of batches `from` until `until`, in trigger order. */
  private def segment(from: Long, until: Long): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => p.batchId >= from && p.batchId < until)
      .sortBy(p => (p.name, p.batchId))

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** End-to-end metrics of one segment of a drain. Throughput is each
    * trigger's rows over the time from its start to the next trigger's
    * start in the same query, so it includes the gaps between triggers;
    * both metrics are medians over the segment's triggers.
    */
  private def e2e(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val rates = ps.groupBy(_.id).values.flatMap { q =>
      q.sliding(2).collect { case Seq(a, b) if startMs(b) > startMs(a) =>
        a.numInputRows * 1000.0 / (startMs(b) - startMs(a)) }
    }.toSeq
    phase("trigger ms: " + ps.map(dur(_, "triggerExecution").toLong).mkString(" "))
    Map("throughput_per_s" -> median(rates),
      "latency_ms" -> median(ps.map(dur(_, "triggerExecution"))))
  }

  private def storeBytes: Long = dirBytes(new File(table)) + dirBytes(ckptRoot)

  def run(): Outcome = {
    val (spark, setupS) = setup(o) { s =>
      rmTree(new File(table)); rmTree(ckptRoot)
      s.streams.addListener(ProgressListener)
      servers.foreach(srv => source(s, srv, 1L).schema)
    }
    phase(f"setup done, median $setupS%.3f s")
    var lastTrigger = warmTriggers + measured
    var failedQueries = drain(spark, lastTrigger)
    val untraced = e2e(segment(warmTriggers, lastTrigger))
    phase(s"measured $measured triggers after $warmTriggers of warm-up")

    var layer = Map.empty[String, Double]
    if (o.trace) {
      val v0 = TxTable.history(table).map(_.version).max
      val bytes0 = storeBytes
      val tracers = new Tracers(spark)
      val from = lastTrigger
      lastTrigger += restartTriggers + tracedTriggers
      val runId = Trace.timed("run", "run", "run", 0L) { id =>
        failedQueries += drain(spark, lastTrigger)
        id
      }
      val drained = segment(from, lastTrigger)
      traceTriggers(drained, runId)
      val traced = segment(from + restartTriggers, lastTrigger)
      val tracedE2e = e2e(traced)
      val sparkMetrics = tracers.finish()
      val spans = Trace.spans()
      layer = sparkMetrics ++ traceMetrics(o, Trace.selfMsByLayer(spans), spans) ++
        txtableMetrics(v0) ++ Map(
        "streaming.trigger_p80_ms" -> percentile(traced.map(dur(_, "triggerExecution")), 0.8),
        "sources.latest_offset_ms" -> median(traced.map(dur(_, "latestOffset"))),
        "sources.rows_per_trigger" -> median(traced.map(_.numInputRows.toDouble)),
        "streaming.query_planning_ms" -> median(traced.map(dur(_, "queryPlanning"))),
        "streaming.add_batch_ms" -> median(traced.map(dur(_, "addBatch"))),
        "streaming.wal_commit_ms" -> median(traced.map(dur(_, "walCommit"))),
        "streaming.commit_offsets_ms" -> median(traced.map(dur(_, "commitOffsets"))),
        "streaming.write_bytes_per_row" ->
          (storeBytes - bytes0) / drained.map(_.numInputRows).sum.toDouble,
        "functions.normalize_rows_per_s" -> normalizeRate(spark),
        "trace.overhead_latency_ms" ->
          (tracedE2e("latency_ms") - untraced("latency_ms")),
        "trace.overhead_throughput_pct" ->
          100.0 * (untraced("throughput_per_s") - tracedE2e("throughput_per_s")) /
            untraced("throughput_per_s"))
    }

    val (checked, mismatches) = check(spark, lastTrigger)
    phase("checked")
    Outcome(
      attempted = progress.size.toLong + failedQueries + checked,
      failed = failedQueries + mismatches.size,
      notes = mismatches.take(5),
      e2e = untraced ++ Map("setup_s" -> setupS, "peak_live_mb" -> LiveMemory.peakMb()),
      layer = layer)
  }

  /** Trigger spans from streaming progress, with the trigger phases as
    * children. Progress gives only phase durations: the phases before the
    * sink call are laid out in execution order from the trigger start, the
    * sink call and offset commit backwards from its end.
    */
  private def traceTriggers(ps: Seq[StreamingQueryProgress], runId: Long): Unit =
    ps.foreach { p =>
      val ctx = Trace.streamCtx(p.id.toString, p.batchId.toString)
      val s = startMs(p) * 1000L
      val e = s + (dur(p, "triggerExecution") * 1000).toLong
      val tid = Trace.record(s"trigger ${p.name}#${p.batchId}", "trigger", ctx, s, e, runId)
      def us(k: String) = (dur(p, k) * 1000).toLong
      var at = s
      Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
        "queryPlanning" -> "streaming").foreach { case (k, layer) =>
        if (us(k) > 0) Trace.record(k, layer, ctx, at, at + us(k), tid)
        at += us(k)
      }
      at = e
      Seq("commitOffsets" -> "streaming", "addBatch" -> "sink").foreach { case (k, layer) =>
        if (us(k) > 0) Trace.record(k, layer, ctx, at - us(k), at, tid)
        at -= us(k)
      }
    }

  /** The table's commits since version `v0`, read back from its log. Each
    * commit records its optimistic-concurrency attempt number, counted
    * from 0.
    */
  private def txtableMetrics(v0: Long): Map[String, Double] = {
    val commits = TxTable.history(table).filter(_.version > v0)
    val snapMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); TxTable.snapshot(table); (System.nanoTime() - t0) / 1e6
    }
    val logBytes = dirBytes(new File(table, "_log"))
    Map("streaming.tx_versions" -> commits.size.toDouble,
      "streaming.tx_files_added" -> commits.map(_.nAdded).sum.toDouble,
      "streaming.tx_files_removed" -> commits.map(_.nRemoved).sum.toDouble,
      "streaming.tx_occ_retries" ->
        commits.map(_.detail.get("attempt").map(_.toDouble).getOrElse(0.0)).sum,
      "streaming.tx_table_bytes" -> (dirBytes(new File(table)) - logBytes).toDouble,
      "streaming.tx_log_bytes" -> logBytes.toDouble,
      "streaming.tx_snapshot_ms" -> median(snapMs))
  }

  /** Raw readings of every configured tag at one poll cycle, as the
    * simulator's reader produces them.
    */
  private def rawAt(cycle: Long): Seq[RawReading] = servers.flatMap { name =>
    val srv = OpcSimSource.selectServer(conf, name)
    val ts = new Timestamp(BaseEpochMs + cycle * srv.readPeriodSec * 1000L)
    val serverTs = new Timestamp(ts.getTime + 1L)
    srv.entries.zipWithIndex.map { case (e, i) =>
      RawReading(name, e.tag, e.opcPath, e.dataType,
        OpcSimSource.rawValue(e.dataType, i, cycle), ts, serverTs, 192)
    }
  }

  /** Normalize over a static frame of the workload's raw rows. */
  private def normalizeRate(spark: SparkSession): Double = {
    import spark.implicits._
    val cycles = math.max(1L, 100000L / rawAt(0).size)
    val raw = (1L to cycles).flatMap(rawAt).toDF().repartition(o.cores).cache()
    val rows = raw.count().toDouble
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Normalize.normalize(raw).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    raw.unpersist(blocking = true)
    rows / median(secs)
  }

  /** The table must hold exactly one row per tag, equal to the final
    * cycle's reading normalized on a batch frame. Returns (rows checked,
    * mismatches).
    */
  private def check(spark: SparkSession, finalCycle: Long): (Long, Seq[String]) = {
    import spark.implicits._
    var expected = Normalize.normalize(rawAt(finalCycle).toDF()).as[OpcValue].collect()
      .map(v => (v.serverName, v.tag) -> v).toMap
    if (o.corrupt) {
      val (k, v) = expected.minBy(_._1)
      expected += k -> v.copy(doubleValue = v.doubleValue + 1.0)
    }
    val actual = TxTable.read(spark, table).map { df =>
      df.select(classOf[OpcValue].getDeclaredFields.map(f => df(f.getName)).toIndexedSeq: _*)
        .as[OpcValue].collect().toSeq
    }.getOrElse(Nil).groupBy(v => (v.serverName, v.tag))
    val bad = (expected.keySet ++ actual.keySet).toSeq.sorted.flatMap { k =>
      (expected.get(k), actual.getOrElse(k, Nil)) match {
        case (Some(e), Seq(a)) if a == e => None
        case (e, as) => Some(s"$k expected $e got ${as.mkString(",")}")
      }
    }
    (expected.size.toLong, bad)
  }
}

/** Batch inventory queries from `SparkEntry.queries`, each written to the
  * noop sink, in the seed-permuted order `run.py` passes. The unmeasured
  * warm-up execution of each query also writes its result for the oracle
  * comparison `run.py` makes afterwards.
  */
final class QueryMix(o: Main.Opts) {
  import Main._

  private val names = Files.readAllLines(new File(o.inputs, "queries.txt").toPath)
    .asScala.map(_.trim).filter(_.nonEmpty).toSeq
  // Fixed per second of --seconds, so the amount of work does not depend
  // on the speed of the code under test: three measured passes at 15 s, so
  // that each query's median is over three executions. A pass takes about
  // 8 s on a 4-core host. The result dump before them is the warm-up: with
  // the JVM's JIT limited to its first tier, query times no longer fall
  // after the first execution.
  private val passCount = math.max(1, math.round(o.seconds / 5.0).toInt)
  // The traced segment only feeds per-layer numbers; two passes do.
  private val tracedPasses = math.min(passCount, 2)
  private var executions = 0L

  /** Between queries, untimed: drop what the last query cached. */
  private def clearSession(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** `count` passes over the mix, each after an untimed full GC. Returns
    * per-query elapsed ms and the failure count.
    */
  private def passes(spark: SparkSession, runId: Long, count: Int)
      : (Map[String, Seq[Double]], Int) = {
    val fns = SparkEntry.queries
    val ms = names.map(_ -> Seq.newBuilder[Double]).toMap
    var failed = 0
    (1 to count).foreach { pass =>
      System.gc()
      names.foreach { n =>
        executions += 1
        val s = System.nanoTime()
        try {
          Trace.timed(n, "queries", n, runId) { _ =>
            fns(n)(spark, o.data).write.format("noop").mode("overwrite").save()
          }
          ms(n) += (System.nanoTime() - s) / 1e6
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"perfbench: $n failed: $e")
        }
        clearSession(spark)
      }
      phase(s"pass $pass done")
    }
    (ms.map { case (k, b) => k -> b.result() }, failed)
  }

  /** Each query of the mix counts once, by its (lower) median; the
    * typical latency is their geometric mean.
    */
  private def e2e(ms: Map[String, Seq[Double]]): Map[String, Double] = {
    val medians = ms.values.filter(_.nonEmpty).map(median).toSeq
    Map("throughput_per_s" -> medians.size / (medians.sum / 1000.0),
      "latency_ms" -> geomean(medians))
  }

  def run(): Outcome = {
    val (spark, setupS) = setup(o)(_ => ())
    phase(f"setup done, median $setupS%.3f s")
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val outDir = new File(o.work, "results")
    rmTree(outDir); outDir.mkdirs()
    val manifest = names.map { n =>
      try {
        fns(n)(spark, o.data).write.mode("overwrite").parquet(s"$outDir/$n")
        n -> "ok"
      } catch { case e: Exception =>
        System.err.println(s"perfbench: $n failed: $e")
        n -> Option(e.getMessage).getOrElse(e.getClass.getName)
      } finally clearSession(spark)
    }
    def jsonMap(m: Seq[(String, String)]) =
      m.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(new File(outDir, "oracle_sql.json").toPath,
      jsonMap(names.flatMap(n => oracles.get(n).map(n -> _))))
    Files.writeString(new File(outDir, "manifest.json").toPath, jsonMap(manifest))

    phase("warm-up and result dump done")
    val (ms, failed) = passes(spark, 0L, passCount)
    ms.toSeq.sortBy(-_._2.sum).foreach { case (k, v) =>
      System.err.println(f"perfbench: $k%-32s ${v.map(x => f"$x%.0f").mkString(" ")}") }
    val untraced = e2e(ms)
    var failedAll = failed + manifest.count(_._2 != "ok")
    var layer = Map.empty[String, Double]
    if (o.trace) {
      val tracers = new Tracers(spark)
      val (tms, tfailed) = Trace.timed("run", "run", "run", 0L)(passes(spark, _, tracedPasses))
      failedAll += tfailed
      val sparkMetrics = tracers.finish()
      val spans = Trace.spans()
      val traced = e2e(tms)
      val medians = tms.collect { case (k, v) if v.nonEmpty => k -> median(v) }
      layer = sparkMetrics ++
        traceMetrics(o, Trace.selfMsByLayer(spans), spans) ++
        medians.map { case (k, v) => s"queries.$k.ms" -> v } ++ Map(
          "trace.overhead_latency_ms" -> (traced("latency_ms") - untraced("latency_ms")),
          "trace.overhead_throughput_pct" ->
            100.0 * (untraced("throughput_per_s") - traced("throughput_per_s")) /
              untraced("throughput_per_s"))
    }
    // loading the inventory creates a per-process artifact directory
    // outside the work dir; none of these queries writes into it
    val artifacts = new File(graft.queries.Q.oracleArtifactRoot)
    if (Option(artifacts.list()).exists(_.isEmpty)) artifacts.delete()
    Outcome(
      attempted = names.size + executions,
      failed = failedAll,
      notes = manifest.filter(_._2 != "ok").map { case (k, v) => s"$k: $v" },
      e2e = untraced ++ Map("setup_s" -> setupS, "peak_live_mb" -> LiveMemory.peakMb()),
      layer = layer)
  }
}

