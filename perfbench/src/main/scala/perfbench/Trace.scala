package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is -1 until [[Trace.spans]] places it in
  * the innermost span around it; `ctx` names the run, trigger
  * (`queryId:batchId`) or query the span belongs to.
  */
final case class Span(
    id: Long, parent: Long, name: String, layer: String, ctx: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Span recording for the traced run. Spans are kept in memory and written
  * once the run ends; nothing is recorded while `on` is false.
  */
object Trace {
  @volatile var on = false
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // epoch-based microsecond clock, so spans line up with the epoch
  // timestamps that streaming progress and Spark listener events carry
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def streamCtx(queryId: String, batchId: String): String =
    if (queryId == null || batchId == null) "" else s"$queryId:$batchId"

  def record(name: String, layer: String, ctx: String, startUs: Long, endUs: Long,
      parent: Long = -1L): Long = {
    val id = ids.incrementAndGet()
    if (on) buf.add(Span(id, parent, name, layer, ctx, startUs, endUs))
    id
  }

  def timed[A](name: String, layer: String, ctx: String, parent: Long)(f: Long => A): A = {
    val id = ids.incrementAndGet()
    val s = nowUs()
    try f(id)
    finally if (on) buf.add(Span(id, parent, name, layer, ctx, s, nowUs()))
  }

  /** All spans, each orphan attached to the innermost span that holds its
    * midpoint — among spans of its own ctx first, since two streaming
    * queries overlap in time.
    */
  def spans(): Seq[Span] = {
    val all = buf.asScala.toIndexedSeq
    val placed = all.filter(_.parent >= 0)
    val byCtx = placed.groupBy(_.ctx)
    all.map { s =>
      if (s.parent >= 0) s
      else {
        val mid = (s.startUs + s.endUs) / 2
        def innermost(c: Seq[Span]) = c.filter(p => p.id != s.id &&
          p.startUs <= mid && mid <= p.endUs).sortBy(_.durUs).headOption
        val p = innermost(byCtx.getOrElse(s.ctx, Nil)).orElse(innermost(placed))
        s.copy(parent = p.map(_.id).getOrElse(0L))
      }
    }
  }

  /** Self time per layer, in ms: each span's duration minus the part of
    * its interval that its children cover.
    */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = -1L; var curB = -1L
        iv.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        covered += curB - curA
        (s.durUs - covered).toDouble / 1000.0
      }.sum
    }
  }

  def write(path: java.io.File, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startUs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"ctx":${Json.str(s.ctx)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
    } finally w.close()
  }
}

/** Spark-level counters (and job spans) from a listener the benchmark
  * registers; task wait is task launch minus its stage's submission.
  */
class SparkCounters extends SparkListener {
  val jobs, stages, tasks, taskRunMs, taskWaitMs, taskGcMs, scanBytes,
    shuffleReadBytes, shuffleWriteBytes, spillBytes, pendingJobs = new LongAdder
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment(); pendingJobs.increment()
    val p = e.properties
    val ctx = if (p == null) "" else Trace.streamCtx(
      p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId"))
    jobStart.put(e.jobId, (e.time * 1000L, ctx))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    pendingJobs.decrement()
    Option(jobStart.remove(e.jobId)).foreach { case (s, ctx) =>
      Trace.record(s"job ${e.jobId}", "jobs", ctx, s, e.time * 1000L)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    val submitted: Long = i.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmitMs.put((i.stageId, i.attemptNumber()), submitted)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    Option(stageSubmitMs.get((e.stageId, e.stageAttemptId))).foreach { s =>
      taskWaitMs.add(math.max(0L, e.taskInfo.launchTime - s))
    }
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      taskGcMs.add(m.jvmGCTime)
      scanBytes.add(m.inputMetrics.bytesRead)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  /** The listener bus delivers asynchronously: wait until every started
    * job has ended and the counters stop moving.
    */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (pendingJobs.sum() > 0 || tasks.sum() != last)) {
      last = tasks.sum()
      Thread.sleep(100)
    }
  }

  def metrics: Map[String, Double] = Map(
    "spark.jobs" -> jobs, "spark.stages" -> stages, "spark.tasks" -> tasks,
    "spark.task_run_ms" -> taskRunMs, "spark.task_wait_ms" -> taskWaitMs,
    "spark.task_gc_ms" -> taskGcMs, "spark.scan_bytes" -> scanBytes,
    "spark.shuffle_read_bytes" -> shuffleReadBytes,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes,
    "spark.spill_bytes" -> spillBytes).map { case (k, v) => k -> v.sum().toDouble }
}

/** Planning phases of every executed query plan, from
  * `QueryExecution.tracker`; each phase also becomes a span.
  */
class PlanPhases extends QueryExecutionListener {
  private val ms = new ConcurrentHashMap[String, LongAdder]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      ms.computeIfAbsent(phase, _ => new LongAdder).add(p.durationMs)
      Trace.record(s"plan.$phase", "planning", "", p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def metrics: Map[String, Double] = {
    def get(p: String) = Option(ms.get(p)).map(_.sum().toDouble).getOrElse(0.0)
    Map("spark.plan_analysis_ms" -> get("analysis"),
      "spark.plan_optimization_ms" -> get("optimization"),
      "spark.plan_physical_ms" -> get("planning"))
  }
}
