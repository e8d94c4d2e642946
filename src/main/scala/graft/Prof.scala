package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Query profiler. Runs every declared query whose name starts with one
  * of the given prefixes twice to the noop sink and prints, per query,
  * the formatted executed plan of the second (warm) pass and one JSON
  * [[Prof.Record]]: both pass times, the warm time (their min, -1 when a
  * pass failed) and the warm pass's Spark jobs. A job that runs under a
  * SQL execution carries that execution's id and is named by the
  * operators its final stage runs (the RDD operation scopes, such as
  * `Scan parquet, WholeStageCodegen (1), Exchange`): under AQE every
  * stage job shares one call site inside `CompletableFuture`. Any other
  * job is named by its call site.
  * The last line is `{"sf":…,"queries":{name: warm_s}}`; run once per SF
  * dir and divide for a scale step. Cached relations, persisted RDDs and
  * garbage are cleared between queries, as in `Bench`.
  *
  *   sbt "runMain graft.Prof <sfDir> q251_txtable_join_view q02_"
  */
object Prof {
  final case class Job(id: Int, s: Double, exec: Long, site: String)
  final case class Record(query: String, passes_s: Seq[Double], warm_s: Double, jobs: Seq[Job])

  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args(0), args.drop(1).toSeq) finally spark.stop()
  }

  /** Profiles on `spark`, printing to `Console.out`. */
  def run(spark: SparkSession, sfDir: String, prefixes: Seq[String]): Unit = {
    val open = new ConcurrentHashMap[Int, (Long, Long, String)]()
    val done = new ConcurrentLinkedQueue[Job]()
    val plan = new AtomicReference[QueryExecution]()
    // a job's name: its final stage's operators under a SQL execution,
    // else that stage's call site; plus its description when one is set
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
        val last = j.stageInfos.maxByOption(_.stageId)
        val site = last.fold("?") { st =>
          val ops = st.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name).distinct
          if (exec >= 0 && ops.nonEmpty) ops.mkString(", ") else st.name
        }
        val desc = prop("spark.job.description").getOrElse("")
        open.put(j.jobId, (j.time, exec, if (desc.nonEmpty) s"$site | $desc" else site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(open.remove(e.jobId)).foreach { case (t, exec, site) =>
          done.add(Job(e.jobId, (e.time - t) / 1e3, exec, site))
        }
    }
    val plans = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan.set(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the listener bus delivers asynchronously: wait (at most 10 s) until
    // every started job has ended and none ended for 100 ms
    def quiesce(): Unit = {
      val deadline = System.currentTimeMillis() + 10000L
      var seen = -1
      while ((!open.isEmpty || done.size != seen) && System.currentTimeMillis() < deadline) {
        seen = done.size
        Thread.sleep(100)
      }
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    try {
      val warm = SparkEntry.inventory.filter(q => prefixes.exists(q.name.startsWith)).map { q =>
        def pass(): Double = {
          open.clear(); done.clear(); plan.set(null)
          val t0 = System.nanoTime()
          val s = try {
            q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case t: Throwable => System.err.println(s"prof: ${q.name} FAILED: ${t.getMessage}"); -1.0
          }
          quiesce(); s
        }
        val p1 = pass()
        val p2 = if (p1 < 0) -1.0 else pass()
        val w = if (p2 < 0) -1.0 else math.min(p1, p2)
        // the noop write is the pass's last execution, so its plan is the last one seen
        Option(plan.get).filter(_ => w >= 0).foreach(qe => println(qe.explainString(FormattedMode)))
        println(json.writeValueAsString(
          Record(q.name, Seq(p1, p2), w, done.asScala.toSeq.sortBy(_.id))))
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
        q.name -> w
      }
      println(json.writeValueAsString(Map("sf" -> sfDir, "queries" -> ListMap(warm: _*))))
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
  }
}
