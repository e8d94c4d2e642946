package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.graftshim.SessionShim

/** Lineage truncation + storage hygiene for iterative operators
  * (PageRank, dupClusters): each round's result must be materialized and
  * its plan cut, or the self-referential logical plan doubles per round
  * (analyzer OOM long before any data moves).
  *
  * TWO MODES (VERDICT r9 weak #2):
  *
  *   - default: `localCheckpoint()` — executor-memory-resident, zero
  *     setup, the right call for local[32] and short interactive jobs.
  *     NOT fault-tolerant: the truncated lineage cannot be recomputed, so
  *     losing one executor mid-iteration kills the job.
  *   - reliable: set the session conf `graft.checkpoint.dir` to a
  *     cluster-visible path (HDFS/S3/NFS) and every iterative operator
  *     switches to `Dataset.checkpoint()` — rounds persist to storage
  *     that survives executor loss, the contract a week-long 100 TB job
  *     needs. Costs one write+read of each round's (small) state table
  *     per round. Checkpoint files under the dir are owned by the
  *     CALLER: delete the dir when the job's results are consumed
  *     (Spark only self-cleans with
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true`).
  *
  * The round structure of the operators is identical in both modes —
  * the spec pins label-for-label equality.
  */
private[graft] object Checkpoints {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // [[sizedLoop]]'s last fork per partition count, with the session and
  // config it was cloned from: a fresh session runs cold (its own analyzer
  // and executor-side artifact session); forking per call cost q58, q109
  // and q260 15–50% at sf0.1
  private val forks = new ConcurrentHashMap[Int, (SparkSession, Map[String, String], SparkSession)]()

  /** The session conf key naming the reliable checkpoint directory. */
  val DirKey = "graft.checkpoint.dir"

  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(DirKey).filter(_.nonEmpty)

  /** Materialize `df` and truncate its lineage — localCheckpoint by
    * default, reliable `checkpoint()` when [[DirKey]] is set (the
    * SparkContext checkpoint dir is aligned lazily so callers never
    * manage it separately).
    */
  def truncate(df: DataFrame): DataFrame = reliableDir(df) match {
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
      df.checkpoint()
    case None => df.localCheckpoint()
  }

  /** [[truncate]] plus the Long sum of `sumCol` over the materialized
    * table — the convergence signature iterative loops compare between
    * rounds. Local mode rides `Dataset.observe` on the checkpoint's own
    * materialization action (zero extra Spark jobs); reliable mode runs
    * one explicit aggregation over the ALREADY-materialized table
    * instead — `checkpoint()` executes the plan twice internally (once
    * for the action, once writing partition files), which would make
    * observed accumulator totals double-count, so the observe trick is
    * local-only by design. Null/empty sums collapse to 0.
    */
  def truncateWithSum(df: DataFrame, sumCol: String): (DataFrame, Long) =
    reliableDir(df) match {
      case Some(_) =>
        val ck = truncate(df)
        val s = ck.agg(sum(col(sumCol))).head.apply(0) match {
          case null => 0L
          case v: Long => v
          case v: Number => v.longValue()
        }
        (ck, s)
      case None =>
        val obs = org.apache.spark.sql.Observation()
        val ck = df.observe(obs, sum(col(sumCol)).as("__ckSum")).localCheckpoint()
        val s = obs.get.get("__ckSum").flatMap(Option(_))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        (ck, s)
    }

  /** [[sizedLoop]]'s partition rule, for callers that pass the count to
    * their own plan instead of running on a fork:
    * min(session partitions, max(4, ⌈estimate / 1 MB⌉)), the estimate
    * taken from `input`'s optimized-plan statistics (no job).
    */
  def sizedPartitions(input: DataFrame): Int = sizing(input)._2

  private def sizing(input: DataFrame): (BigInt, Int, Int) = {
    val est: BigInt = input.queryExecution.optimizedPlan.stats.sizeInBytes
    // 1 MB of PLAN-estimated (compressed-file-sized) bytes ≈ 4–10 MB of
    // in-flight rows per partition. On q260's 1.2M-edge label propagation
    // 32 MB gave p=4 and under-parallelized its rounds; 1 MB gives p≈11.
    val perPart = BigInt(1L << 20)
    val defaultP = input.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    (est, ((est + perPart - 1) / perPart).max(BigInt(4)).min(BigInt(defaultP)).toInt, defaultP)
  }

  /** Run an ITERATIVE operator's loop under SIZE-DERIVED parallelism
    * (r19, guide §2.2 "fewer, larger partitions"): the loops here
    * (dupClusters, BFS, label propagation, Bellman-Ford, k-core,
    * PageRank) spend their wall-clock on per-stage fixed costs, not
    * data — q58 at sf0.1 ran 6.49 s at the 32-partition default and
    * 3.47 s at 4 with AQE off (OPTIMIZATION_r19.md §1); at 4 partitions
    * AQE on costs q109 +24% (NOTES.md, "sizedLoop on a session fork").
    * So when [[sizedPartitions]] is below the session default, `body`
    * runs on a FORK of `input`'s session (`cloneSession()`: its config,
    * temp views, cache manager and SparkContext) with that many shuffle
    * partitions and AQE off. The caller's session config is never
    * written, so work sharing it (stream sinks, commits, queries) keeps
    * its partitions and AQE. `body` must [[rebind]] each frame it uses
    * onto the loop session — a join takes its LEFT side's session, so a
    * missed rebind silently runs at the session default — and a frame
    * it returns (alone or in a pair) comes back on the caller's session.
    * A fork is reused while the caller's session and config are
    * unchanged, so `body` must not resolve temp views or functions by
    * name. At or past the default, `body` gets the caller's session and
    * no frame moves (unknown-size plans estimate Long.MaxValue and never
    * gate). Each call logs its estimate, partition count and AQE at INFO.
    */
  def sizedLoop[T](input: DataFrame)(body: SparkSession => T): T = {
    val spark = input.sparkSession
    val (est, p, defaultP) = sizing(input)
    val conf = spark.conf.getAll
    val loop = if (p >= defaultP) spark else forks.compute(p, (_, f) =>
      if (f != null && (f._1 eq spark) && f._2 == conf) f
      else (spark, conf, SessionShim.fork(spark, Map(
        "spark.sql.shuffle.partitions" -> p.toString, "spark.sql.adaptive.enabled" -> "false"))))._3
    log.info(s"sizedLoop: estimate $est bytes, $p partitions, " +
      s"AQE ${if (loop.conf.get("spark.sql.adaptive.enabled").toBoolean) "on" else "off"}")
    handBack(spark, body(loop))
  }

  /** `df` as a frame of `spark`; `df` itself when it already is one. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df else SessionShim.ofRows(spark, df)

  private def handBack[T](spark: SparkSession, out: T): T = (out match {
    case df: Dataset[Row @unchecked] => rebind(spark, df)
    case (a, b) => (handBack(spark, a), handBack(spark, b))
    case other => other
  }).asInstanceOf[T]

  /** Drop the storage blocks behind a checkpointed DataFrame (either
    * mode). `Dataset.unpersist` only clears cache-manager entries; the
    * RDD a checkpoint pinned sits inside the plan's `LogicalRDD` leaf and
    * stays in executor storage for the life of the session unless freed
    * explicitly. Iterative operators MUST free each superseded round's
    * blocks or executor storage grows linearly with iterations — and in
    * a long-lived session (a 130-query bench, a streaming job) the
    * pinned blocks tax every later query. Reliable-mode checkpoint FILES
    * are not deleted here (they are the fault-tolerance substrate while
    * later rounds still reference derived state); the directory is
    * caller-owned. Safe on non-checkpointed plans (no-op). Non-blocking.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
