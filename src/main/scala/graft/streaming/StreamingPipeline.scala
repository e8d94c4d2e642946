package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

import graft.functions.Normalize
import graft.model.{OpcServer, OpcValue}

/** Structured-Streaming port of the reference's runtime topology
  * (/root/reference/OPC2MongoDB/Program.cs):
  *
  *   - one OS thread per OPC server (Program.cs:1300-1312)
  *       → one streaming query per server, each with its own
  *         `Trigger.ProcessingTime(read_period)` (Program.cs:724's sleep);
  *   - ConcurrentQueue handoff + single Mongo writer (Program.cs:44,1146)
  *       → checkpointed micro-batches, each one atomic
  *         [[TxTable.mergeLatest]] commit (the ReplaceOneAsync upsert of
  *         Program.cs:1179-1182) — the only way this object writes the
  *         current-value table;
  *   - arrival-order "latest" → event-order latest by
  *         (serverTimestamp, sourceTimestamp): deterministic and
  *         out-of-order safe (documented deviation, SURVEY.md §2.9).
  *
  * 100 TB posture: each commit reads and rewrites only the partitions of
  * the servers in the batch; state (current-value table) is
  * O(distinct tags), not O(events). The stateful variant keeps the same
  * bound with one OpcValue of state per key.
  */
object StreamingPipeline extends Serializable {

  /** Normalize a stream of raw readings (FIXTURES.md A1) into OpcValue
    * rows. Pure projection — works identically on batch and streaming
    * DataFrames.
    */
  def normalizeStream(raw: DataFrame): DataFrame = Normalize.normalize(raw)

  /** Wire a normalized stream into the current-value table at
    * `tablePath`: every micro-batch is one [[TxTable.mergeLatest]] commit
    * (the ReplaceOneAsync upsert of Program.cs:1179-1182), partitioned by
    * `serverName` (the reference's collection-per-server,
    * Program.cs:1159), so a batch rewrites only the partitions of the
    * servers it carries. The commit is atomic and OCC-protected, so
    * several streams may share one table, and a replayed batch re-merges
    * the same rows to the same table (exactly-once end to end). Read the
    * table with [[TxTable.read]]: its directory also holds superseded and
    * orphaned data files until vacuum.
    *
    * `historyPath` optionally also appends every reading to a history
    * table — the reference's commented-out InsertOneAsync path
    * (Program.cs:1174-1176), enabled here because at scale the history
    * table IS the analytics input. History is a plain parquet append
    * partitioned by serverName: queries for one server prune to its
    * partition.
    */
  def currentValueSink(
      normalized: DataFrame,
      tablePath: String,
      checkpointDir: String,
      trigger: Trigger,
      historyPath: Option[String] = None): DataStreamWriter[Row] = {
    // the partitions the previous micro-batch touched: each commit's
    // expected set, so a steady stream commits in two Spark jobs (the
    // first batch, with none, discovers its partitions in a third)
    var touched: Seq[String] = Nil
    normalized.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // batch reused twice (history append + merge): cache to avoid
        // recomputing the source read + normalization
        if (historyPath.isDefined) batch.persist()
        historyPath.foreach { h =>
          batch.write.mode("append").partitionBy("serverName").parquet(h)
        }
        touched = TxTable.mergeLatestTouched(batch.sparkSession, batch, tablePath,
          "serverName", Seq("serverName", "tag"), Seq("serverTimestamp", "sourceTimestamp"),
          TxTable.AutoStats, touched)._2
        if (historyPath.isDefined) batch.unpersist()
        ()
      }
  }

  /** Per-server query fan-out: one `currentValueSink` query per configured
    * server, each at its own poll cadence and into its own table at
    * `outDir/<serverName>` — the Spark analog of the reference's
    * thread-per-server Main (Program.cs:1300-1312) and its
    * collection-per-server. The caller provides a source stream per
    * server (real OPC connector, `opcsim` or test MemoryStream).
    */
  def startServerQueries(
      servers: Seq[OpcServer],
      sourceFor: OpcServer => DataFrame,
      outDir: String,
      checkpointRoot: String): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    servers.map { srv =>
      currentValueSink(
        normalizeStream(sourceFor(srv)),
        s"$outDir/${srv.serverName}",
        s"$checkpointRoot/${srv.serverName}",
        Trigger.ProcessingTime(srv.readPeriodSec * 1000L))
        .queryName(s"graft-${srv.serverName}")
        .start()
    }

  /** Event-order "newer" for OpcValue rows: (serverTimestamp,
    * sourceTimestamp) lexicographic.
    */
  private[streaming] def newerValue(a: OpcValue, b: OpcValue): Boolean = {
    // full-precision comparison (getNanos carries the sub-millisecond
    // fraction getTime drops), matching the batch twin's column order
    def cmpTs(x: java.sql.Timestamp, y: java.sql.Timestamp): Int = {
      val byMs = java.lang.Long.compare(x.getTime, y.getTime)
      if (byMs != 0) byMs else java.lang.Integer.compare(x.getNanos, y.getNanos)
    }
    val bySrv = cmpTs(a.serverTimestamp, b.serverTimestamp)
    if (bySrv != 0) bySrv > 0
    else cmpTs(a.sourceTimestamp, b.sourceTimestamp) > 0
  }

  /** Stateful last-value keeper: emits, for every micro-batch, the keys
    * whose current value changed. State per key is exactly one OpcValue —
    * the `flatMapGroupsWithState` twin of [[currentValueSink]], for
    * consumers that want a changelog stream instead of a table.
    */
  def latestPerTagStateful(normalized: DataFrame): DataFrame = {
    import normalized.sparkSession.implicits._
    def newer(a: OpcValue, b: OpcValue): Boolean = newerValue(a, b)

    normalized.as[OpcValue]
      .groupByKey(v => (v.serverName, v.tag))
      .flatMapGroupsWithState[OpcValue, OpcValue](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (_, values, state: GroupState[OpcValue]) =>
          val incoming = values.reduceOption((a, b) => if (newer(a, b)) a else b)
          (incoming, state.getOption) match {
            case (Some(in), Some(cur)) if newer(in, cur) =>
              state.update(in); Iterator.single(in)
            case (Some(in), None) =>
              state.update(in); Iterator.single(in)
            case _ => Iterator.empty
          }
      }.toDF()
  }

  /** Stream–static enrichment: attach tag-catalog metadata to every
    * in-flight reading — the Spark-native form of the reference holding an
    * `OPC_entry` inside each value (Program.cs:149,466). The catalog is a
    * broadcast-joined static DataFrame: no stream state, no shuffle of the
    * stream side.
    */
  def enrichWithCatalog(
      normalized: DataFrame,
      catalog: DataFrame,
      keys: Seq[String] = Seq("serverName", "tag")): DataFrame =
    normalized.join(broadcast(catalog), keys, "left_outer")

  /** Watermarked tumbling-window stats per tag over event time — the
    * windowed-aggregation surface (SURVEY.md §2.9) the reference lacks
    * entirely (its only time bucket is the poll cadence, Program.cs:724).
    */
  def windowedStats(normalized: DataFrame, watermark: String, windowLen: String): DataFrame =
    normalized
      .withWatermark("sourceTimestamp", watermark)
      .groupBy(window(col("sourceTimestamp"), windowLen),
        col("serverName"), col("tag"))
      .agg(
        count(lit(1)).as("n"),
        avg("doubleValue").as("avg_value"),
        min("doubleValue").as("min_value"),
        max("doubleValue").as("max_value"),
        max_by(col("doubleValue"), col("sourceTimestamp")).as("last_value"))

  /** Streaming dedup of the reference's poll/subscribe double-read (a tag
    * polled while also subscribed is read twice, Program.cs:448) within the
    * watermark horizon.
    */
  def dedupReadings(normalized: DataFrame, watermark: String): DataFrame =
    normalized
      .withWatermark("sourceTimestamp", watermark)
      .dropDuplicatesWithinWatermark("serverName", "tag", "sourceTimestamp")

  /** Streaming z-score anomaly detector: per (serverName, tag), keep
    * running count/mean/variance via Welford's online update — O(1) state
    * per key, the streaming twin of the batch detector (q74) — and emit
    * every reading whose z-score against the PRIOR state exceeds
    * `zThreshold` (prior, so a spike cannot inflate its own baseline away).
    * Nothing is emitted until a key has `minSamples` history. Within a
    * micro-batch, readings apply in event order, so results do not depend
    * on partition arrival order.
    */
  def anomalyStream(
      normalized: DataFrame,
      zThreshold: Double = 3.0,
      minSamples: Int = 10): DataFrame = {
    import normalized.sparkSession.implicits._
    normalized.as[OpcValue]
      .groupByKey(v => (v.serverName, v.tag))
      .flatMapGroupsWithState[RunningStats, AnomalousReading](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, values, state: GroupState[RunningStats]) =>
          var st = state.getOption.getOrElse(RunningStats(0L, 0.0, 0.0))
          val out = Seq.newBuilder[AnomalousReading]
          values.toSeq.sortBy(v =>
            (v.serverTimestamp.getTime, v.serverTimestamp.getNanos,
              v.sourceTimestamp.getTime, v.sourceTimestamp.getNanos)).foreach { v =>
            val x = v.doubleValue
            if (st.n >= minSamples) {
              val sd = math.sqrt(st.m2 / (st.n - 1))
              if (sd > 0) {
                val z = (x - st.mean) / sd
                if (math.abs(z) > zThreshold)
                  out += AnomalousReading(v.serverName, v.tag, x,
                    v.sourceTimestamp, z, st.n)
              }
            }
            val n1 = st.n + 1
            val d = x - st.mean
            val mean1 = st.mean + d / n1
            st = RunningStats(n1, mean1, st.m2 + d * (x - mean1))
          }
          state.update(st)
          out.result().iterator
      }.toDF()
  }

  /** STREAMING Holt double exponential smoothing — the stateful twin of
    * [[graft.operators.TimeSeries.holtSmooth]]: per key, O(1) state
    * (n, level, trend), one updated estimate emitted per key per
    * micro-batch. Within a batch samples apply in event-time order;
    * ACROSS batches samples must arrive trigger-ordered per key (a
    * recurrence cannot rewind — late data needs an upstream watermark
    * sort, same contract as every recurrence-stateful operator here).
    *
    * Parity is EXACT, not approximate: the per-sample update is the
    * identical IEEE tree the batch fold runs (α·y + (1−α)·(l+b);
    * β·(l′−l) + (1−β)·b with dyadic constants and pre-computed
    * complements), so feeding the same series through any trigger
    * slicing reproduces the batch (level, trend) bit for bit —
    * StreamingSpec pins it.
    */
  def holtStream(points: DataFrame, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha < 1 && (alpha * 4096.0) == math.rint(alpha * 4096.0) &&
      beta > 0 && beta < 1 && (beta * 4096.0) == math.rint(beta * 4096.0),
      s"alpha/beta must be dyadic in (0,1) (got $alpha, $beta) — " +
        "the batch-parity contract")
    val oneMinusA = 1.0 - alpha
    val oneMinusB = 1.0 - beta
    import points.sparkSession.implicits._
    points.as[HoltPoint]
      .groupByKey(_.k)
      .flatMapGroupsWithState[HoltState, HoltEstimate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, values, state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(HoltState(0L, 0.0, 0.0))
          // (t, y) — NOT t alone: the batch twin sorts struct(t, y), so
          // timestamp ties must break by y here too or the advertised
          // bit-exact parity dies nondeterministically on tied samples.
          // getNanos carries the sub-millisecond fraction getTime drops:
          // without it two samples differing only below the millisecond
          // would fold in a different order than the batch twin's full-
          // precision struct(t, y) sort.
          values.toSeq.sortBy(p => (p.t.getTime, p.t.getNanos, p.y)).foreach { p =>
            st =
              if (st.n == 0L) HoltState(1L, p.y, 0.0)
              else {
                val lNew = alpha * p.y + oneMinusA * (st.l + st.b)
                HoltState(st.n + 1, lNew,
                  beta * (lNew - st.l) + oneMinusB * st.b)
              }
          }
          state.update(st)
          Iterator.single(HoltEstimate(key, st.n, st.l, st.b))
      }.toDF()
  }

  /** Streaming twin of [[graft.operators.TimeSeries.cusum]] — per-key
    * tabular CUSUM as flatMapGroupsWithState, O(1) state per key
    * (sp, sn, alarm count, first-alarm index, sample count), BIT-EXACT
    * batch parity: the per-sample update is the identical IEEE tree
    * (add, subtract, max(0, ·), compare, reset), so any trigger slicing
    * of the same series reproduces the batch fold exactly —
    * StreamingSpec pins it. Same ordering contract as [[holtStream]]:
    * within a batch samples apply in (t, y) order; across batches
    * arrival must be trigger-ordered per key.
    */
  def cusumStream(points: DataFrame, target: Double, slack: Double,
      threshold: Double): DataFrame = {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    import points.sparkSession.implicits._
    points.as[HoltPoint]
      .groupByKey(_.k)
      .flatMapGroupsWithState[CusumState, CusumReport](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, values, state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0.0, 0.0, 0L, 0L, 0L))
          // full-precision ordering: getNanos breaks sub-millisecond ties
          // getTime cannot see (same contract as holtStream above)
          values.toSeq.sortBy(p => (p.t.getTime, p.t.getNanos, p.y)).foreach { p =>
            val spRaw = math.max(0.0, st.sp + (p.y - target - slack))
            val snRaw = math.max(0.0, st.sn + (target - p.y - slack))
            val alarm = spRaw > threshold || snRaw > threshold
            st = CusumState(
              if (alarm) 0.0 else spRaw,
              if (alarm) 0.0 else snRaw,
              st.na + (if (alarm) 1L else 0L),
              if (st.fa > 0) st.fa else if (alarm) st.i + 1 else 0L,
              st.i + 1)
          }
          state.update(st)
          Iterator.single(CusumReport(key, st.i, st.na, st.fa, st.sp, st.sn))
      }.toDF()
  }
}

/** Welford accumulator for [[StreamingPipeline.anomalyStream]]:
  * m2 = Σ(x - mean)², so variance = m2 / (n - 1).
  */
final case class RunningStats(n: Long, mean: Double, m2: Double)

/** One input sample for [[StreamingPipeline.holtStream]]. */
final case class HoltPoint(k: String, t: Timestamp, y: Double)

/** Per-key Holt state: sample count + (level, trend). */
final case class HoltState(n: Long, l: Double, b: Double)

/** Per-key CUSUM state for [[StreamingPipeline.cusumStream]]. */
final case class CusumState(sp: Double, sn: Double, na: Long, fa: Long, i: Long)

/** One running CUSUM report — schema-aligned with
  * [[graft.operators.TimeSeries.cusum]] for column-for-column parity.
  */
final case class CusumReport(k: String, n_points: Long, n_alarms: Long,
    first_alarm_i: Long, sp_final: Double, sn_final: Double)

/** One running estimate from [[StreamingPipeline.holtStream]] —
  * schema-aligned with [[graft.operators.TimeSeries.holtSmooth]]'s
  * output so batch/stream parity is a column-for-column compare.
  */
final case class HoltEstimate(k: String, n_points: Long, level: Double, trend: Double)

/** One flagged reading from [[StreamingPipeline.anomalyStream]]: `z` is
  * the score against the baseline of `baselineN` PRIOR samples.
  */
final case class AnomalousReading(
    serverName: String,
    tag: String,
    doubleValue: Double,
    sourceTimestamp: Timestamp,
    z: Double,
    baselineN: Long)
