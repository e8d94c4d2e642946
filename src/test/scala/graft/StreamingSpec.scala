package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.model.{OpcValue, RawReading}
import graft.streaming.{KeyValueSink, KeyValueStoreProvider, KeyValueUpsertStore, StreamingPipeline}

/** In-memory [[KeyValueStoreProvider]] test double: a static map standing
  * in for the reference's Mongo collections (collection-per-server,
  * tag-keyed replace upserts), with lifecycle/upsert counters.
  */
class InMemoryKvProvider extends KeyValueStoreProvider {
  override def open(): KeyValueUpsertStore = new KeyValueUpsertStore {
    override def connect(): Unit = { InMemoryKvProvider.connects.incrementAndGet(); () }
    override def upsert(collection: String, key: String, doc: OpcValue): Unit = {
      InMemoryKvProvider.store.put((collection, key), doc)
      InMemoryKvProvider.upserts.incrementAndGet(); ()
    }
    override def close(): Unit = ()
  }
}

object InMemoryKvProvider {
  val store = new java.util.concurrent.ConcurrentHashMap[(String, String), OpcValue]()
  val upserts = new java.util.concurrent.atomic.AtomicInteger(0)
  val connects = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { store.clear(); upserts.set(0); connects.set(0) }
}

/** Streaming semantics (SURVEY.md §2.9): last-value-wins under out-of-order
  * arrival, stateful changelog, double-read dedup — driven by MemoryStream
  * micro-batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def raw(tag: String, v: String, t: String): RawReading =
    RawReading("srv1", tag, s"path/$tag", "Double", v, ts(t), ts(t), 192)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("foreachBatch merge: latest per (server, tag) survives across batches, late data loses") {
    import graft.streaming.TxTable
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val table = tmp("graft-current") + "/current"
    mem.addData(
      raw("t1", "1.0", "2024-06-01 10:00:00"),
      raw("t1", "2.0", "2024-06-01 10:00:05"),
      raw("t2", "7.5", "2024-06-01 10:00:01"))
    val q = StreamingPipeline.currentValueSink(
      StreamingPipeline.normalizeStream(mem.toDF()),
      table, tmp("graft-ckpt"), Trigger.AvailableNow()).start()
    q.awaitTermination()

    // batch 2: t1 late value (must NOT overwrite), t2 newer value (must win)
    mem.addData(
      raw("t1", "9.9", "2024-06-01 09:59:00"), // late — older than current
      raw("t2", "8.0", "2024-06-01 10:00:30"))
    val q2 = StreamingPipeline.currentValueSink(
      StreamingPipeline.normalizeStream(mem.toDF()),
      table, tmp("graft-ckpt2"), Trigger.AvailableNow()).start()
    q2.awaitTermination()

    // each micro-batch is one TxTable.mergeLatest commit
    assert(TxTable.history(table).map(_.op) == Seq("mergeLatest", "mergeLatest"))
    val cur = TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    assert(cur == Map("t1" -> 2.0, "t2" -> 8.0))
  }

  test("kvUpsertSink: per-batch reduced upserts; restart and full replay converge") {
    val conf =
      """mongodb://localhost:27017/graft
        |opc.tcp://host1:4840, 10, Server1
        |ns=1;s=P.Temp ,Double ,N ,Temp
        |ns=1;s=P.Count,Int32  ,N ,Count
        |""".stripMargin
    def run(ckpt: String, max: Int): Unit = {
      val stream = spark.readStream.format("opcsim")
        .option("config", conf).option("server", "Server1")
        .option("cyclesPerTrigger", 1).option("maxCycles", max)
        .load()
      val q = KeyValueSink.kvUpsertSink(
        StreamingPipeline.normalizeStream(stream),
        classOf[InMemoryKvProvider].getName, ckpt, Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    import graft.sources.OpcSimSource
    InMemoryKvProvider.reset()
    val ckpt = tmp("graft-kv-ckpt")
    run(ckpt, 3)
    // collection-per-server (reference Program.cs:1159), one doc per tag,
    // holding the FINAL cycle's value
    assert(InMemoryKvProvider.store.size() == 2)
    assert(InMemoryKvProvider.store.get(("Server1", "Count")).doubleValue
      == OpcSimSource.rawValue("Int32", 1, 3).toDouble)
    // external write volume is per-batch REDUCED: 3 micro-batches × 2 tags,
    // never per input row
    assert(InMemoryKvProvider.upserts.get() == 6)
    // restart resumes from the checkpoint: cycles 4..5 only
    run(ckpt, 5)
    assert(InMemoryKvProvider.upserts.get() == 10)
    assert(InMemoryKvProvider.store.get(("Server1", "Count")).doubleValue
      == OpcSimSource.rawValue("Int32", 1, 5).toDouble)
    // at-least-once redelivery: a FULL replay from a fresh checkpoint
    // re-upserts everything, and the replace contract converges the store
    // to the identical state (the reference's ReplaceOneAsync idempotence)
    val before = new java.util.HashMap(InMemoryKvProvider.store)
    run(tmp("graft-kv-ckpt2"), 5)
    assert(InMemoryKvProvider.store == before)
    // a bad provider class fails at sink construction, not inside tasks
    val e = intercept[IllegalArgumentException](
      KeyValueSink.resolveProvider("com.nosuch.KvProvider"))
    assert(e.getMessage.contains("cannot be instantiated"))
  }

  test("latestPerTagStateful emits only genuine updates per key") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val out = StreamingPipeline.latestPerTagStateful(
      StreamingPipeline.normalizeStream(mem.toDF()))
    mem.addData(
      raw("t1", "1.0", "2024-06-01 10:00:00"),
      raw("t1", "2.0", "2024-06-01 10:00:10"), // same batch: only this survives
      raw("t2", "5.0", "2024-06-01 10:00:00"),
      raw("t1", "0.5", "2024-06-01 09:00:00")) // stale in the same batch → never emitted
    val q = out.writeStream
      .format("memory").queryName("stateful_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt3"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val batch1 = spark.sql("SELECT tag, doubleValue FROM stateful_out")
      .as[(String, Double)].collect()
    assert(batch1.sorted.toSeq == Seq("t1" -> 2.0, "t2" -> 5.0))

    mem.addData(raw("t1", "0.5", "2024-06-01 09:00:00")) // stale → no emit
    val q2 = out.writeStream
      .format("memory").queryName("stateful_out2")
      .outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt4"))
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    // fresh checkpoint replays all data; stale t1 row still never wins
    val batch2 = spark.sql("SELECT tag, doubleValue FROM stateful_out2")
      .as[(String, Double)].collect().toMap
    assert(batch2("t1") == 2.0)
  }

  test("streamed history table feeds the batch time-series operators end-to-end") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val table = tmp("graft-cur2") + "/current"
    val history = tmp("graft-hist2") + "/history"
    // two days of readings for one tag with a one-day gap in the middle
    mem.addData(
      raw("t1", "10.0", "2024-06-01 10:00:00"),
      raw("t1", "14.0", "2024-06-01 16:00:00"),
      raw("t1", "30.0", "2024-06-03 09:00:00"))
    val q = StreamingPipeline.currentValueSink(
      StreamingPipeline.normalizeStream(mem.toDF()),
      table, tmp("graft-ckpt-hist"), Trigger.AvailableNow(),
      historyPath = Some(history)).start()
    q.awaitTermination()

    // the history table IS the analytics input: resample → grid → LOCF
    val hist = spark.read.parquet(history)
    val buckets = graft.operators.TimeSeries.resample(
      hist, "tag", "sourceTimestamp", "doubleValue", "day")
    val filled = graft.operators.TimeSeries.locf(
      graft.operators.TimeSeries.denseGrid(buckets, "tag", "bucket", "v", "1 day"),
      "tag", "bucket", "v")
      .orderBy("bucket")
      .select("v", "was_gap").as[(Double, Long)].collect()
    // day 1 avg = 12.0; day 2 is a gap carried forward; day 3 = 30.0
    assert(filled.toSeq === Seq((12.0, 0L), (12.0, 1L), (30.0, 0L)))
  }

  test("anomalyStream flags outliers against the prior baseline only") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val out = StreamingPipeline.anomalyStream(
      StreamingPipeline.normalizeStream(mem.toDF()),
      zThreshold = 3.0, minSamples = 10)
    // 12 calm readings around 10.0 (warm-up + baseline), then a spike,
    // then a calm reading again
    val calm = (0 until 12).map(i =>
      raw("t1", (10.0 + 0.1 * (i % 3)).toString, f"2024-06-01 10:00:${i}%02d"))
    mem.addData(calm :+
      raw("t1", "99.0", "2024-06-01 10:00:20") :+   // spike → flagged
      raw("t1", "10.1", "2024-06-01 10:00:21"): _*)  // calm → not flagged
    val q = out.writeStream
      .format("memory").queryName("anomaly_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-anom"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val flagged = spark.sql("SELECT tag, doubleValue, z, baselineN FROM anomaly_out")
      .as[(String, Double, Double, Long)].collect()
    assert(flagged.length == 1, s"only the spike flags: ${flagged.toSeq}")
    val (tag, v, z, n) = flagged.head
    assert(tag == "t1" && v == 99.0 && z > 3.0 && n >= 10)
    // the post-spike calm reading was judged against a baseline already
    // containing the spike (prior-state scoring) and still passed —
    // i.e. the spike polluted the variance, not the emission logic
  }

  test("holtStream: exact batch parity across trigger slicings") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[graft.streaming.HoltPoint]
    val out = StreamingPipeline.holtStream(mem.toDF(), alpha = 0.5, beta = 0.25)
    val q = out.writeStream.format("memory").queryName("holt_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-holt"))
      .start()
    def pt(k: String, s: Int, y: Double) =
      graft.streaming.HoltPoint(k, ts(f"2024-06-01 10:00:$s%02d"), y)
    // the a-series split MID-RECURRENCE across two triggers
    mem.addData(pt("a", 1, 10.0), pt("a", 2, 12.0), pt("b", 1, 5.0))
    q.processAllAvailable()
    mem.addData(pt("a", 3, 11.0), pt("a", 4, 15.0), pt("b", 2, 6.0))
    q.processAllAvailable()
    q.stop()
    val fin = spark.sql("SELECT k, n_points, level, trend FROM holt_out")
      .as[(String, Long, Double, Double)].collect()
      .groupBy(_._1).map { case (_, xs) => xs.maxBy(_._2) }.toSet
    // dyadic hand-fold: a = (13.171875, 0.67578125); b = (5.5, 0.125)
    assert(fin == Set(("a", 4L, 13.171875, 0.67578125), ("b", 2L, 5.5, 0.125)))
    // and bit-for-bit the BATCH operator's answer on the same series
    val batch = graft.operators.TimeSeries.holtSmooth(
      Seq(("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 11.0), ("a", 4, 15.0),
        ("b", 1, 5.0), ("b", 2, 6.0)).toDF("k", "t", "y"),
      Seq("k"), "t", "y", alpha = 0.5, beta = 0.25)
      .as[(String, Long, Double, Double)].collect().toSet
    assert(batch == fin)
  }

  test("cusumStream: exact batch parity across trigger slicings, alarms mid-stream") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[graft.streaming.HoltPoint]
    val out = StreamingPipeline.cusumStream(mem.toDF(),
      target = 10.0, slack = 2.0, threshold = 5.0)
    val q = out.writeStream.format("memory").queryName("cusum_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-cusum"))
      .start()
    def pt(k: String, s: Int, y: Double) =
      graft.streaming.HoltPoint(k, ts(f"2024-06-01 10:00:$s%02d"), y)
    // the hand-traced TimeSeriesSpec series, split MID-ALARM-RUN
    mem.addData(pt("a", 1, 10.0), pt("a", 2, 14.0), pt("a", 3, 15.0),
      pt("a", 4, 9.0))
    q.processAllAvailable()
    mem.addData(pt("a", 5, 1.0), pt("a", 6, 1.0), pt("a", 7, 10.0))
    q.processAllAvailable()
    q.stop()
    val fin = spark.sql(
      "SELECT k, n_points, n_alarms, first_alarm_i, sp_final, sn_final FROM cusum_out")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .groupBy(_._1).map { case (_, xs) => xs.maxBy(_._2) }.toSet
    assert(fin == Set(("a", 7L, 2L, 5L, 0.0, 0.0)))
    // bit-for-bit the batch operator on the same series
    val batch = graft.operators.TimeSeries.cusum(
      Seq(10.0, 14.0, 15.0, 9.0, 1.0, 1.0, 10.0).zipWithIndex
        .map { case (y, i) => ("a", i, y) }.toDF("k", "t", "y"),
      Seq("k"), "t", "y", 10.0, 2.0, 5.0)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSet
    assert(batch == fin)
  }

  test("windowedStats: tumbling windows with event-time watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val out = StreamingPipeline.windowedStats(
      StreamingPipeline.normalizeStream(mem.toDF()), "1 minute", "10 seconds")
    val q = out.writeStream
      .format("memory").queryName("win_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt5"))
      .start()
    mem.addData(
      raw("t1", "1.0", "2024-06-01 10:00:01"),
      raw("t1", "3.0", "2024-06-01 10:00:09"),
      raw("t1", "5.0", "2024-06-01 10:00:11"))
    q.processAllAvailable()
    // a later batch advances the watermark far enough to close the windows
    mem.addData(raw("t1", "0.0", "2024-06-01 10:05:00"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT window.start, n, avg_value, last_value FROM win_out ORDER BY 1")
      .as[(Timestamp, Long, Double, Double)].collect()
    assert(rows.length >= 2)
    val first = rows.head
    assert(first._2 == 2 && first._3 == 2.0 && first._4 == 3.0)
  }

  test("stream-static catalog enrichment broadcasts, attaches metadata") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val catalog = Seq(("srv1", "t1", "ns=1;s=t1", true), ("srv1", "t2", "ns=1;s=t2", false))
      .toDF("serverName", "tag", "opcPath2", "subscribe")
    val out = StreamingPipeline.enrichWithCatalog(
      StreamingPipeline.normalizeStream(mem.toDF()), catalog)
    mem.addData(raw("t1", "1.5", "2024-06-01 10:00:00"), raw("t3", "2.5", "2024-06-01 10:00:00"))
    val q = out.writeStream
      .format("memory").queryName("enrich_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt7"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql("SELECT tag, subscribe FROM enrich_out ORDER BY tag")
      .as[(String, Option[Boolean])].collect()
    assert(rows.toSeq == Seq(("t1", Some(true)), ("t3", None))) // left outer
  }

  test("stream-stream interval join with watermarks (streaming as-of shape)") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val clicks = MemoryStream[(String, java.sql.Timestamp)]
    val purchases = MemoryStream[(String, java.sql.Timestamp, Double)]
    val c = clicks.toDF().toDF("user", "cts").withWatermark("cts", "1 minute")
    val p = purchases.toDF().toDF("puser", "pts", "amount").withWatermark("pts", "1 minute")
    // purchase joins clicks at most 10 minutes before it — the event-time
    // range condition bounds both watermarked states (SURVEY §2.3 as-of)
    val joined = c.join(p,
      col("user") === col("puser") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + expr("interval 10 minutes"))

    clicks.addData(("u1", ts("2024-06-01 10:00:00")), ("u2", ts("2024-06-01 10:00:00")))
    purchases.addData(
      ("u1", ts("2024-06-01 10:05:00"), 5.0),   // within 10 min → match
      ("u2", ts("2024-06-01 10:30:00"), 9.0))   // outside range → no match
    val q = joined.writeStream
      .format("memory").queryName("ss_join")
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt8"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql("SELECT user, amount FROM ss_join")
      .as[(String, Double)].collect().toSet
    assert(rows == Set(("u1", 5.0)))
  }

  test("streaming session windows: gap-based sessions per tag with watermark") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, session_window, sum}
    val mem = MemoryStream[RawReading]
    // two sessions for t1 (gap > 30s between 10:00:20 and 10:02:00), one for t2
    mem.addData(
      raw("t1", "1.0", "2024-06-01 10:00:00"),
      raw("t1", "2.0", "2024-06-01 10:00:20"),
      raw("t1", "3.0", "2024-06-01 10:02:00"),
      raw("t2", "7.0", "2024-06-01 10:00:05"))
    val sessions = StreamingPipeline.normalizeStream(mem.toDF())
      .withWatermark("sourceTimestamp", "10 minutes")
      .groupBy(session_window(col("sourceTimestamp"), "30 seconds"), col("tag"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"),
        sum("doubleValue").as("total"))
    val q = sessions.writeStream
      .format("memory").queryName("session_out")
      .outputMode("complete")
      .option("checkpointLocation", tmp("graft-ckpt-sess"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql("SELECT tag, n, total FROM session_out")
      .as[(String, Long, Double)].collect().toSet
    assert(rows == Set(("t1", 2L, 3.0), ("t1", 1L, 3.0), ("t2", 1L, 7.0)))
  }

  test("dedupReadings drops poll/subscribe double-reads within the watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val out = StreamingPipeline.dedupReadings(
      StreamingPipeline.normalizeStream(mem.toDF()), "1 minute")
    val r = raw("t1", "1.0", "2024-06-01 10:00:00")
    mem.addData(r, r, raw("t2", "2.0", "2024-06-01 10:00:00"))
    val q = out.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt6"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = spark.sql("SELECT count(*) FROM dedup_out").as[Long].collect().head
    assert(n == 2)
  }

  test("streaming near-dup filter: cross-batch SimHash state drops near and exact dups") {
    import graft.streaming.StreamingDedup
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val ded = tmp("graft-dedup-ckpt")
    def run(): Unit = {
      val q = StreamingDedup.bandVerdicts(
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
        .toDF()
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          survivors.synchronized {
            survivors ++= StreamingDedup.novelDocs(b)
              .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
              .collect()
          }
          ()
        }
        .option("checkpointLocation", ded)
        .start()
      q.awaitTermination()
    }
    // batch 1: two distinct docs
    mem.addData((1L, base), (2L, "completely different content about spark physical plans " * 6))
    run()
    assert(survivors.sorted == Seq(1L, 2L))
    // batch 2 (separate trigger, state carried): an exact copy of 1, a
    // near-copy of 1 (one word changed), and a novel doc
    mem.addData(
      (3L, base),
      (4L, base.replaceFirst("lazy", "sleepy")),
      (5L, "a third unrelated subject entirely, streaming watermarks " * 6))
    run()
    assert(survivors.sorted == Seq(1L, 2L, 5L),
      s"exact (3) and near (4) duplicates must be dropped, got $survivors")
  }

  test("streaming heavy hitters: sketch carries across triggers and restarts") {
    import graft.streaming.StreamingHeavyHitters
    import StreamingHeavyHitters.ShardSummary
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val latest = scala.collection.mutable.Map[Int, ShardSummary]()
    val ckpt = tmp("graft-hh-ckpt")
    def run(): Unit = {
      val q = StreamingHeavyHitters
        .summaries(mem.toDF().toDF("item"), "item", nShards = 4, capacity = 64)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[ShardSummary], _: Long) =>
          latest.synchronized { b.collect().foreach(s => latest(s.shard) = s) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    // three triggers, each a fresh query over the same checkpoint (the
    // restart-resume path, same harness as the dedup test)
    mem.addData(Seq.fill(5)("a") ++ Seq.fill(3)("b") :+ "c": _*)
    run()
    mem.addData(Seq.fill(2)("a") ++ Seq.fill(4)("c") :+ "d": _*)
    run()
    mem.addData("b")
    run()
    // capacity ≫ distinct items → the sketch is exact: top-3 equals the
    // true counts a=7, c=5, b=4 with zero overestimate
    val top = StreamingHeavyHitters
      .topKFromSummaries(latest.values.toSeq.toDS().toDF(), 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(top == Seq(("a", 7L, 0L), ("c", 5L, 0L), ("b", 4L, 0L)), s"got $top")
    // per-shard totals account for every occurrence exactly once
    assert(latest.values.map(_.nSeen).sum == 17L)
  }

  test("streaming heavy hitters: capacity bounds state; heavy item survives eviction") {
    import graft.streaming.StreamingHeavyHitters
    import StreamingHeavyHitters.ShardSummary
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val latest = scala.collection.mutable.Map[Int, ShardSummary]()
    val ckpt = tmp("graft-hh2-ckpt")
    def run(): Unit = {
      val q = StreamingHeavyHitters
        .summaries(mem.toDF().toDF("item"), "item", nShards = 1, capacity = 2)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[ShardSummary], _: Long) =>
          latest.synchronized { b.collect().foreach(s => latest(s.shard) = s) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    mem.addData(Seq.fill(6)("x") ++ Seq("y", "z"): _*)
    run()
    mem.addData(Seq.fill(4)("x") ++ Seq("w"): _*)
    run()
    val s = latest(0)
    // state never exceeds capacity no matter the distinct-item count
    assert(s.items.length <= 2, s"state must stay bounded: ${s.items.toSeq}")
    // SpaceSaving guarantee: x (true count 10 > nSeen/capacity) must be
    // present, overestimated by at most its recorded err
    val xi = s.items.indexOf("x")
    assert(xi >= 0, s"heavy item evicted: ${s.items.toSeq}")
    assert(s.counts(xi) >= 10L && s.counts(xi) - s.errs(xi) <= 10L,
      s"estimate ${s.counts(xi)} err ${s.errs(xi)} vs true 10")
    assert(s.nSeen == 13L)
  }

  test("streaming LOCF resampler: event-time ticks, idle timeouts, dead-tag cutoff") {
    import graft.streaming.StreamingResample
    import StreamingResample.Tick
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val ticks = scala.collection.mutable.ArrayBuffer[Tick]()
    val ckpt = tmp("graft-locf-ckpt")
    def run(): Unit = {
      val q = StreamingResample.locfTicks(
          mem.toDF().toDF("tag", "ts", "v"), "tag", "ts", "v",
          tickMs = 10000L, watermarkDelay = "0 seconds", maxStale = 2)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Tick], _: Long) =>
          ticks.synchronized { ticks ++= b.collect() }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    def at(s: Long) = new Timestamp(s * 1000)
    // ticks fix only as the WATERMARK passes them (AvailableNow's trailing
    // no-data batch advances it within a run — emission timing is an
    // implementation detail; the per-key sequences below are the contract)
    mem.addData(("A", at(5), 1.0), ("A", at(12), 2.0), ("A", at(31), 3.0))
    run()
    mem.addData(("A", at(45), 4.0))
    run()
    mem.addData(("A", at(70), 5.0))
    run()
    // A goes idle; B's traffic drives the watermark from here. A's
    // event-time TIMEOUT emits its remaining ticks, then the stale
    // cutoff (maxStale=2) drops the dead tag
    mem.addData(("B", at(200), 9.0))
    run()
    mem.addData(("B", at(290), 9.5))
    run()
    val a = ticks.filter(_.key == "A").sortBy(_.tickMs)
      .map(t => (t.tickMs / 1000, t.value, t.stale)).toSeq
    assert(a == Seq(
      (10L, 1.0, false), (20L, 2.0, false), (30L, 2.0, true),
      (40L, 3.0, false), (50L, 4.0, false), (60L, 4.0, true),
      (70L, 5.0, false), (80L, 5.0, true), (90L, 5.0, true)), s"A ticks: $a")
    // B: tick 200 observed; 210/220 carried; the stale budget then spends
    // out but B's 290s event is already admitted — the resampler must
    // SUSPEND and resume at the event's boundary, never drop it
    val b = ticks.filter(_.key == "B").sortBy(_.tickMs)
      .map(t => (t.tickMs / 1000, t.value, t.stale)).toSeq
    assert(b == Seq((200L, 9.0, false), (210L, 9.0, true), (220L, 9.0, true),
      (290L, 9.5, false)), s"B ticks: $b")
    // ordering invariant: ticks strictly increase per key, no duplicates
    assert(a.map(_._1) == a.map(_._1).sorted && a.map(_._1).distinct == a.map(_._1))
  }

  test("streaming as-of enrichment: latest reading <= probe ts across runs and restarts") {
    import graft.streaming.StreamingAsOf
    implicit val sc = spark.sqlContext
    val probes = MemoryStream[(String, Timestamp)]
    val readings = MemoryStream[(String, Timestamp, Double)]
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Option[Long], Option[Double])]()
    val ckpt = tmp("graft-asof-ckpt")
    def run(): Unit = {
      val q = StreamingAsOf.enrich(
          probes.toDF().toDF("key", "ts"),
          readings.toDF().toDF("key", "ts", "value"),
          lookback = "60 seconds", watermarkDelay = "10 seconds")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map { r =>
            (r.getString(0), r.getTimestamp(1).getTime / 1000,
              Option(r.getTimestamp(2)).map(_.getTime / 1000),
              if (r.isNullAt(3)) None else Some(r.getDouble(3)))
          }
          out.synchronized { out ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    def at(s: Long) = new Timestamp(s * 1000)
    // run 1: A has two candidates ≤ probe(100) — the LATER one (ts 90)
    // must win; the ts-50 reading is in range but older. B's only
    // reading is AFTER its probe → NULL enrichment (left semantics).
    // C's reading is in range of nothing (no probe).
    probes.addData(("A", at(100)), ("B", at(100)))
    readings.addData(
      ("A", at(50), 1.0), ("A", at(90), 2.0),
      ("B", at(120), 7.0), ("C", at(80), 9.9))
    run()
    // run 2 (restart from checkpoint): a probe BEFORE the lookback edge —
    // reading at 90 is 110s before probe(200) > 60s lookback → NULL; a
    // fresh reading at 170 is in range and wins over nothing else.
    probes.addData(("A", at(200)))
    readings.addData(("A", at(170), 3.0))
    run()
    // run 3: same-ts tie — two readings at ts 250: the larger value is
    // the documented deterministic tie-break; watermark-advancing
    // sentinels on BOTH streams (min-policy) fix every earlier probe.
    probes.addData(("A", at(260)), ("A", at(1000)))
    readings.addData(("A", at(250), 5.0), ("A", at(250), 4.0), ("A", at(1000), 0.0))
    probes.addData(("Z", at(2000)))
    readings.addData(("Z", at(2000), 0.0))
    run()
    val got = out.sortBy(r => (r._1, r._2)).toList
    val want = List(
      ("A", 100L, Some(90L), Some(2.0)),
      ("A", 200L, Some(170L), Some(3.0)),
      ("A", 260L, Some(250L), Some(5.0)),
      ("A", 1000L, Some(1000L), Some(0.0)),
      ("B", 100L, None, None))
    // the final sentinel probes (Z/2000, A/1000 may lag the last
    // watermark) — assert the pinned prefix exactly, tolerate only
    // sentinel rows beyond it
    val core = got.filter(r => r._2 <= 1000L)
    assert(core == want, s"as-of sequence:\n got=$core\n want=$want")
  }

  test("streaming FORWARD as-of: earliest reading >= probe ts within lookahead") {
    import graft.streaming.StreamingAsOf
    implicit val sc = spark.sqlContext
    val probes = MemoryStream[(String, Timestamp)]
    val readings = MemoryStream[(String, Timestamp, Double)]
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Option[Long], Option[Double])]()
    val ckpt = tmp("graft-asoffwd-ckpt")
    def run(): Unit = {
      val q = StreamingAsOf.enrichForward(
          probes.toDF().toDF("key", "ts"),
          readings.toDF().toDF("key", "ts", "value"),
          lookahead = "60 seconds", watermarkDelay = "10 seconds")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map { r =>
            (r.getString(0), r.getTimestamp(1).getTime / 1000,
              Option(r.getTimestamp(2)).map(_.getTime / 1000),
              if (r.isNullAt(3)) None else Some(r.getDouble(3)))
          }
          out.synchronized { out ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    def at(s: Long) = new Timestamp(s * 1000)
    // run 1: A@100 has candidates at 110 and 130 — the EARLIER one wins
    // (forward = first at-or-after); B@100's only reading is BEFORE the
    // probe → NULL once its window closes.
    probes.addData(("A", at(100)), ("B", at(100)))
    readings.addData(
      ("A", at(110), 1.0), ("A", at(130), 2.0), ("B", at(90), 7.0))
    run()
    // run 2 (restart): A@200's nearest future reading (290) is beyond
    // the 60 s lookahead → NULL; C@300 matches its 320 reading.
    probes.addData(("A", at(200)), ("C", at(300)))
    readings.addData(("A", at(290), 3.0), ("C", at(320), 4.0))
    run()
    // run 3: same-ts tie at the probe's own instant (gap 0, inclusive):
    // min-struct tie-break picks the SMALLER value; sentinels advance
    // both watermarks past every open window.
    probes.addData(("A", at(400)), ("A", at(2000)))
    readings.addData(("A", at(400), 5.0), ("A", at(400), 4.0), ("A", at(2000), 0.0))
    probes.addData(("Z", at(4000)))
    readings.addData(("Z", at(4000), 0.0))
    run()
    val got = out.sortBy(r => (r._1, r._2)).toList
    val want = List(
      ("A", 100L, Some(110L), Some(1.0)),
      ("A", 200L, None, None),
      ("A", 400L, Some(400L), Some(4.0)),
      ("B", 100L, None, None),
      ("C", 300L, Some(320L), Some(4.0)))
    val core = got.filter(r => r._2 <= 400L)
    assert(core == want, s"forward as-of sequence:\n got=$core\n want=$want")
  }

  test("streaming NEAREST as-of: closest reading, backward on tie, parity with batch") {
    import graft.streaming.StreamingAsOf
    implicit val sc = spark.sqlContext
    val probes = MemoryStream[(String, Timestamp)]
    val readings = MemoryStream[(String, Timestamp, Double)]
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Option[Long], Option[Double])]()
    val ckpt = tmp("graft-asofnear-ckpt")
    def run(): Unit = {
      val q = StreamingAsOf.enrichNearest(
          probes.toDF().toDF("key", "ts"),
          readings.toDF().toDF("key", "ts", "value"),
          lookback = "60 seconds", lookahead = "60 seconds",
          watermarkDelay = "10 seconds")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map { r =>
            (r.getString(0), r.getTimestamp(1).getTime / 1000,
              Option(r.getTimestamp(2)).map(_.getTime / 1000),
              if (r.isNullAt(3)) None else Some(r.getDouble(3)))
          }
          out.synchronized { out ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    def at(s: Long) = new Timestamp(s * 1000)
    val allProbes = scala.collection.mutable.ArrayBuffer[(String, Timestamp)]()
    val allReadings = scala.collection.mutable.ArrayBuffer[(String, Timestamp, Double)]()
    def addP(rows: (String, Timestamp)*): Unit = { allProbes ++= rows; probes.addData(rows) }
    def addR(rows: (String, Timestamp, Double)*): Unit = { allReadings ++= rows; readings.addData(rows) }
    // run 1: A@100 — behind at 80 (gap 20) vs ahead at 110 (gap 10): the
    // FORWARD one is closer and must win despite backward preference.
    // B@100 — gap tie (90 vs 110, both 10): BACKWARD wins.
    addP(("A", at(100)), ("B", at(100)))
    addR(("A", at(80), 1.0), ("A", at(110), 2.0),
      ("B", at(90), 3.0), ("B", at(110), 4.0))
    run()
    // run 2 (restart from checkpoint): per-direction tolerance — A@300's
    // only candidates are 80 s behind and 50 s ahead; the behind one is
    // OUT of the 60 s lookback, so the farther-in-seconds forward
    // candidate is the only admissible match. C@300 has nothing in
    // range at all -> NULL.
    addP(("A", at(300)), ("C", at(300)))
    addR(("A", at(220), 5.0), ("A", at(350), 6.0), ("C", at(500), 7.0))
    run()
    // run 3: probe exactly on a reading (gap 0 beats everything);
    // sentinels push both watermarks past every open lookahead window
    addP(("A", at(600)), ("A", at(3000)))
    addR(("A", at(600), 8.0), ("A", at(590), 9.0), ("A", at(3000), 0.0))
    addP(("Z", at(5000)))
    addR(("Z", at(5000), 0.0))
    run()
    val got = out.filter(_._2 <= 600L).sortBy(r => (r._1, r._2)).toList
    val want = List(
      ("A", 100L, Some(110L), Some(2.0)),
      ("A", 300L, Some(350L), Some(6.0)),
      ("A", 600L, Some(600L), Some(8.0)),
      ("B", 100L, Some(90L), Some(3.0)),
      ("C", 300L, None, None))
    assert(got == want, s"nearest as-of sequence:\n got=$got\n want=$want")

    // PARITY: the batch nearest as-of over the SAME accumulated data
    // must produce the identical enrichment for every emitted probe
    import graft.operators.AsOfJoin
    val bl = allProbes.toSeq.toDF("key", "ts")
    val br = allReadings.toSeq.toDF("key", "ts", "value")
      .withColumn("rts_copy", org.apache.spark.sql.functions.col("ts"))
    val batch = AsOfJoin.leftAsOf(bl, br, "key", "ts",
        Seq("value", "rts_copy"), direction = "nearest",
        toleranceMicros = Some(60L * 1000 * 1000))
      .collect().map { r =>
        (r.getString(0), r.getTimestamp(1).getTime / 1000,
          Option(r.getTimestamp(3)).map(_.getTime / 1000),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      }
      .filter(_._2 <= 600L).sortBy(r => (r._1, r._2)).toList
    assert(batch == got, s"batch/streaming divergence:\n batch=$batch\n stream=$got")
  }

  test("streaming quantiles: exact under capacity, bounded and deterministic over it") {
    import graft.streaming.StreamingQuantiles
    import StreamingQuantiles.QuantileSnapshot
    implicit val sc = spark.sqlContext
    def runAll(capacity: Int, ckpt: String, batches: Seq[Seq[(String, Double)]],
        sink: scala.collection.mutable.Map[String, QuantileSnapshot]): Unit = {
      val mem = MemoryStream[(String, Double)]
      batches.foreach { batch =>
        mem.addData(batch: _*)
        val q = StreamingQuantiles
          .snapshots(mem.toDF().toDF("tag", "v"), "tag", "v", capacity)
          .writeStream
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[QuantileSnapshot], _: Long) =>
            sink.synchronized { b.collect().foreach(s => sink(s.key) = s) }
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      }
    }
    // capacity ≥ n: nearest-rank quantiles are exact (1..100 across two
    // triggers + restarts)
    val exact = scala.collection.mutable.Map[String, QuantileSnapshot]()
    runAll(256, tmp("graft-q-ckpt"), Seq(
      (1 to 60).map(i => ("A", i.toDouble)),
      (61 to 100).map(i => ("A", i.toDouble))), exact)
    val a = exact("A")
    assert(a.n == 100L && a.min == 1.0 && a.max == 100.0)
    assert((a.p50, a.p90, a.p99) == ((50.0, 90.0, 99.0)), s"got $a")
    // capacity 8 under 1000 skew-shuffled values: exact extremes/count,
    // sane bounded estimates — and bit-identical across two fresh runs
    // (the deterministic-reservoir contract)
    val rnd = new scala.util.Random(3)
    val vals = rnd.shuffle((1 to 1000).toList).map(_.toDouble)
    val batches = vals.grouped(400).map(g => g.map(("B", _))).toSeq
    val s1 = scala.collection.mutable.Map[String, QuantileSnapshot]()
    val s2 = scala.collection.mutable.Map[String, QuantileSnapshot]()
    runAll(8, tmp("graft-q2-ckpt"), batches, s1)
    runAll(8, tmp("graft-q3-ckpt"), batches, s2)
    val b1 = s1("B")
    assert(b1.n == 1000L && b1.min == 1.0 && b1.max == 1000.0)
    assert(b1.p50 > 1.0 && b1.p99 <= 1000.0 && b1.p50 <= b1.p90 && b1.p90 <= b1.p99)
    assert(b1 == s2("B"), s"reservoir must be deterministic: $b1 vs ${s2("B")}")
  }

  // ======================= TxTable (ACID merge sink) =======================

  private def txBatch(rows: (String, String, String, Double)*) =
    rows.map { case (srv, tag, t, v) => (srv, tag, v, ts(t), ts(t)) }
      .toDF("serverName", "tag", "doubleValue", "serverTimestamp", "sourceTimestamp")

  test("TxTable.mergeLatest: upserts, late data loses, re-merge is content-idempotent") {
    import graft.streaming.TxTable
    val table = tmp("graft-tx") + "/tbl"
    val b1 = txBatch(
      ("srvA", "t1", "2024-06-01 10:00:00", 1.0),
      ("srvA", "t1", "2024-06-01 10:00:05", 2.0),
      ("srvA", "t2", "2024-06-01 10:00:01", 7.5))
    val v1 = TxTable.mergeLatest(spark, b1, table)
    assert(v1 == 0L)
    def cur(): Map[String, Double] = TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    assert(cur() == Map("t1" -> 2.0, "t2" -> 7.5))

    // late arrival must not regress t1; newer t2 must win
    TxTable.mergeLatest(spark, txBatch(
      ("srvA", "t1", "2024-06-01 09:59:00", 9.9),
      ("srvA", "t2", "2024-06-01 10:00:30", 8.0)), table)
    assert(cur() == Map("t1" -> 2.0, "t2" -> 8.0))

    // re-merging an already-applied batch advances the version but not
    // the content (micro-batch retry = exactly-once in effect)
    val before = cur()
    val v3 = TxTable.mergeLatest(spark, b1, table)
    assert(v3 > v1 && cur() == before)
  }

  test("TxTable delta upserts: O(batch) commits, merge-on-read, compaction folds") {
    import graft.streaming.TxTable
    val table = tmp("graft-tx-delta") + "/tbl"
    def latest(): Map[(String, String), Double] =
      TxTable.readMerged(spark, table).get
        .select("serverName", "tag", "doubleValue")
        .as[(String, String, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    // three delta commits to srvA: directories ACCUMULATE (nothing is
    // rewritten — the O(batch) commit) and keys overlap across them
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:00", 1.0),
      ("srvB", "t1", "2024-06-01 10:00:00", 5.0)), table)
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:05", 2.0),
      ("srvA", "t2", "2024-06-01 10:00:01", 7.0)), table)
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:02", 9.9)), table) // late: must lose
    val preSnap = TxTable.snapshot(table)
    assert(preSnap.filesByPartition("srvA").size == 3,
      s"delta dirs must accumulate: ${preSnap.filesByPartition}")
    assert(latest() == Map(("srvA", "t1") -> 2.0, ("srvA", "t2") -> 7.0,
      ("srvB", "t1") -> 5.0))
    // raw read still exposes the deltas as written (time-travel shape):
    // 2 + 2 + 1 rows across the three commits
    assert(TxTable.read(spark, table).get.count() == 5)
    // mergeLatest COMPOSES with delta history (it latestPerKey's its reads)
    TxTable.mergeLatest(spark, txBatch(
      ("srvB", "t2", "2024-06-01 10:00:09", 6.0)), table)
    assert(latest() == Map(("srvA", "t1") -> 2.0, ("srvA", "t2") -> 7.0,
      ("srvB", "t1") -> 5.0, ("srvB", "t2") -> 6.0))
    // compaction folds srvA's three deltas to ONE collapsed dir; the
    // last-value view is unchanged; superseded rows are gone from raw
    val before = latest()
    val v = TxTable.compact(spark, table)
    assert(v == TxTable.snapshot(table).version)
    val snap = TxTable.snapshot(table)
    assert(snap.filesByPartition.values.forall(_.size == 1),
      s"one dir per partition after compact: ${snap.filesByPartition}")
    assert(latest() == before)
    assert(TxTable.read(spark, table).get.count() == 4, "superseded delta rows dropped")
    // pre-compaction version still replays until vacuumed (raw deltas)
    assert(TxTable.readAt(spark, table, preSnap.version).get.count() == 5)
    // idempotent when nothing is over threshold
    assert(TxTable.compact(spark, table) == -1L)
    // vacuum reclaims the folded deltas; live view intact; writes continue
    assert(TxTable.vacuum(table, minAgeMs = 0L).nonEmpty)
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:30", 3.0)), table)
    assert(latest() == before + (("srvA", "t1") -> 3.0))
  }

  test("TxTable.mergeLatest rewrites only the partitions present in the batch") {
    import graft.streaming.TxTable
    val table = tmp("graft-txpart") + "/tbl"
    TxTable.mergeLatest(spark, txBatch(
      ("srvA", "a1", "2024-06-01 10:00:00", 1.0),
      ("srvB", "b1", "2024-06-01 10:00:00", 2.0)), table)
    val filesA = TxTable.snapshot(table).filesByPartition("srvA")
    TxTable.mergeLatest(spark, txBatch(
      ("srvB", "b1", "2024-06-01 10:01:00", 9.0)), table)
    assert(TxTable.snapshot(table).filesByPartition("srvA") == filesA,
      "untouched partition's files must stay referenced, not rewritten")
    val cur = TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    assert(cur == Map("a1" -> 1.0, "b1" -> 9.0))
  }

  test("TxTable: concurrent writers race, lose, rebase — no update is lost") {
    import graft.streaming.TxTable
    val table = tmp("graft-txconc") + "/tbl"
    // seed so concurrent merges contend on the SAME partition's files
    TxTable.mergeLatest(spark, txBatch(("srvA", "seed", "2024-06-01 09:00:00", 0.0)), table)
    val nWriters = 4
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(nWriters)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to nWriters).map { i =>
        Future {
          TxTable.mergeLatest(spark, txBatch(
            ("srvA", s"tag$i", "2024-06-01 10:00:00", i.toDouble),
            ("srvA", "shared", s"2024-06-01 10:00:0$i", i.toDouble)), table)
        }
      }
      Await.result(Future.sequence(futures), 120.seconds)
    } finally pool.shutdown()
    // every writer's private tag landed; the shared tag holds the value
    // with the LATEST timestamp (writer 4) regardless of commit order;
    // the log is a contiguous serial history
    val cur = TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    (1 to nWriters).foreach(i => assert(cur(s"tag$i") == i.toDouble, s"lost tag$i"))
    assert(cur("shared") == nWriters.toDouble)
    val snap = TxTable.snapshot(table)
    assert(snap.version == nWriters.toLong, s"expected ${nWriters + 1} commits, got ${snap.version + 1}")
  }

  test("TxTable.read with a partition list opens only those partitions") {
    import graft.streaming.TxTable
    val table = tmp("graft-txpread") + "/tbl"
    TxTable.mergeLatest(spark, txBatch(
      ("srvA", "a1", "2024-06-01 10:00:00", 1.0),
      ("srvB", "b1", "2024-06-01 10:00:00", 2.0)), table)
    val onlyA = TxTable.read(spark, table, Some(Seq("srvA"))).get
    assert(onlyA.select("tag").as[String].collect().toSeq == Seq("a1"))
    // unknown partition → no files → None
    assert(TxTable.read(spark, table, Some(Seq("srvZ"))).isEmpty)
    // empty/uninitialized table → None
    assert(TxTable.read(spark, tmp("graft-txempty") + "/none").isEmpty)
  }

  test("TxTable time travel: readAt rebuilds each version; diff composes as CDC") {
    import graft.streaming.TxTable
    val table = tmp("graft-txtt") + "/tbl"
    // v0: two tags; v1: t1 updated; v2: t3 added — record expected states
    TxTable.mergeLatest(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:00", 1.0),
      ("srvA", "t2", "2024-06-01 10:00:00", 2.0)), table)
    TxTable.mergeLatest(spark,
      txBatch(("srvA", "t1", "2024-06-01 10:01:00", 5.0)), table)
    TxTable.mergeLatest(spark,
      txBatch(("srvA", "t3", "2024-06-01 10:02:00", 3.0)), table)
    def at(v: Long): Map[String, Double] = TxTable.readAt(spark, table, v).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    assert(at(0) == Map("t1" -> 1.0, "t2" -> 2.0))
    assert(at(1) == Map("t1" -> 5.0, "t2" -> 2.0))
    assert(at(2) == Map("t1" -> 5.0, "t2" -> 2.0, "t3" -> 3.0))
    // head read and pinned head read agree
    assert(at(2) == TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap)
    // version-to-version CDC via Snapshot.diff
    val delta = graft.operators.Snapshot.diff(
      TxTable.readAt(spark, table, 0).get.select("tag", "doubleValue"),
      TxTable.readAt(spark, table, 2).get.select("tag", "doubleValue"),
      "tag").as[(String, String)].collect().toMap
    assert(delta == Map("t1" -> "changed", "t3" -> "added"))
    // beyond HEAD: refuse, never return a nearby state
    intercept[IllegalArgumentException](TxTable.snapshotAt(table, 99L))
  }

  test("TxTable time travel past checkpoints; vacuumed history refuses") {
    import graft.streaming.TxTable
    val table = tmp("graft-txttc") + "/tbl"
    // 25 synthetic commits cross two checkpoint boundaries (interval 10)
    new java.io.File(table, "_log").mkdirs()
    (0 to 24).foreach { v =>
      TxTable.publishCommit(table, v.toLong,
        Seq(s"add\tsrvA\tfile-$v.parquet") ++
          (if (v > 0) Seq(s"remove\tfile-${v - 1}.parquet") else Nil))
      TxTable.maybeCheckpoint(table, v.toLong)
    }
    // mid-history versions rebuild exactly one live file each
    Seq(0L, 9L, 10L, 17L, 24L).foreach { v =>
      val snap = TxTable.snapshotAt(table, v)
      assert(snap.version == v && snap.allFiles == Seq(s"file-$v.parquet"), s"v$v")
    }
    // simulate vacuum of the pre-checkpoint prefix: versions before the
    // first retained checkpoint become non-reconstructible and must THROW
    (0 to 9).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, "_log", f"$v%020d.commit"))
    }
    intercept[IllegalArgumentException](TxTable.snapshotAt(table, 5L))
    // versions at/after the surviving checkpoint still rebuild
    assert(TxTable.snapshotAt(table, 17L).allFiles == Seq("file-17.parquet"))
  }

  test("TxTable time travel refuses header-less (pre-header-build) checkpoints") {
    import graft.streaming.TxTable
    val table = tmp("graft-txlegacy") + "/tbl"
    new java.io.File(table, "_log").mkdirs()
    (0 to 12).foreach { v =>
      TxTable.publishCommit(table, v.toLong,
        Seq(s"add\tsrvA\tfile-$v.parquet") ++
          (if (v > 0) Seq(s"remove\tfile-${v - 1}.parquet") else Nil))
    }
    // a pre-header-build checkpoint: NAMED 10 but holding state 12 (the
    // old code named by trigger version under concurrent writers), and no
    // version header to verify against
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "_log", "0" * 18 + "10.checkpoint"),
      "add\tsrvA\tfile-12.parquet".getBytes("UTF-8"))
    // while the commit prefix survives, time travel ignores the
    // untrusted file and rebuilds correctly from commits alone
    assert(TxTable.snapshotAt(table, 10L).allFiles == Seq("file-10.parquet"))
    // once the prefix is vacuumed, the poisoned checkpoint must NOT be
    // silently trusted — refuse loudly instead of returning state 12 as 10
    (0 to 9).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, "_log", f"$v%020d.commit"))
    }
    val e = intercept[IllegalArgumentException](TxTable.snapshotAt(table, 10L))
    assert(e.getMessage.contains("no verifiable checkpoint anchor"))
    // head reads refuse too (r15 hardening): an untrusted checkpoint is
    // indistinguishable from a TRUNCATED one, and a truncated listing
    // loses files that later commits never re-add — the old "commits
    // after the anchor fix it" reasoning only covered naming races, not
    // damage. Loud beats silently-partial.
    val eh = intercept[IllegalStateException](TxTable.snapshot(table))
    assert(eh.getMessage.contains("not anchored"))
  }

  test("TxTable checkpoints are version-EXACT states (concurrent-writer over-capture)") {
    import graft.streaming.TxTable
    val table = tmp("graft-txck") + "/tbl"
    new java.io.File(table, "_log").mkdirs()
    (0 to 11).foreach { v =>
      TxTable.publishCommit(table, v.toLong,
        Seq(s"add\tsrvA\tfile-$v.parquet") ++
          (if (v > 0) Seq(s"remove\tfile-${v - 1}.parquet") else Nil))
    }
    // the interval trigger fires for version 10, but by now the log is at
    // 11 (a concurrent writer won the race): the checkpoint must be NAMED
    // by the state it captured (11), never by the trigger version — a
    // '10.checkpoint' holding v11's files would make snapshotAt(10)
    // silently return v11 rows labeled as version 10
    TxTable.maybeCheckpoint(table, 10L)
    assert(new java.io.File(table, "_log/" + "0" * 18 + "11.checkpoint").exists())
    assert(!new java.io.File(table, "_log/" + "0" * 18 + "10.checkpoint").exists())
    assert(TxTable.snapshotAt(table, 10L).allFiles == Seq("file-10.parquet"))
    assert(TxTable.snapshotAt(table, 11L).allFiles == Seq("file-11.parquet"))
  }

  test("TxTable.vacuum reclaims only unreferenced data dirs, honoring min age") {
    import graft.streaming.TxTable
    val table = tmp("graft-txvac") + "/tbl"
    TxTable.mergeLatest(spark, txBatch(("srvA", "t1", "2024-06-01 10:00:00", 1.0)), table)
    TxTable.mergeLatest(spark, txBatch(("srvA", "t1", "2024-06-01 10:01:00", 2.0)), table)
    // v0's file is now unreferenced; age guard keeps it, zero age reclaims
    assert(TxTable.vacuum(table).isEmpty, "min-age guard must keep young files")
    val removed = TxTable.vacuum(table, minAgeMs = 0L)
    assert(removed.size == 1)
    val cur = TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    assert(cur == Map("t1" -> 2.0))
  }

  test("TxTable checkpoints the log every interval; vacuum prunes subsumed commits") {
    import graft.streaming.TxTable
    val table = tmp("graft-txckptlog") + "/tbl"
    // drive past one checkpoint interval (versions 0..11)
    (0 to 11).foreach { i =>
      TxTable.mergeLatest(spark, txBatch(
        ("srvA", s"t${i % 3}", f"2024-06-01 10:00:${i}%02d", i.toDouble)), table)
    }
    val logFiles = Option(new java.io.File(table, "_log").listFiles()).toSeq.flatten
      .map(_.getName).sorted
    assert(logFiles.exists(_.endsWith(".checkpoint")),
      s"expected a checkpoint in $logFiles")
    def cur(): Map[String, Double] = TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    val before = cur()
    assert(before == Map("t0" -> 9.0, "t1" -> 10.0, "t2" -> 11.0))

    // prune subsumed commits + orphaned data; snapshot must be unchanged
    TxTable.vacuum(table, minAgeMs = 0L)
    val afterNames = Option(new java.io.File(table, "_log").listFiles()).toSeq.flatten
      .map(_.getName)
    assert(!afterNames.exists(n => n.endsWith(".commit") &&
      n.stripSuffix(".commit").toLong <= 10L),
      s"commits at or below the checkpoint must be pruned: $afterNames")
    assert(afterNames.count(_.endsWith(".checkpoint")) <= 1,
      s"superseded checkpoints must be pruned too: $afterNames")
    assert(cur() == before, "vacuum must not change the visible snapshot")
    // and the table keeps working after the prune
    TxTable.mergeLatest(spark, txBatch(("srvA", "t0", "2024-06-01 11:00:00", 99.0)), table)
    assert(cur()("t0") == 99.0)
  }

  test("TxTable.snapshot retries when a vacuum races the directory listing") {
    import graft.streaming.TxTable
    val table = tmp("graft-txracesnap") + "/tbl"
    // versions 0..9 — below the checkpoint interval, so a reader's listing
    // taken NOW sees only plain commits
    (0 to 9).foreach { i =>
      TxTable.mergeLatest(spark, txBatch(
        ("srvA", s"t${i % 3}", f"2024-06-01 10:00:${i}%02d", i.toDouble)), table)
    }
    val stale = Option(new java.io.File(table, "_log").listFiles()).toSeq.flatten
    // another writer crosses the interval (checkpoint v10), then a vacuum
    // prunes the subsumed commits the stale listing still references
    TxTable.mergeLatest(spark, txBatch(
      ("srvA", "t0", "2024-06-01 10:00:10", 10.0)), table)
    TxTable.vacuum(table, minAgeMs = 0L)
    // one replay pass over the stale listing hits the deleted files — the
    // exact race of the round-3 ADVICE finding...
    intercept[java.nio.file.NoSuchFileException] { TxTable.replay(stale) }
    // ...which snapshot() absorbs by re-listing and replaying fresh
    val snap = TxTable.snapshot(table)
    assert(snap.version == 10L)
    val cur = TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    assert(cur == Map("t0" -> 10.0, "t1" -> 7.0, "t2" -> 8.0))
  }

  test("TxTable anchored replay opens O(interval) log files on a 123-commit history") {
    import graft.streaming.TxTable
    val table = tmp("graft-txanchor") + "/tbl"
    // synthetic commit history (no Spark job per version): commit v adds
    // data/f<v> and removes data/f<v-1>, checkpointing every interval
    val n = 123
    (0 to n).foreach { v =>
      val lines = Seq(s"add\tsrvA\tdata/f$v") ++
        (if (v > 0) Seq(s"remove\tdata/f${v - 1}") else Nil)
      TxTable.publishCommit(table, v, lines)
      TxTable.maybeCheckpoint(table, v)
    }
    val (snap, read) = TxTable.anchoredReplay(table).get
    assert(snap.version == n)
    assert(snap.allFiles == Seq(s"data/f$n"))
    // the log retains >100 files, but the anchored path opens only the
    // anchor checkpoint (v120) + the commits after it (121..123)
    val logDir = new java.io.File(table, "_log")
    assert(Option(logDir.listFiles()).toSeq.flatten.size > 100)
    assert(read.size <= TxTable.CheckpointInterval + 2,
      s"anchored replay read ${read.size} files: ${read.map(_.getName)}")
    assert(read.head.getName.endsWith(".checkpoint"))
    // identical result to the full-listing replay
    val full = TxTable.replay(Option(logDir.listFiles()).toSeq.flatten)
    assert(full.version == snap.version &&
      full.filesByPartition == snap.filesByPartition)
    // no/stale hint degrades to the listing path, same answer
    assert(new java.io.File(logDir, "_last_checkpoint").delete())
    assert(TxTable.anchoredReplay(table).isEmpty)
    assert(TxTable.snapshot(table).version == n)
  }

  test("TxTable.mergeLatest drops null-partition rows instead of failing the batch") {
    import graft.streaming.TxTable
    val table = tmp("graft-txnull") + "/tbl"
    val withNull = Seq(
      (Option("srvA"), "t1", ts("2024-06-01 10:00:00"), 1.0),
      (Option.empty[String], "t2", ts("2024-06-01 10:00:00"), 2.0))
      .toDF("serverName", "tag", "serverTimestamp", "doubleValue")
      .withColumn("sourceTimestamp",
        org.apache.spark.sql.functions.col("serverTimestamp"))
    TxTable.mergeLatest(spark, withNull, table) // must not throw
    val cur = TxTable.read(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    assert(cur == Map("t1" -> 1.0))
  }

  test("TxTable streaming sink: current-value table across micro-batches") {
    import graft.streaming.TxTable
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val table = tmp("graft-txsink") + "/tbl"
    // one running query, one checkpoint: each micro-batch is one table version
    val q = StreamingPipeline.currentValueSink(
      StreamingPipeline.normalizeStream(mem.toDF()),
      table, tmp("graft-txckpt"), Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(
        raw("t1", "1.0", "2024-06-01 10:00:00"),
        raw("t1", "2.0", "2024-06-01 10:00:05"),
        raw("t2", "7.5", "2024-06-01 10:00:01"))
      q.processAllAvailable()
      mem.addData(
        raw("t1", "9.9", "2024-06-01 09:59:00"), // late
        raw("t2", "8.0", "2024-06-01 10:00:30"))
      q.processAllAvailable()
    } finally q.stop()
    def cur(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.select("tag", "doubleValue").as[(String, Double)].collect().toMap
    val hist = TxTable.history(table)
    assert(hist.map(_.op) == Seq("mergeLatest", "mergeLatest"))
    assert(cur(TxTable.readAt(spark, table, hist.last.version).get)
      == Map("t1" -> 2.0, "t2" -> 7.5), "first micro-batch's version")
    assert(cur(TxTable.read(spark, table).get) == Map("t1" -> 2.0, "t2" -> 8.0))
  }

  test("streaming index probe: stateless band probe against the corpus index") {
    import graft.streaming.StreamingIndexProbe
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content with no overlap whatsoever here"),
      (3L, "spark structured streaming with watermarks and state stores")
    ).toDF("doc_id", "text")
    val index = graft.operators.Dedup.buildLshIndex(corpus, "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[(Long, Long, Double)]()
    val ckpt = tmp("graft-probe-ckpt")
    // the probe handle owns the two cached static relations (ADVICE r8
    // #4) — closed after the final run below
    val probe = StreamingIndexProbe.nearDupAgainstIndex(
      mem.toDF().toDF("doc_id", "text"), index, "doc_id", "text")
    def run(): Unit = {
      val q = probe.output
        .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            b.collect().foreach(r =>
              got += ((r.getLong(0), r.getLong(1),
                math.rint(r.getDouble(2) * 1000) / 1000)))
          }
          ()
        }
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    mem.addData(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // = doc 1
      (11L, "totally unrelated text about databases and storage engines"))
    run()
    // second trigger (and restart): stateless — corpus matches keep working
    mem.addData(
      (12L, "spark structured streaming with watermarks and state machines"))
    run()
    assert(got.exists { case (n, m, j) => n == 10 && m == 1 && j == 1.0 },
      s"exact corpus dup must surface: $got")
    assert(!got.exists(_._1 == 11L), s"unrelated doc must not match: $got")
    assert(got.exists { case (n, m, j) => n == 12 && m == 3 && j >= 0.5 },
      s"near-dup must surface across triggers: $got")
    // parity with the BATCH incremental probe (cross arm) on the same docs
    val batchPairs = graft.operators.Dedup.incrementalNearDups(
        index,
        Seq((10L, "the quick brown fox jumps over the lazy dog tonight"),
          (11L, "totally unrelated text about databases and storage engines"),
          (12L, "spark structured streaming with watermarks and state machines"))
          .toDF("doc_id", "text"),
        "doc_id", "text")
      .filter(org.apache.spark.sql.functions.col("matched_id") <= 3) // cross arm only
      .select("new_id", "matched_id").as[(Long, Long)].collect().toSet
    assert(got.map(g => (g._1, g._2)) == batchPairs,
      s"stream pairs ${got.map(g => (g._1, g._2))} != batch $batchPairs")
    // release the probe's cached static relations — the handle owns them
    probe.close()
  }

  test("streaming blocklist scan: the Aho-Corasick pass is stateless and batch-identical") {
    import graft.operators.MultiPattern
    implicit val sc = spark.sqlContext
    val pats = Seq("she", "he", "hells")
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[(Long, String, Long)]()
    val ckpt = tmp("graft-ac-ckpt")
    // countMatches is a projection + narrow mapPartitions — it runs on
    // a streaming frame AS-IS, no probe wrapper needed (nothing static
    // to cache: the automaton rides the closure)
    val out = MultiPattern.countMatches(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", pats)
    def run(): Unit = {
      val q = out.writeStream.outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            b.collect().foreach(r => got += ((r.getLong(0), r.getString(1), r.getLong(2))))
          }
          ()
        }
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val docs = Seq((1L, "she sells seashells"), (2L, "nothing here"), (3L, "he he he"))
    mem.addData(docs.take(2): _*)
    run()
    mem.addData(docs(2))
    run()
    val batch = MultiPattern.countMatches(docs.toDF("doc_id", "text"),
        "doc_id", "text", pats)
      .as[(Long, String, Long)].collect().toSet
    assert(got.toSet == batch, s"stream $got != batch $batch")
  }

  test("streaming spatial probe: geofence hits across triggers equal the batch join") {
    import graft.operators.SpatialJoin
    import graft.streaming.StreamingSpatialProbe
    implicit val sc = spark.sqlContext
    val polys = Seq(
      (1L, Seq(SpatialJoinSpec.V(60L, 50L), SpatialJoinSpec.V(50L, 60L),
        SpatialJoinSpec.V(40L, 50L), SpatialJoinSpec.V(50L, 40L))),
      (2L, Seq(SpatialJoinSpec.V(200L, 190L), SpatialJoinSpec.V(210L, 200L),
        SpatialJoinSpec.V(200L, 210L), SpatialJoinSpec.V(190L, 200L))))
      .toDF("region", "verts")
    val mem = MemoryStream[(Long, Long, Long)]
    val got = scala.collection.mutable.Set[(Long, Long)]()
    val ckpt = tmp("graft-geo-ckpt")
    val probe = StreamingSpatialProbe.pointsInPolygons(
      mem.toDF().toDF("event_id", "px", "py"), "px", "py", polys, "verts", 32L)
    def run(): Unit = {
      val q = probe.output
        .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            b.select("event_id", "region").collect()
              .foreach(r => got += ((r.getLong(0), r.getLong(1))))
          }
          ()
        }
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val pts = Seq((10L, 50L, 50L), (11L, 0L, 0L), (12L, 60L, 50L))
    mem.addData(pts.take(2): _*)
    run()
    mem.addData(pts(2)) // second trigger: stateless, restart-safe
    run()
    val batch = SpatialJoin.pointInConvexPoly(
        pts.toDF("event_id", "px", "py"), "px", "py", polys, "verts", 32L)
      .select("event_id", "region")
      .as[(Long, Long)].collect().toSet
    assert(got.toSet == batch, s"stream $got != batch $batch")
    assert(got.toSet == Set((10L, 1L), (12L, 1L))) // 11 outside, vertex 12 inclusive
    probe.close()
  }

  test("streaming winnow probe: shared-substring hits across triggers equal the batch matcher") {
    import graft.operators.Winnow
    import graft.streaming.StreamingWinnowProbe
    implicit val sc = spark.sqlContext
    def noise(seed: Int) = {
      val r = new scala.util.Random(seed)
      (1 to 90).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val shared = "thequickbrownfoxjumpsoverthelazydog"
    val corpus = Seq(
      (1L, noise(1) + shared + noise(2)),
      (2L, noise(3)),
      (3L, noise(4) + shared)).toDF("doc_id", "text")
    val k = 8; val w = 4
    val corpusFp = Winnow.fingerprints(corpus, "doc_id", "text", k, w)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[(Long, Long)]()
    val ckpt = tmp("graft-winnow-ckpt")
    val probe = StreamingWinnowProbe.matchesAgainstIndex(
      mem.toDF().toDF("doc_id", "text"), corpusFp, "doc_id", "text", k, w)
    def run(): Unit = {
      val q = probe.output
        .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            b.collect().foreach(r => got += ((r.getLong(0), r.getLong(1))))
          }
          ()
        }
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val newDocs = Seq(
      (10L, noise(9) + shared + noise(10)), // plagiarizes the corpus run
      (11L, noise(11)))                     // unrelated
    mem.addData(newDocs.head)
    run()
    mem.addData(newDocs(1)) // second trigger: stateless, restart-safe
    run()
    assert(got.map(_._1).contains(10L) && !got.map(_._1).contains(11L), s"$got")
    assert(got.map(_._2).subsetOf(Set(1L, 3L)), s"matched only shared-run docs: $got")
    // parity with the batch matcher over corpus ∪ new docs (cross pairs)
    val batchPairs = Winnow.matches(
        Winnow.fingerprints(corpus.union(newDocs.toDF("doc_id", "text")),
          "doc_id", "text", k, w), maxDf = 8, minShared = 1)
      .filter(org.apache.spark.sql.functions.col("id_b") >= 10L &&
        org.apache.spark.sql.functions.col("id_a") <= 3L)
      .select("id_b", "id_a").as[(Long, Long)].collect().toSet
    assert(got == batchPairs, s"stream $got != batch $batchPairs")
    probe.close()
  }

  test("streaming ANN probe: per-batch ranked IVF results equal the batch probe; PQ twin") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch
    import graft.streaming.StreamingAnnProbe
    implicit val sc = spark.sqlContext
    def vec(i: Int): Array[Float] = {
      val base = Array.tabulate(16)(j => math.sin(i % 10 + j * 0.7).toFloat)
      val noise = Array.tabulate(16)(j => (((i * 31 + j * 13) % 7) - 3) * 0.02f)
      base.zip(noise).map { case (a, b) => a + b }
    }
    val corpus = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val (cents, assigned) = SimilaritySearch.ivfBuildIndex(
      corpus, "vec_id", "embedding", nCells = 6, iters = 2)

    val mem = MemoryStream[(Long, Array[Float])]
    val probe = StreamingAnnProbe.ivfProbe(
      mem.toDF().toDF("vec_id", "embedding"), cents, assigned,
      "vec_id", "embedding", nProbe = 3)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val ckpt = tmp("graft-annprobe-ckpt")
    def run(): Unit = {
      // a query's candidates are complete within its micro-batch, so
      // per-batch rankTopK IS the exact per-query top-k
      val q = probe.output.writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            SimilaritySearch.rankTopK(b, 5).collect().foreach(r =>
              got += ((r.getLong(0), r.getLong(1), r.getLong(2))))
          }
          ()
        }
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val queryIds = Seq(0L, 40L, 80L)
    mem.addData(queryIds.take(2).map(i => (i, vec(i.toInt))))
    run()
    mem.addData(queryIds.drop(2).map(i => (i, vec(i.toInt)))) // across triggers
    run()

    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
    val batch = SimilaritySearch.ivfQueryIndex(
        cents, assigned, queries, "vec_id", "embedding", 5, nProbe = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got.toSet == batch, s"stream ${got.toSet} != batch $batch")
    probe.close()

    // cacheIndex = false (the too-big-to-cache 100 TB posture): a probe
    // over the UNCACHED saved-index read answers identically
    val idxPath = tmp("graft-annprobe-idx") + "/idx"
    SimilaritySearch.ivfSaveIndex(idxPath, cents, assigned)
    val (diskCents, diskLists) = SimilaritySearch.ivfLoadIndex(spark, idxPath)
    val memU = MemoryStream[(Long, Array[Float])]
    val uncached = StreamingAnnProbe.ivfProbe(
      memU.toDF().toDF("vec_id", "embedding"), diskCents, diskLists,
      "vec_id", "embedding", nProbe = 3, cacheIndex = false)
    val gotU = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    // data before start: an AvailableNow query fixes its end offset as it
    // starts, so rows added after `start()` can miss the drain
    memU.addData(queryIds.map(i => (i, vec(i.toInt))))
    val qU = uncached.output.writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        gotU.synchronized {
          SimilaritySearch.rankTopK(b, 5).collect().foreach(r =>
            gotU += ((r.getLong(0), r.getLong(1), r.getLong(2))))
        }
        ()
      }
      .option("checkpointLocation", tmp("graft-annprobe-u-ckpt")).start()
    qU.awaitTermination()
    assert(gotU.toSet == batch, s"uncached stream ${gotU.toSet} != batch $batch")
    uncached.close() // no-op storage-wise: nothing was cached

    // IVF-PQ twin: streamed ADC candidates + the batch path's shortlist/
    // re-rank fold reproduce ivfPqQueryIndex exactly on the same index
    val (pc, pb, coded) = SimilaritySearch.ivfPqBuildIndex(
      corpus, "vec_id", "embedding", nCells = 6, m = 4, ksub = 8, iters = 2)
    val memPq = MemoryStream[(Long, Array[Float])]
    val pqProbe = StreamingAnnProbe.ivfPqProbe(
      memPq.toDF().toDF("vec_id", "embedding"), pc, pb, coded,
      "vec_id", "embedding", nProbe = 3)
    val cand = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    memPq.addData(queryIds.map(i => (i, vec(i.toInt))))
    val q2 = pqProbe.output.writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        cand.synchronized {
          b.collect().foreach(r =>
            cand += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
        }
        ()
      }
      .option("checkpointLocation", tmp("graft-annpq-ckpt")).start()
    q2.awaitTermination()
    val candDf = cand.toSeq.toDF("query_id", "neighbor_id", "cosine")
    val shortlist = SimilaritySearch.rankTopK(candDf, 5 * 4)
      .select("query_id", "neighbor_id")
    val cv = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cvec"))
    val qv = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__qvec"))
    val streamRanked = SimilaritySearch.rankTopK(
        cv.join(shortlist, "neighbor_id").join(qv, "query_id")
          .select(col("query_id"), col("neighbor_id"),
            graft.functions.GraftFunctions.cosineSim(col("__qvec"), col("__cvec"))
              .as("cosine")),
        5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val pqBatch = SimilaritySearch.ivfPqQueryIndex(
        pc, pb, coded, corpus, qv.select(col("query_id").as("vec_id"),
          col("__qvec").as("embedding")), "vec_id", "embedding", 5, nProbe = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    assert(streamRanked == pqBatch, s"PQ stream $streamRanked != batch $pqBatch")
    pqProbe.close()
  }

  test("streaming SemDeDup probe: stream-vs-corpus pairs equal the batch pair set") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch
    import graft.streaming.StreamingAnnProbe
    implicit val sc = spark.sqlContext
    // vectors repeat every 5 ids → exact semantic dups across the id space
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(j => math.sin(i % 5 + j * 0.7).toFloat)
    val corpus = (0 until 50).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val cellOf = (v: org.apache.spark.sql.Column) =>
      SimilaritySearch.axisSignCell(v, 4)
    val mem = MemoryStream[(Long, Array[Float])]
    val probe = StreamingAnnProbe.semanticProbe(
      mem.toDF().toDF("vec_id", "embedding"), corpus,
      "vec_id", "embedding", cellOf, threshold = 0.999)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val ckpt = tmp("graft-semprobe-ckpt")
    def run(): Unit = {
      val q = probe.output.writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            b.select("corpus_id", "id").as[(Long, Long)].collect().foreach(got += _)
          }
          ()
        }
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val arrivals = Seq((100L, vec(103)), (101L, vec(101)), (102L, vec(52)))
    mem.addData(arrivals.take(2))
    run()
    mem.addData(arrivals.drop(2))
    run()
    assert(got.nonEmpty, "the repeating-vector fixture must produce dup hits")

    // batch reference: semanticDupPairs over corpus ∪ arrivals, restricted
    // to corpus-vs-stream pairs (the probe's contract — stream-vs-stream
    // waits for the next index refresh)
    val all = corpus.unionByName(arrivals.toDF("vec_id", "embedding"))
    val batchPairs = SimilaritySearch.semanticDupPairs(
        all, "vec_id", "embedding", cellOf(col("embedding")), 0.999)
      .filter(col("id1") < 100L && col("id2") >= 100L)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == batchPairs, s"stream $got != batch $batchPairs")
    probe.close()
  }

  test("TxTable LSM streaming sink: delta commits per batch, periodic fold, restart-safe") {
    import graft.streaming.TxTable
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[RawReading]
    val table = tmp("graft-txdelta") + "/tbl"
    val ckpt = tmp("graft-txdelta-ckpt")
    def run(): Unit = {
      val q = TxTable.currentValueSinkTxDelta(
        StreamingPipeline.normalizeStream(mem.toDF()),
        table, ckpt, Trigger.AvailableNow(), compactEvery = 3).start()
      q.awaitTermination()
    }
    def latest(): Map[String, Double] = TxTable.readMerged(spark, table).get
      .select("tag", "doubleValue").as[(String, Double)].collect().toMap
    // batches 0 and 1: two delta commits, no fold yet — dirs accumulate
    mem.addData(
      raw("t1", "1.0", "2024-06-01 10:00:00"),
      raw("t2", "7.5", "2024-06-01 10:00:01"))
    run()
    mem.addData(raw("t1", "2.0", "2024-06-01 10:00:05"))
    run()
    assert(TxTable.snapshot(table).filesByPartition("srv1").size == 2,
      "deltas must accumulate between folds")
    assert(latest() == Map("t1" -> 2.0, "t2" -> 7.5))
    // batch 2 triggers the fold (batchId+1 % 3 == 0): one dir, view intact
    mem.addData(raw("t2", "8.0", "2024-06-01 10:00:30"))
    run()
    assert(TxTable.snapshot(table).filesByPartition("srv1").size == 1,
      "compaction must fold on the cadence batch")
    assert(latest() == Map("t1" -> 2.0, "t2" -> 8.0))
    // restart from the same checkpoint continues the delta sequence; a
    // late value must lose through the merged view
    mem.addData(raw("t1", "9.9", "2024-06-01 09:59:00"))
    run()
    assert(latest() == Map("t1" -> 2.0, "t2" -> 8.0))
  }

  test("streaming MEDIA near-dup: video signatures dedupe through the signature-agnostic filter") {
    // the composition claim: Apng.videoSignatures (batch fingerprinting)
    // and StreamingDedup share one 64-bit signature space, so a media
    // stream dedupes with ZERO media-specific streaming code — the same
    // bucket state machine that serves text SimHash
    import graft.operators.Apng
    import graft.streaming.StreamingDedup
    implicit val sc = spark.sqlContext

    // three distinct videos; id 10/11 share a build seed (byte-identical)
    def sigOf(buildId: Long): Long = {
      val blob = Apng.encodeSyntheticApng(buildId,
        9 + (buildId % 8).toInt, 8 + (buildId % 7).toInt, 2 + (buildId % 3).toInt)
      Apng.videoSignatures(
          Seq((buildId, blob)).toDF("doc_id", "blob"), spark)
        .select("signature").as[Long].head()
    }
    val sigA = sigOf(21L); val sigB = sigOf(22L)

    val mem = MemoryStream[(Long, Long)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val ckpt = tmp("graft-media-dedup-ckpt")
    def run(): Unit = {
      val q = StreamingDedup.bandVerdictsSig(
          mem.toDF().toDF("doc_id", "signature"), "doc_id", "signature",
          sigBits = 64)
        .toDF()
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          survivors.synchronized {
            survivors ++= StreamingDedup.novelDocs(b)
              .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
              .collect()
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    // batch 1: two distinct videos arrive
    mem.addData((10L, sigA), (20L, sigB))
    run()
    assert(survivors.sorted == Seq(10L, 20L))
    // batch 2 (state carried across triggers): an identical re-upload of
    // video 10 must drop; a new distinct video survives
    mem.addData((11L, sigA), (30L, sigOf(23L)))
    run()
    assert(survivors.sorted == Seq(10L, 20L, 30L),
      s"re-uploaded video (11) must be dropped, got $survivors")
  }

  // ----------------------------------------------- txtable-cdf source

  private def cdfBatch(rows: (String, String, String, Double)*) = {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    rows.toSeq.toDF("serverName", "tag", "tsS", "value")
      .select(col("serverName"), col("tag"),
        to_timestamp(col("tsS")).as("ts"), col("value"))
  }

  /** Drain the txtable-cdf stream into `sink` (rows as canonical strings
    * tagged with their micro-batch id), AvailableNow against `ckpt`.
    */
  private def drainCdf(table: String, ckpt: String,
      sink: scala.collection.mutable.ArrayBuffer[(Long, String)],
      extraOptions: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.col
    val reader = spark.readStream.format("txtable-cdf")
      .option("path", table).option("keyCol", "tag").option("order", "ts")
    val q = extraOptions.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = b.select(col("tag"), col("serverName"),
            col("ts").cast("string"), col("value"), col("change_type"),
            col("_commit_version"))
          .collect().map(_.toString)
        sink.synchronized { sink ++= rows.map(id -> _) }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
  }

  test("txtable-cdf source: per-commit deltas from origin, exactly once across restarts") {
    import graft.streaming.TxTable
    val table = tmp("graft-cdfsrc") + "/tbl"
    val k = Seq("serverName", "tag"); val o = Seq("ts")
    // commit 0: two inserts; commit 1: update t1 + insert t3; commit 2: delete t2
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t1", "2024-06-01 10:00:00", 1.0),
      ("srv1", "t2", "2024-06-01 10:00:00", 5.0)), table, "serverName", k, o)
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t1", "2024-06-01 10:01:00", 2.0),
      ("srv1", "t3", "2024-06-01 10:00:30", 9.0)), table, "serverName", k, o)
    TxTable.deleteKeys(spark, Seq(("srv1", "t2")).toDF("serverName", "tag"),
      table, "serverName", k)

    val ckpt = tmp("graft-cdfsrc-ckpt")
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    drainCdf(table, ckpt, got)

    // exact parity with the batch CDF replay of every commit (incl. the
    // new fromVersion = -1 empty-pre-table arm for commit 0)
    import org.apache.spark.sql.functions.{col, lit}
    val expected = (0L to 2L).map { v =>
      TxTable.changeDataFeed(spark, table, v - 1, v, "tag", Nil, k, o)
        .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_))
      .select(col("tag"), col("serverName"), col("ts").cast("string"),
        col("value"), col("change_type"), col("_commit_version"))
      .collect().map(_.toString)
    assert(got.map(_._2).sorted.toSeq == expected.sorted.toSeq)
    // semantic pins: v0 pure inserts, v1 update pre/post + insert, v2 delete
    def types(v: Long) = got.map(_._2).filter(_.endsWith(s",$v]"))
      .map(_.split(",")(4)).sorted.toSeq
    assert(types(0L) == Seq("insert", "insert"))
    assert(types(1L) == Seq("insert", "update_postimage", "update_preimage"))
    assert(types(2L) == Seq("delete"))

    // commit 3: update t3; resume from the same checkpoint → ONLY v3 rows
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t3", "2024-06-01 10:02:00", 10.0)), table, "serverName", k, o)
    val got2 = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    drainCdf(table, ckpt, got2)
    val vs2 = got2.map(_._2.split(",").last.stripSuffix("]")).distinct
    assert(vs2 == Seq("3"), s"restart must emit only commit 3, got $got2")
    assert(got2.map(_._2.split(",")(4)).sorted.toSeq ==
      Seq("update_postimage", "update_preimage"))

    // nothing new → a third drain emits zero rows
    val got3 = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    drainCdf(table, ckpt, got3)
    assert(got3.isEmpty, s"no-new-commit drain must be empty, got $got3")
  }

  test("txtable-cdf stream maintains a downstream aggregate incrementally, == full recompute") {
    import graft.operators.IncrementalAgg
    import graft.streaming.TxTable
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val table = tmp("graft-cdfagg") + "/tbl"
    val k = Seq("serverName", "tag"); val o = Seq("ts")
    def b(rows: (String, String, String, String)*) = {
      import org.apache.spark.sql.functions.to_timestamp
      rows.toSeq.toDF("serverName", "tag", "tsS", "vS")
        .select(col("serverName"), col("tag"),
          to_timestamp(col("tsS")).as("ts"),
          col("vS").cast("decimal(10,2)").as("value"))
    }
    TxTable.mergeLatest(spark, b(
      ("srv1", "t1", "2024-06-01 10:00:00", "1.00"),
      ("srv1", "t2", "2024-06-01 10:00:00", "5.00"),
      ("srv2", "u1", "2024-06-01 10:00:00", "3.00")), table, "serverName", k, o)
    TxTable.mergeLatest(spark, b(
      ("srv1", "t1", "2024-06-01 10:01:00", "2.00"),
      ("srv1", "t3", "2024-06-01 10:00:30", "9.00")), table, "serverName", k, o)
    TxTable.deleteKeys(spark, Seq(("srv1", "t2")).toDF("serverName", "tag"),
      table, "serverName", k)

    // the consumer NEVER rescans the table: per-server (count, decimal
    // sum) state lives on the driver (tiny here; a real pipeline would
    // hold it in a bucketed state table) and refreshes from each
    // micro-batch's CDF rows alone
    var state = Seq.empty[(String, Long, BigDecimal)]
    val q = spark.readStream.format("txtable-cdf")
      .option("path", table).option("keyCol", "tag").option("order", "ts")
      .load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val prev = state.toDF("serverName", "n", "value")
          .select(col("serverName"), col("n"),
            col("value").cast("decimal(20,2)").as("value"))
        state = IncrementalAgg.refreshSumCount(prev,
            batch.select("serverName", "value", "change_type"),
            Seq("serverName"), "n", Seq("value"))
          .select(col("serverName"), col("n").cast("long"),
            col("value").cast("decimal(20,2)"))
          .as[(String, Long, BigDecimal)].collect().toSeq
        ()
      }
      .option("checkpointLocation", tmp("graft-cdfagg-ckpt"))
      .start()
    q.awaitTermination()

    val expected = TxTable.readMergedAt(spark, table,
        TxTable.snapshot(table).version, k, o).get
      .groupBy(col("serverName"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value"))
      .select(col("serverName"), col("n"),
        col("value").cast("decimal(20,2)"))
      .as[(String, Long, BigDecimal)].collect().toSeq
    assert(state.sortBy(_._1) == expected.sortBy(_._1),
      s"maintained state $state != recompute $expected")
  }

  test("txtable-cdf: history vacuumed past the stream fails loudly; restart past the gap works") {
    import graft.streaming.TxTable
    val table = tmp("graft-cdfvac") + "/tbl"
    val k = Seq("serverName", "tag"); val o = Seq("ts")
    // 11 commits → checkpoint lands at version 10 → vacuum prunes every
    // commit the checkpoint subsumes (the log-retention contract), so
    // versions < 10 are no longer reconstructible — the exact state a
    // stream that fell behind the retention window wakes up to
    for (i <- 0 to 10)
      TxTable.mergeLatest(spark, cdfBatch(
        ("srv1", "t1", f"2024-06-01 10:${i}%02d:00", i.toDouble)),
        table, "serverName", k, o)
    TxTable.vacuum(table, minAgeMs = 0L)

    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainCdf(table, tmp("graft-cdfvac-ck1"), got)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    val msgs = chain(e).mkString("\n")
    assert(msgs.contains("no longer reconstructible") &&
      msgs.contains("startingVersion"), s"unhelpful failure: $msgs")

    // the advertised remedy: fresh checkpoint, start past the gap
    val ck2 = tmp("graft-cdfvac-ck2")
    val got2 = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    drainCdf(table, ck2, got2, Map("startingVersion" -> "11"))
    assert(got2.isEmpty, s"nothing at or past v11 yet: $got2")
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t1", "2024-06-01 11:00:00", 99.0)), table, "serverName", k, o)
    drainCdf(table, ck2, got2, Map("startingVersion" -> "11"))
    assert(got2.map(_._2.split(",").last.stripSuffix("]")).distinct == Seq("11"))
    assert(got2.map(_._2.split(",")(4)).sorted.toSeq ==
      Seq("update_postimage", "update_preimage"))
  }

  test("txtable sink: declarative writeStream lands ACID last-value merge commits") {
    import graft.streaming.TxTable
    import org.apache.spark.sql.functions.col
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Double)]
    val table = tmp("graft-txsink") + "/tbl"
    val ckpt = tmp("graft-txsink-ckpt")
    def run(): Unit = {
      val q = mem.toDF().toDF("serverName", "tag", "tsS", "value")
        .select(col("serverName"), col("tag"),
          org.apache.spark.sql.functions.to_timestamp(col("tsS")).as("ts"),
          col("value"))
        .writeStream.format("txtable")
        .option("path", table)
        .option("partitionCol", "serverName")
        .option("keys", "serverName,tag").option("order", "ts")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mem.addData(("srv1", "t1", "2024-06-01 10:00:00", 1.0),
      ("srv1", "t2", "2024-06-01 10:00:05", 5.0))
    run()
    assert(TxTable.snapshot(table).version == 0L)
    // batch 2: late t1 (loses), newer t2 (wins), new t3
    mem.addData(("srv1", "t1", "2024-06-01 09:59:00", 99.0),
      ("srv1", "t2", "2024-06-01 10:00:06", 6.0),
      ("srv1", "t3", "2024-06-01 10:00:00", 7.0))
    run()
    assert(TxTable.snapshot(table).version == 1L)
    val state = TxTable.readMergedAt(spark, table, 1L,
        Seq("serverName", "tag"), Seq("ts")).get
      .select(col("tag"), col("value")).as[(String, Double)].collect().sorted
    assert(state.toSeq == Seq(("t1", 1.0), ("t2", 6.0), ("t3", 7.0)),
      s"late data must lose the merge: ${state.toSeq}")
    // empty drain commits nothing
    run()
    assert(TxTable.snapshot(table).version == 1L)
  }

  test("CDC replication: txtable-cdf source + applyChangeFeed rebuild a replica exactly") {
    import graft.streaming.TxTable
    import org.apache.spark.sql.functions.col
    val src = tmp("graft-repl-src") + "/a"
    val dst = tmp("graft-repl-dst") + "/b"
    val ckpt = tmp("graft-repl-ckpt")
    val k = Seq("serverName", "tag"); val o = Seq("ts")

    def drainInto(): Unit = {
      val q = spark.readStream.format("txtable-cdf")
        .option("path", src).option("keyCol", "tag").option("order", "ts")
        .load()
        .writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          TxTable.applyChangeFeed(spark, b, dst, "serverName", k, o)
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    def stateOf(path: String) =
      TxTable.readMergedAt(spark, path, TxTable.snapshot(path).version, k, o)
        .get.select(col("serverName"), col("tag"),
          col("ts").cast("string"), col("value"))
        .collect().map(_.toString).sorted.toSeq

    // v0 inserts, v1 update, v2 DELETE t2, v3 RE-INSERT t2 — all four
    // versions fold into ONE micro-batch (no pacing), so the replica is
    // only correct if applyChangeFeed applies versions in order
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t1", "2024-06-01 10:00:00", 1.0),
      ("srv1", "t2", "2024-06-01 10:00:00", 5.0)), src, "serverName", k, o)
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t1", "2024-06-01 10:01:00", 2.0)), src, "serverName", k, o)
    TxTable.deleteKeys(spark, Seq(("srv1", "t2")).toDF("serverName", "tag"),
      src, "serverName", k)
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t2", "2024-06-01 10:02:00", 8.0)), src, "serverName", k, o)
    drainInto()
    assert(stateOf(dst) == stateOf(src),
      s"replica diverged: ${stateOf(dst)} vs ${stateOf(src)}")

    // keep replicating: another update + a delete, incremental drain
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t3", "2024-06-01 10:03:00", 9.0)), src, "serverName", k, o)
    TxTable.deleteKeys(spark, Seq(("srv1", "t1")).toDF("serverName", "tag"),
      src, "serverName", k)
    drainInto()
    assert(stateOf(dst) == stateOf(src))
    assert(stateOf(dst).exists(_.contains("t2")), "re-inserted key must survive")
    assert(!stateOf(dst).exists(_.contains("t1")), "deleted key must be gone")
  }

  test("txtable-cdf source: partition scoping and maxVersionsPerTrigger pacing") {
    import graft.streaming.TxTable
    val table = tmp("graft-cdfsrc2") + "/tbl"
    val k = Seq("serverName", "tag"); val o = Seq("ts")
    // v0 touches both servers, v1 only srv1, v2 only srv2 (scoped OUT)
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t1", "2024-06-01 10:00:00", 1.0),
      ("srv2", "u1", "2024-06-01 10:00:00", 4.0)), table, "serverName", k, o)
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv1", "t1", "2024-06-01 10:01:00", 2.0)), table, "serverName", k, o)
    TxTable.mergeLatest(spark, cdfBatch(
      ("srv2", "u1", "2024-06-01 10:01:00", 8.0)), table, "serverName", k, o)

    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    drainCdf(table, tmp("graft-cdfsrc2-ckpt"), got,
      Map("partitions" -> "srv1", "maxVersionsPerTrigger" -> "1"))

    // scope: srv2 rows never appear; its commit (v2) contributes nothing
    assert(got.forall(_._2.contains("srv1")), s"scoped stream leaked: $got")
    val versions = got.map(_._2.split(",").last.stripSuffix("]")).distinct.sorted
    assert(versions == Seq("0", "1"))
    // pacing: each micro-batch carries at most ONE commit's rows even
    // under AvailableNow (SupportsTriggerAvailableNow keeps batching
    // toward the frozen target instead of folding the backlog into one)
    got.groupBy(_._1).foreach { case (batchId, rows) =>
      val vs = rows.map(_._2.split(",").last).distinct
      assert(vs.size <= 1, s"batch $batchId mixed commits: $rows")
    }
    assert(got.map(_._1).distinct.size >= 2,
      "pacing must spread two data-bearing commits over >= 2 micro-batches")
  }
}
