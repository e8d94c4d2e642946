package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.TxTable

/** VERDICT r13 task #6 — readers DURING maintenance. OCC commit races
  * between writers were already spec'd; a 100 TB warehouse additionally
  * runs readers while compaction, Z-ORDER and vacuum rewrite the
  * physical layout underneath them. These tests pin the
  * no-stale-no-crash contract across three interleavings:
  *
  *  1. a reader whose snapshot pre-dates a compact survives the compact
  *     AND a default-retention vacuum (age-based retention is what
  *     protects in-flight readers — the Delta-style contract:
  *     retention >= max reader duration);
  *  2. a reader bound after the compact survives an AGGRESSIVE
  *     (minAgeMs = 0) vacuum that really deletes the superseded delta
  *     dirs mid-read;
  *  3. a txtable-cdf stream drains exactly the logical changes while a
  *     compact + vacuum land between commits — physical reorg emits no
  *     CDF rows and breaks nothing;
  *  plus a true-concurrency stress: writers, a maintenance loop and
  *  readers hammering one table, every read a consistent merged view.
  */
class TxTableRaceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val K = Seq("serverName", "tag")
  private val O = Seq("serverTimestamp", "sourceTimestamp")

  private def batch(rows: (String, String, String, Double)*) =
    rows.map { case (srv, tag, t, v) => (srv, tag, v, ts(t), ts(t)) }
      .toDF("serverName", "tag", "doubleValue", "serverTimestamp", "sourceTimestamp")

  private def merged(path: String): Set[(String, String, Double)] =
    TxTable.readMerged(spark, path).get
      .select("serverName", "tag", "doubleValue")
      .as[(String, String, Double)].collect().toSet

  /** Seed a delta table with 2 servers × overlapping tag updates so every
    * partition has >= 2 delta dirs (compact victims) and a known merged
    * view.
    */
  private def seed(path: String): Set[(String, String, Double)] = {
    TxTable.upsertDelta(spark, batch(
      ("s1", "a", "2024-01-01 00:00:01", 1.0),
      ("s1", "b", "2024-01-01 00:00:01", 2.0),
      ("s2", "x", "2024-01-01 00:00:01", 3.0)), path)
    TxTable.upsertDelta(spark, batch(
      ("s1", "a", "2024-01-01 00:00:05", 1.5),
      ("s2", "x", "2024-01-01 00:00:05", 3.5),
      ("s2", "y", "2024-01-01 00:00:05", 4.0)), path)
    Set(("s1", "a", 1.5), ("s1", "b", 2.0), ("s2", "x", 3.5), ("s2", "y", 4.0))
  }

  test("interleaving 1: reader bound pre-compact survives compact + default-retention vacuum") {
    val path = tmp("txrace-pre") + "/t"
    val want = seed(path)
    // reader binds its snapshot NOW (file list fixed at construction;
    // scan happens at collect time, after the maintenance below)
    val reader = TxTable.readMerged(spark, path).get
      .select("serverName", "tag", "doubleValue")
    val cv = TxTable.compact(spark, path, K, O)
    assert(cv > 0)
    // default retention: files written seconds ago are younger than
    // minAgeMs, so vacuum must not delete ANY data dir out from under
    // the bound reader
    val gone = TxTable.vacuum(path)
    assert(!gone.exists(_.startsWith("data/")),
      s"default-retention vacuum deleted young data dirs: $gone")
    assert(reader.as[(String, String, Double)].collect().toSet == want)
    // and a fresh post-maintenance read agrees (merged view invariant
    // under compaction)
    assert(merged(path) == want)
  }

  test("interleaving 2: reader bound post-compact survives aggressive vacuum mid-read") {
    val path = tmp("txrace-post") + "/t"
    val want = seed(path)
    val preDirs = TxTable.snapshot(path).allFiles.toSet
    TxTable.compact(spark, path, K, O)
    // bind AFTER the compact: this reader references only collapsed dirs
    val reader = TxTable.readMerged(spark, path).get
      .select("serverName", "tag", "doubleValue")
    // aggressive vacuum really deletes the superseded delta dirs — the
    // race is real, prove it removed something the old snapshot used
    val gone = TxTable.vacuum(path, minAgeMs = 0L).filter(_.startsWith("data/"))
    // a gone entry may be a whole top-level dir SUBSUMING nested add
    // refs (`data/<uuid>` covering `data/<uuid>/__g=<i>` from the fanned
    // partitionBy write) — vacuum reports the dir it deleted, the old
    // references live one level below it
    assert(gone.nonEmpty && gone.forall(g =>
        preDirs.contains(g) || preDirs.exists(_.startsWith(g + "/"))),
      s"expected superseded pre-compact dirs to be vacuumed, got $gone")
    assert(reader.as[(String, String, Double)].collect().toSet == want)
    // time travel to pre-compact versions is now honestly gone (vacuumed),
    // but the CURRENT read path never sees a missing file
    assert(merged(path) == want)
  }

  private def drainTypes(path: String,
      extraOptions: Map[String, String] = Map.empty): Map[Long, Seq[(String, String)]] = {
    val sink = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    val reader = spark.readStream.format("txtable-cdf")
      .option("path", path).option("keyCol", "tag")
      .option("compareCols", "doubleValue")
    val q = extraOptions.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select(col("tag"), col("change_type"),
            col("_commit_version"))
          .as[(String, String, Long)].collect()
        sink.synchronized { sink ++= rows }
        ()
      }
      .option("checkpointLocation", tmp("txrace-cdf-ckpt"))
      .start()
    q.awaitTermination()
    sink.groupBy(_._3).view
      .mapValues(_.map(r => (r._1, r._2)).sorted.toSeq).toMap
  }

  /** Fixture for the CDF interleavings: v0 inserts a+b, v1 updates a,
    * v2 = compact (physical only), v3 inserts c.
    */
  private def cdfFixture(path: String): Unit = {
    TxTable.upsertDelta(spark, batch(
      ("s1", "a", "2024-01-01 00:00:01", 1.0),
      ("s1", "b", "2024-01-01 00:00:01", 2.0)), path)
    TxTable.upsertDelta(spark, batch(
      ("s1", "a", "2024-01-01 00:00:05", 1.5)), path)
    val cv = TxTable.compact(spark, path, K, O)
    assert(cv == 2L)
    TxTable.upsertDelta(spark, batch(
      ("s1", "c", "2024-01-01 00:00:09", 9.0)), path)
  }

  test("interleaving 3a: txtable-cdf stream across a compact sees only logical changes") {
    val path = tmp("txrace-cdf") + "/t"
    cdfFixture(path)
    val byVersion = drainTypes(path)
    assert(byVersion(0L) == Seq(("a", "insert"), ("b", "insert")))
    assert(byVersion(1L) ==
      Seq(("a", "update_postimage"), ("a", "update_preimage")))
    // the compact commit (v2) must contribute NOTHING to the feed
    assert(!byVersion.contains(2L), s"compact leaked CDF rows: ${byVersion.get(2L)}")
    assert(byVersion(3L) == Seq(("c", "insert")))
  }

  test("interleaving 3b: vacuumed history refuses from origin with the remedy; first retained version streams") {
    val path = tmp("txrace-cdfvac") + "/t"
    cdfFixture(path)
    // vacuum really deletes the dirs versions 0/1 reference: commits 0-2
    // are no longer reconstructible, and a stream that still owes them
    // must refuse with the REMEDY, not crash with a bare missing path
    assert(TxTable.vacuum(path, minAgeMs = 0L).exists(_.startsWith("data/")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drainTypes(path))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("no longer reconstructible")
        && c.getMessage.contains("startingVersion")), e.getMessage)
    // the documented remedy works: v3 diffs v2→v3, both fully live
    val byVersion = drainTypes(path, Map("startingVersion" -> "3"))
    assert(byVersion.keySet == Set(3L) &&
      byVersion(3L) == Seq(("c", "insert")))
  }

  test("stress: concurrent writers + compact/vacuum loop + readers, every read a consistent merged view") {
    val path = tmp("txrace-stress") + "/t"
    seed(path)
    // every value any writer will ever commit, per (server, tag)
    val legal: Map[(String, String), Set[Double]] = Map(
      ("s1", "a") -> (Set(1.0, 1.5) ++ (1 to 12).map(i => 100.0 + i)),
      ("s1", "b") -> (Set(2.0) ++ (1 to 12).map(i => 200.0 + i)),
      ("s2", "x") -> Set(3.0, 3.5), ("s2", "y") -> Set(4.0))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errors.add(e); () }, name)
      t.start(); t
    }
    val writers = Seq("a" -> 100.0, "b" -> 200.0).map { case (tag, base) =>
      thread(s"writer-$tag") {
        (1 to 12).foreach { i =>
          TxTable.upsertDelta(spark, batch(
            ("s1", tag, f"2024-01-01 00:01:${i}%02d", base + i)), path)
        }
      }
    }
    val maintainer = thread("maintainer") {
      while (!stop.get()) {
        TxTable.compact(spark, path, K, O)
        // DEFAULT retention: in-flight readers' young files must survive
        val gone = TxTable.vacuum(path)
        assert(!gone.exists(_.startsWith("data/")), s"vacuumed young dirs: $gone")
        Thread.sleep(20)
      }
    }
    val readers = (1 to 3).map { r =>
      thread(s"reader-$r") {
        while (!stop.get()) {
          val rows = merged(path)
          // consistency: exactly one row per live key, value from the
          // set of values ever committed for that key
          val keys = rows.map(t => (t._1, t._2)).toSeq
          assert(keys.distinct.size == keys.size, s"duplicate keys in $rows")
          rows.foreach { case (srv, tag, v) =>
            assert(legal((srv, tag)).contains(v), s"phantom value ($srv,$tag,$v)")
          }
        }
      }
    }
    writers.foreach(_.join(120000))
    stop.set(true)
    (maintainer +: readers).foreach(_.join(120000))
    assert(errors.isEmpty, s"racing thread failed: ${errors.peek()}")
    // terminal state: the last write per tag won
    val fin = merged(path)
    assert(fin.contains(("s1", "a", 112.0)) && fin.contains(("s1", "b", 212.0)), fin.toString)
  }
}
