package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.TxTable
import graft.streaming.TxTable.{ColRange, ColStats}

/** Per-file column stats + read-side data skipping (SURVEY §2 S6 sink,
  * the Delta/Iceberg idea): stats are written into the commit log by
  * every write path and let [[TxTable.read]] open O(matching files)
  * instead of the table. These specs pin the codec, the conservative
  * keep/skip decision procedure, the files-actually-selected count on a
  * z-ordered table, pruned-read == full-scan row equivalence, stats
  * survival across compact/time-travel/vacuum, and the [[TxTable
  * .readMerged]] key-columns-only pruning contract.
  */
class TxTableStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def txBatch(rows: (String, String, String, Double)*) =
    rows.map { case (srv, tag, t, v) => (srv, tag, v, ts(t), ts(t)) }
      .toDF("serverName", "tag", "doubleValue", "serverTimestamp", "sourceTimestamp")

  // ======================= StatsCodec =======================

  test("StatsCodec round-trips hostile names and values (%, :, ;, tab, newline)") {
    val hostile = Map(
      "plain" -> ColStats('L', "1", "42"),
      "has:colon" -> ColStats('S', "a:b", "c:d"),
      "has;semi" -> ColStats('S', "x;y", "z;w"),
      "has%pct" -> ColStats('S', "100%", "200%"),
      "has\ttab" -> ColStats('S', "a\tb", "c\td"),
      "has\nnl" -> ColStats('S', "l1\nl2", "l3\nl4"),
      "all%3a:of%3b;them\t\n" -> ColStats('D', "%25;:\t", "\n%%%"))
    val enc = TxTable.StatsCodec.encode(hostile)
    // the encoded form must stay one tab-free, newline-free log FIELD
    assert(!enc.contains('\t') && !enc.contains('\n'), s"unescaped control char in: $enc")
    assert(TxTable.StatsCodec.decode(enc) === hostile)
    // empty map round-trips through the empty string
    assert(TxTable.StatsCodec.encode(Map.empty) === "")
    assert(TxTable.StatsCodec.decode("") === Map.empty)
    // malformed entries carry no stats rather than failing the read
    assert(TxTable.StatsCodec.decode("not-a-stat") === Map.empty)
    assert(TxTable.StatsCodec.decode("a:TOOLONG:1:2") === Map.empty)
  }

  // ======================= keepByStats =======================

  test("keepByStats: inclusive bounds, conservative on no-stats/no-parse") {
    val stats = Map("k" -> ColStats('L', "10", "20"), "s" -> ColStats('S', "b", "d"))
    def keep(rs: ColRange*) = TxTable.keepByStats(stats, rs)

    // overlapping and touching ranges keep the file (inclusive bounds)
    assert(keep(ColRange("k", Some(15), Some(15))))
    assert(keep(ColRange("k", Some(20), None)), "lower == file max keeps")
    assert(keep(ColRange("k", None, Some(10))), "upper == file min keeps")
    assert(keep(ColRange("k", Some(5), Some(30))), "superset range keeps")
    // provably-disjoint ranges prune
    assert(!keep(ColRange("k", Some(21), None)), "lower above max prunes")
    assert(!keep(ColRange("k", None, Some(9))), "upper below min prunes")
    assert(!keep(ColRange("k", Some(1), Some(9))))
    // numeric domain compares numerically, not lexicographically:
    // "9" > "10" as strings but 9 < 10 numerically → prune is correct
    assert(!keep(ColRange("k", None, Some(9))), "numeric, not lexicographic")
    // string domain compares lexicographically
    assert(keep(ColRange("s", Some("a"), Some("b"))))
    assert(!keep(ColRange("s", Some("e"), None)))
    // a column with no recorded stats never prunes
    assert(keep(ColRange("nostats", Some(999), Some(999))))
    // a bound that does not parse in the stats domain keeps the file
    assert(keep(ColRange("k", Some("not-a-number"), None)))
    // multiple ranges AND together: any provably-disjoint one prunes
    assert(!keep(ColRange("s", Some("a"), None), ColRange("k", Some(99), None)))
    // all-null column recorded no entry == no stats == keep (same branch
    // as `nostats`, asserted for the documented contract)
    assert(TxTable.keepByStats(Map.empty, Seq(ColRange("k", Some(1), Some(2)))))
  }

  // ======================= z-ordered skipping =======================

  test("ingestZOrdered + pruneBy: few files opened, pruned read == full scan") {
    val table = tmp("graft-txstats") + "/ztbl"
    // 16 buckets over a 64x64 key grid: a point/range predicate on either
    // dimension must concentrate in a small file subset
    val df = spark.range(0, 4096).select(
      (col("id") % 64).cast("long").as("x"),
      (col("id") / 64).cast("long").as("y"),
      (col("id") * 3 % 997).cast("long").as("v"))
    TxTable.ingestZOrdered(spark, df, table, "x", "y", buckets = 16)

    val snap = TxTable.snapshot(table)
    val total = snap.allFiles.size
    assert(total >= 8, s"expected a multi-file table, got $total")
    // every bucket carries stats for every eligible column
    snap.allFiles.foreach { f =>
      val st = snap.statsOf(f)
      assert(Set("x", "y", "v").subsetOf(st.keySet), s"missing stats on $f: $st")
    }

    // point-ish range on x
    val prune = Seq(ColRange("x", Some(3), Some(4)))
    val selected = TxTable.selectFiles(snap, None, prune)
    assert(selected.nonEmpty && selected.size * 2 <= total,
      s"data skipping must open ≪ total files: ${selected.size} of $total")

    // pruned read is a SUPERSET pre-filter; after the row filter it must
    // equal the full-scan answer exactly
    val rowFilter = col("x").between(3, 4)
    val pruned = TxTable.read(spark, table, pruneBy = prune).get.filter(rowFilter)
    val full = TxTable.read(spark, table).get.filter(rowFilter)
    assert(pruned.count() === full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)

    // range on y (the OTHER z dimension) also skips
    val pruneY = TxTable.selectFiles(snap, None, Seq(ColRange("y", Some(0), Some(3))))
    assert(pruneY.size * 2 <= total, s"y-dim skipping: ${pruneY.size} of $total")
  }

  test("optimizeZOrder: identical rows, skipping restored, time travel intact") {
    val table = tmp("graft-txoptz") + "/otbl"
    val df = spark.range(0, 4096).select(
      (col("id") % 64).cast("long").as("x"),
      (col("id") / 64).cast("long").as("y"),
      (col("id") * 3 % 997).cast("long").as("v"))
    // ingest clustered on the WRONG key (v, v): x/y predicates prune ~nothing
    TxTable.ingestZOrdered(spark, df, table, "v", "v", buckets = 16)
    val pre = TxTable.snapshot(table)
    val prune = Seq(ColRange("x", Some(3), Some(4)))
    val openedBefore = TxTable.selectFiles(pre, None, prune).size

    val vOpt = TxTable.optimizeZOrder(spark, table, "x", "y", buckets = 16)
    assert(vOpt === pre.version + 1)
    val post = TxTable.snapshot(table)
    // layout change, not a data change: the row multiset is identical
    val before = TxTable.readAt(spark, table, pre.version).get
    val after = TxTable.read(spark, table).get
    assert(after.count() === 4096L)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    // skipping restored: the re-clustered table opens ≪ total and fewer
    // than the mis-clustered one did
    val openedAfter = TxTable.selectFiles(post, None, prune).size
    assert(openedAfter * 2 <= post.allFiles.size,
      s"x-range must skip after optimize: $openedAfter of ${post.allFiles.size}")
    assert(openedAfter < openedBefore,
      s"optimize must improve skipping: $openedAfter vs $openedBefore")
    // row counts still ride the stats: the metadata aggregate survives
    assert(TxTable.statsAggregate(spark, table).as[Long].collect().head === 4096L)
    // idempotent-ish second pass and empty partitions are clean no-ops
    assert(TxTable.optimizeZOrder(spark, table, "x", "y", 16, partition = "nope") === -1L)
  }

  test("addBlooms: point lookups skip files range stats cannot; pruned == full") {
    import spark.implicits._
    val table = tmp("graft-txbloom") + "/btbl"
    // 4 delta files, EACH spanning the whole id range (shuffled round-
    // robin), so [min, max] prunes NOTHING for any point probe — the
    // worst case range stats have
    (0 until 4).foreach { b =>
      val rows = (0 until 1000).filter(_ % 4 == b)
        .map(i => ("p", (i * 2654435761L) % 100000L, i.toDouble))
      TxTable.upsertDelta(spark, rows.toDF("part", "id", "v"), table,
        partitionCol = "part", keys = Seq("part", "id"), order = Seq("v"))
    }
    val v = TxTable.addBlooms(spark, table, Seq("id"),
      expectedItems = 300L, fpp = 0.01)
    val snap = TxTable.snapshot(table)
    assert(snap.version == v)
    val total = snap.allFiles.size
    assert(total == 4)
    // stats carry BOTH the old range entry and the new bloom entry
    snap.allFiles.foreach { f =>
      val st = snap.statsOf(f)
      assert(st.contains("id") && st.contains("id#bloom"), s"stats on $f: ${st.keySet}")
    }
    // a known id lives in exactly one file; range stats keep all 4
    val someId = (8L * 2654435761L) % 100000L
    val probe = Seq(ColRange("id", Some(someId), Some(someId)))
    val selected = TxTable.selectFiles(snap, None, probe)
    assert(selected.size < total,
      s"bloom must beat the all-spanning ranges: ${selected.size} of $total")
    // pruned read == full-scan filter, for a present AND an absent key
    def rowsFor(id: Long) =
      TxTable.readMerged(spark, table, keys = Seq("part", "id"),
          order = Seq("v"),
          pruneBy = Seq(ColRange("id", Some(id), Some(id)))) match {
        case Some(df) => df.filter(col("id") === id).count()
        case None => 0L
      }
    assert(rowsFor(someId) == 1L)
    val absent = 99999999L // hashes outside the inserted set
    assert(rowsFor(absent) == 0L)
    // non-point ranges ignore blooms (conservative: all files kept)
    assert(TxTable.selectFiles(snap, None,
      Seq(ColRange("id", Some(0L), Some(100000L)))).size == total)
    // a rewrite drops the file's bloom but stays readable and correct
    TxTable.compact(spark, table, keys = Seq("part", "id"), order = Seq("v"))
    val snap2 = TxTable.snapshot(table)
    assert(snap2.allFiles.forall(f => !snap2.statsOf(f).contains("id#bloom")))
    assert(rowsFor(someId) == 1L)
  }

  // ======================= stats survival =======================

  test("stats survive compact, vacuum, and time travel") {
    val table = tmp("graft-txstats") + "/dtbl"
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:00", 1.0),
      ("srvA", "t2", "2024-06-01 10:00:01", 5.0)), table)
    val vPre = TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:10", 2.0),
      ("srvA", "t3", "2024-06-01 10:00:11", 9.0)), table)

    // every delta dir carries stats on eligible columns
    val preSnap = TxTable.snapshot(table)
    preSnap.allFiles.foreach { f =>
      val st = preSnap.statsOf(f)
      assert(st.contains("tag") && st.contains("doubleValue"), s"$f missing stats: $st")
    }

    // compact folds deltas; the collapsed dir must carry RECOMPUTED stats
    assert(TxTable.compact(spark, table) > 0)
    val postSnap = TxTable.snapshot(table)
    assert(postSnap.filesByPartition("srvA").size === 1)
    val folded = postSnap.statsOf(postSnap.filesByPartition("srvA").head)
    assert(folded("tag") === ColStats('S', "t1", "t3"))
    // superseded doubleValue 1.0 dropped out: min is the LIVE minimum
    assert(BigDecimal(folded("doubleValue").min) === BigDecimal(2.0))

    // time travel to the pre-compaction version still sees per-delta stats
    val travelSnap = TxTable.snapshotAt(table, vPre)
    assert(travelSnap.allFiles.size === preSnap.allFiles.size)
    travelSnap.allFiles.foreach(f => assert(travelSnap.statsOf(f).contains("tag")))
    // and pruning works against the historical snapshot
    assert(TxTable.readAt(spark, table, vPre,
      pruneBy = Seq(ColRange("tag", Some("t3"), Some("t3")))).get
      .filter(col("tag") === "t3").count() === 1)

    // vacuum removes orphaned data but must not disturb live stats
    TxTable.vacuum(table, minAgeMs = 0L)
    val postVac = TxTable.snapshot(table)
    assert(postVac.statsOf(postVac.filesByPartition("srvA").head)("tag") ===
      ColStats('S', "t1", "t3"))
  }

  test("streaming-sink stats policy: key-only on the hot path, full after compact") {
    val table = tmp("graft-txstats") + "/stbl"
    // the sink's parameterization: per-trigger deltas carry key stats only
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:00", 1.0)), table,
      statsCols = TxTable.StreamingSinkStats)
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t2", "2024-06-01 10:00:01", 5.0)), table,
      statsCols = TxTable.StreamingSinkStats)
    val hot = TxTable.snapshot(table)
    hot.allFiles.foreach { f =>
      val st = hot.statsOf(f)
      // key stats only — plus the #rows pseudo-column every stats-on
      // write records (it is one observe field, not a per-column cost)
      assert(st.keySet === Set("serverName", "tag", TxTable.RowsKey),
        s"hot-path deltas must carry key stats only: $st")
    }
    // the periodic fold (AutoStats default) restores full-column stats
    assert(TxTable.compact(spark, table) > 0)
    val folded = TxTable.snapshot(table)
    val st = folded.statsOf(folded.filesByPartition("srvA").head)
    assert(st.contains("doubleValue") && st.contains("serverTimestamp"),
      s"compaction must recompute full stats: $st")
  }

  // ======================= statsAggregate =======================

  test("statsAggregate: count/min/max from the log alone — survives data-file deletion") {
    val dir = tmp("tx-statsagg")
    val v1 = TxTable.mergeLatest(spark, txBatch(
      ("srvA", "t1", "2024-01-01 10:00:00", 3.5),
      ("srvA", "t2", "2024-01-01 10:00:01", -2.0),
      ("srvB", "t3", "2024-01-01 10:00:02", 9.25)), dir)
    TxTable.mergeLatest(spark, txBatch(
      ("srvB", "t4", "2024-01-02 10:00:00", 11.5),
      ("srvC", "t5", "2024-01-02 10:00:01", 0.5)), dir)

    def agg() = TxTable.statsAggregate(spark, dir,
        Seq("doubleValue", "serverName"))
      .as[(Long, Double, Double, String, String)].collect().head

    // matches the full scan on the live table
    val full = TxTable.read(spark, dir).get
      .agg(count(lit(1)), min("doubleValue"), max("doubleValue"),
        min("serverName"), max("serverName"))
      .as[(Long, Double, Double, String, String)].collect().head
    assert(agg() === full)
    assert(agg() === ((5L, -2.0, 11.5, "srvA", "srvC")))

    // time travel: the v1 snapshot's aggregate, not the current one
    val atV1 = TxTable.statsAggregate(spark, dir, Seq("doubleValue"), version = v1)
      .as[(Long, Double, Double)].collect().head
    assert(atV1 === ((3L, -2.0, 9.25)))

    // blooms are a stats MERGE — countability and extremes survive
    TxTable.addBlooms(spark, dir, Seq("tag"))
    assert(agg() === full)

    // the brutal metadata-only proof: remove every DATA directory and
    // the log still answers (a scan now cannot)
    new java.io.File(dir).listFiles().filter(f => f.isDirectory && f.getName != "_log")
      .foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
        }
        rm(d)
      }
    assert(agg() === full)
    intercept[Exception](TxTable.read(spark, dir).get.count())
  }

  test("addDistinctSketches + statsApproxDistinct: log-union estimate == whole-table sketch") {
    val dir = tmp("tx-hll")
    TxTable.mergeLatest(spark, txBatch(
      ("srvA", "t1", "2024-01-01 10:00:00", 1.0),
      ("srvA", "t2", "2024-01-01 10:00:01", 2.0),
      ("srvB", "t3", "2024-01-01 10:00:02", 1.0)), dir)
    TxTable.mergeLatest(spark, txBatch(
      ("srvB", "t4", "2024-01-02 10:00:00", 2.0),
      ("srvC", "t5", "2024-01-02 10:00:01", 7.0)), dir)
    val v = TxTable.addDistinctSketches(spark, dir, Seq("tag", "doubleValue"))
    assert(v > 0)
    // sketch union is lossless over the sketch state: the log answer
    // equals a direct sketch of the full table, and at this cardinality
    // both equal the exact count
    val full = TxTable.read(spark, dir).get
    def direct(c: String): Long = full
      .agg(hll_sketch_estimate(hll_sketch_agg(col(c).cast("string"), lit(12))))
      .head().getLong(0)
    assert(TxTable.statsApproxDistinct(spark, dir, "tag") === direct("tag"))
    assert(TxTable.statsApproxDistinct(spark, dir, "tag") === 5L)
    assert(TxTable.statsApproxDistinct(spark, dir, "doubleValue") === direct("doubleValue"))
    assert(TxTable.statsApproxDistinct(spark, dir, "doubleValue") === 3L)
    // blooms merge on top without losing the sketches
    TxTable.addBlooms(spark, dir, Seq("tag"))
    assert(TxTable.statsApproxDistinct(spark, dir, "tag") === 5L)
    // a file rewritten after the pass (new upsert) refuses loudly
    TxTable.mergeLatest(spark, txBatch(
      ("srvA", "t9", "2024-01-03 10:00:00", 9.0)), dir)
    val e = intercept[IllegalStateException](
      TxTable.statsApproxDistinct(spark, dir, "tag"))
    assert(e.getMessage.contains("no 'tag' sketch"), e.getMessage)
    // re-running the pass repairs it
    TxTable.addDistinctSketches(spark, dir, Seq("tag"))
    assert(TxTable.statsApproxDistinct(spark, dir, "tag") === 6L)
  }

  test("statsAggregateByPartition: per-partition census from the log == grouped scan") {
    val dir = tmp("tx-statsagg-part")
    TxTable.mergeLatest(spark, txBatch(
      ("srvA", "t1", "2024-01-01 10:00:00", 3.5),
      ("srvA", "t2", "2024-01-01 10:00:01", -2.0),
      ("srvB", "t3", "2024-01-01 10:00:02", 9.25)), dir)
    TxTable.mergeLatest(spark, txBatch(
      ("srvB", "t4", "2024-01-02 10:00:00", 11.5),
      ("srvC", "t5", "2024-01-02 10:00:01", 0.5)), dir)
    val got = TxTable.statsAggregateByPartition(spark, dir, Seq("doubleValue"))
      .as[(String, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val want = TxTable.read(spark, dir).get
      .groupBy("serverName")
      .agg(count(lit(1)), min("doubleValue"), max("doubleValue"))
      .as[(String, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == want)
    assert(got.map(_._1) == Seq("srvA", "srvB", "srvC"))
    assert(got.map(_._2) == Seq(2L, 2L, 1L))
  }

  test("statsAggregate refuses loudly when the log cannot prove the answer") {
    // stats-suppressed writer: no row counts anywhere
    val bare = tmp("tx-statsagg-bare")
    TxTable.mergeLatest(spark, txBatch(("srvA", "t1", "2024-01-01 10:00:00", 1.0)),
      bare, statsCols = Nil)
    val e1 = intercept[IllegalStateException](
      TxTable.statsAggregate(spark, bare))
    assert(e1.getMessage.contains("no row count"), e1.getMessage)

    val dir = tmp("tx-statsagg-refuse")
    TxTable.mergeLatest(spark, txBatch(("srvA", "t1", "2024-01-01 10:00:00", 1.0)), dir)
    // a column with no recorded stats (never existed) refuses, not nulls
    val e2 = intercept[IllegalStateException](
      TxTable.statsAggregate(spark, dir, Seq("nope")))
    assert(e2.getMessage.contains("no stats for column 'nope'"), e2.getMessage)
    // the row-count pseudo-column is not itself an aggregatable domain
    intercept[IllegalArgumentException](
      TxTable.statsAggregate(spark, dir, Seq(TxTable.RowsKey)))
    // count alone still fine
    assert(TxTable.statsAggregate(spark, dir).as[Long].collect().head === 1L)
  }

  // ======================= readMerged contract =======================

  test("deleteKeys: erased from reads, audit via time travel, CDF deletes, hard-erase after vacuum") {
    val dir = tmp("tx-delete")
    // two partitions, three tags; srvA/t1 is the key to forget
    val v1 = TxTable.mergeLatest(spark,
      txBatch(("srvA", "t1", "2024-01-01 10:00:00", 1.0),
        ("srvA", "t2", "2024-01-01 10:00:00", 2.0),
        ("srvB", "t3", "2024-01-01 10:00:00", 3.0)), dir)
    val vDel = TxTable.deleteKeys(spark,
      Seq(("srvA", "t1")).toDF("serverName", "tag"), dir)
    assert(vDel === v1 + 1)

    // current reads no longer see the key — on BOTH read paths
    val now = TxTable.read(spark, dir).get
      .select("serverName", "tag").as[(String, String)].collect().toSet
    assert(now === Set(("srvA", "t2"), ("srvB", "t3")))
    assert(TxTable.readMerged(spark, dir).get.count() === 2)

    // the audit window: time travel to the pre-delete version still reads it
    assert(TxTable.readAt(spark, dir, v1).get
      .filter(col("tag") === "t1").count() === 1)

    // CDF across the delete commit reports exactly the deleted row
    val cdf = TxTable.changeDataFeed(spark, dir, v1, vDel, keyCol = "tag")
      .select("change_type", "tag").as[(String, String)].collect().toSet
    assert(cdf === Set(("delete", "t1")), s"cdf: $cdf")

    // untouched partition files survive; the touched partition rewrote
    val snapDel = TxTable.snapshot(dir)
    assert(snapDel.filesByPartition("srvB") === TxTable.snapshotAt(dir, v1).filesByPartition("srvB"),
      "deleting srvA keys must not rewrite srvB")

    // HARD erasure: after vacuum, the removed pre-delete files are gone
    // from disk (checkpoint written by deleteKeys subsumes them)
    val reclaimed = TxTable.vacuum(dir, minAgeMs = 0L)
    val oldFiles = TxTable.snapshotAt(dir, v1).filesByPartition("srvA")
    assert(oldFiles.exists(f => reclaimed.exists(_.endsWith(f)) ||
      !new java.io.File(dir, f).exists()),
      s"pre-delete srvA data must be physically reclaimed: $reclaimed")

    // deleting on an LSM delta table: overlapping deltas, then forget
    val dir2 = tmp("tx-delete-lsm")
    TxTable.upsertDelta(spark, txBatch(("srvA", "t1", "2024-01-01 10:00:00", 1.0)), dir2)
    TxTable.upsertDelta(spark, txBatch(("srvA", "t1", "2024-01-01 11:00:00", 9.0),
      ("srvA", "t2", "2024-01-01 11:00:00", 2.0)), dir2)
    TxTable.deleteKeys(spark, Seq(("srvA", "t1")).toDF("serverName", "tag"), dir2)
    val merged2 = TxTable.readMerged(spark, dir2).get
      .select("tag").as[String].collect().toSeq
    assert(merged2 === Seq("t2"), "every overlapping delta row of the key is erased")
    // a later upsert re-inserts the key cleanly
    TxTable.upsertDelta(spark, txBatch(("srvA", "t1", "2024-01-02 10:00:00", 7.0)), dir2)
    assert(TxTable.readMerged(spark, dir2).get
      .filter(col("tag") === "t1").select("doubleValue").as[Double].head() === 7.0)

    // deleting a key that matches nothing is a no-op at the current
    // version — BOTH for an absent partition and for an existing
    // partition with no matching rows (an idempotent erasure re-issue
    // must not rewrite and re-version whole partitions)
    val vSame = TxTable.deleteKeys(spark,
      Seq(("srvZ", "nope")).toDF("serverName", "tag"), dir2)
    assert(vSame === TxTable.snapshot(dir2).version)
    val filesBefore = TxTable.snapshot(dir2).allFiles.toSet
    val vSame2 = TxTable.deleteKeys(spark,
      Seq(("srvA", "already-gone")).toDF("serverName", "tag"), dir2)
    assert(vSame2 === TxTable.snapshot(dir2).version)
    assert(TxTable.snapshot(dir2).allFiles.toSet === filesBefore,
      "a no-match delete on a live partition must not rewrite its files")
  }

  test("readMerged: key-column pruning equals unpruned view; value-column pruning rejected") {
    val table = tmp("graft-txstats") + "/mtbl"
    // two deltas where t1's LATEST value (2.0) lives in a file whose
    // doubleValue range excludes its stale value (7.0) — the resurrection
    // scenario the contract exists to prevent
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:00", 7.0),
      ("srvA", "t2", "2024-06-01 10:00:00", 8.0)), table)
    TxTable.upsertDelta(spark, txBatch(
      ("srvA", "t1", "2024-06-01 10:00:10", 2.0)), table)

    // key-column pruning: same rows as the unpruned merged view restricted
    // to that key
    val unpruned = TxTable.readMerged(spark, table).get
      .filter(col("tag") === "t1")
    val pruned = TxTable.readMerged(spark, table,
      pruneBy = Seq(ColRange("tag", Some("t1"), Some("t1")))).get
      .filter(col("tag") === "t1")
    assert(pruned.exceptAll(unpruned).isEmpty && unpruned.exceptAll(pruned).isEmpty)
    assert(pruned.select("doubleValue").as[Double].collect().toSeq === Seq(2.0))

    // value-column pruning throws — a silent stale-row resurrection is not
    // an acceptable failure mode
    val ex = intercept[IllegalArgumentException] {
      TxTable.readMerged(spark, table,
        pruneBy = Seq(ColRange("doubleValue", Some(6.0), Some(9.0))))
    }
    assert(ex.getMessage.contains("doubleValue"))
    // ...and the raw delta-granular read still accepts it (documented escape
    // hatch: no merge semantics to violate)
    assert(TxTable.read(spark, table,
      pruneBy = Seq(ColRange("doubleValue", Some(6.0), Some(9.0)))).get.count() === 2)
  }

  // ======================= the data-directory writer =======================

  /** Every live file's recorded stats against a plain read of its ref:
    * the row count, and the min/max of each column of a stats-eligible
    * type that holds a non-null value; no entry for any other column.
    */
  private def assertStatsMatchData(dir: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    val snap = TxTable.snapshot(dir)
    assert(snap.allFiles.nonEmpty, s"$op left no files")
    snap.allFiles.foreach { f =>
      val st = snap.statsOf(f)
      val df = spark.read.parquet(s"$dir/$f")
      val eligible = df.schema.fields.toSeq.filter(f => f.dataType match {
        case _: NumericType => true
        case StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }).map(_.name)
      val row = df.agg(count(lit(1)).cast("string"), eligible.flatMap(c =>
        Seq(min(col(c)).cast("string"), max(col(c)).cast("string"))): _*).head()
      val n = row.getString(0)
      assert(st.get(TxTable.RowsKey) === Some(ColStats('N', n, n)), s"$op: row count of $f")
      val want = eligible.zipWithIndex.flatMap { case (c, i) =>
        Option(row.getString(1 + 2 * i)).map(mn => c -> (mn, row.getString(2 + 2 * i)))
      }.toMap
      assert((st - TxTable.RowsKey).map { case (c, cs) => c -> (cs.min, cs.max) } === want,
        s"$op: stats of $f")
    }
  }

  test("every write op's add lines carry the count/min/max of the data they reference") {
    val base = tmp("tx-stats-ops")
    val merged = s"$base/merge"
    // the value column is null in all of srvB's first rows: no entry there
    val b1 = txBatch(("srvA", "t1", "2024-01-01 10:00:00", 1.5),
      ("srvA", "t2", "2024-01-01 10:00:01", -4.0))
    TxTable.mergeLatest(spark, b1, merged)
    assertStatsMatchData(merged, "mergeLatest, one partition")
    TxTable.mergeLatest(spark, txBatch(("srvA", "t1", "2024-01-02 10:00:00", 8.0),
      ("srvB", "t3", "2024-01-02 10:00:00", 2.0), ("srvB", "t4", "2024-01-02 10:00:05", 3.0))
      .withColumn("doubleValue", when(col("serverName") === "srvB", lit(null)).otherwise(col("doubleValue"))),
      merged)
    assertStatsMatchData(merged, "mergeLatest, two partitions")
    TxTable.deleteKeys(spark, Seq(("srvA", "t2"), ("srvB", "t4")).toDF("serverName", "tag"), merged)
    assertStatsMatchData(merged, "deleteKeys")
    TxTable.mergeInto(spark, txBatch(("srvA", "t1", "2024-01-03 10:00:00", 11.0),
      ("srvB", "t5", "2024-01-03 10:00:00", -7.25), ("srvC", "t6", "2024-01-03 10:00:00", 0.5)),
      merged, updateExprs = Map("doubleValue" -> col("s.doubleValue")))
    assertStatsMatchData(merged, "mergeInto")

    val delta = s"$base/delta"
    (1 to 3).foreach { c =>
      TxTable.upsertDelta(spark, txBatch(("srvA", "t1", f"2024-01-0$c 10:00:00", c * 1.0),
        ("srvB", s"t$c", f"2024-01-0$c 10:00:00", c * -2.0)), delta)
      assertStatsMatchData(delta, s"upsertDelta $c")
    }
    assert(TxTable.compact(spark, delta) >= 0L)
    assert(TxTable.snapshot(delta).filesByPartition.values.forall(_.size == 1))
    assertStatsMatchData(delta, "compact")

    val z = s"$base/z"
    val grid = spark.range(0, 1024).select((col("id") % 32).as("x"), (col("id") / 32).cast("long").as("y"),
      (col("id") * 7 % 101).as("v"), concat(lit("s"), col("id") % 13).as("s"))
    TxTable.ingestZOrdered(spark, grid, z, "x", "y", buckets = 4)
    assert(TxTable.snapshot(z).allFiles.size == 4)
    assertStatsMatchData(z, "ingestZOrdered")
    TxTable.optimizeZOrder(spark, z, "v", "x", buckets = 3)
    assert(TxTable.snapshot(z).allFiles.size == 3)
    assertStatsMatchData(z, "optimizeZOrder")
  }

  /** `servers` opcsim servers' normalized readings, four tags of each
    * declared type per server, at poll `cycle`.
    */
  private def opcsim(servers: Seq[String], cycle: Int) = {
    val types = Seq("Double", "Int32", "Boolean", "String", "Single", "DateTime")
    val t = ts(f"2024-01-01 00:00:$cycle%02d")
    val raw = for {
      s <- servers; (dt, k) <- types.zipWithIndex; i <- 0 until 4
    } yield (s, s"tag$k$i", s"ns=2;s=$dt$i", dt,
      graft.sources.OpcSimSource.rawValue(dt, k * 4 + i, cycle), t, t, 192)
    graft.functions.Normalize.normalize(raw.toDF("serverName", "tag", "opcPath", "dataType",
      "rawValue", "sourceTimestamp", "serverTimestamp", "quality"))
  }

  test("a mergeLatest past the observed-aggregate bound records what smaller commits record") {
    val servers = (1 to 30).map(i => f"srv$i%02d")
    val base = tmp("tx-stats-bound")
    val (bulk, chunked, bare) = (s"$base/bulk", s"$base/chunked", s"$base/bare")
    Seq(1, 2).foreach { c =>
      TxTable.mergeLatest(spark, opcsim(servers, c), bulk)
      servers.grouped(4).foreach(g => TxTable.mergeLatest(spark, opcsim(g, c), chunked))
    }
    val (b, s) = (TxTable.snapshot(bulk), TxTable.snapshot(chunked))
    val statCols = b.statsOf(b.allFiles.head).keySet - TxTable.RowsKey
    // 30 groups of a count plus a min and a max per column: read back
    assert(servers.size * (1 + 2 * statCols.size) > 400, statCols)
    assert(TxTable.history(bulk).last.detail("rows") == opcsim(servers, 2).count().toString)
    def rows(d: String) = TxTable.read(spark, d).get
    assert(rows(bulk).exceptAll(rows(chunked)).isEmpty && rows(chunked).exceptAll(rows(bulk)).isEmpty)
    assert(b.filesByPartition.keySet == servers.toSet)
    servers.foreach { p =>
      assert(b.statsOf(b.filesByPartition(p).head) === s.statsOf(s.filesByPartition(p).head), p)
    }
    val census = (d: String) => TxTable.statsAggregateByPartition(spark, d,
      Seq("tag", "doubleValue", "serverTimestamp")).collect().toSeq
    assert(census(bulk) === census(chunked))
    assertStatsMatchData(bulk, "mergeLatest past the bound")
    // statsCols = Nil: no stats field at all, the row count included
    TxTable.mergeLatest(spark, opcsim(servers, 1), bare, statsCols = Nil)
    val adds = Files.readAllLines(java.nio.file.Paths.get(bare, "_log", f"${0}%020d.commit"))
      .toArray.map(_.toString).filter(_.startsWith("add\t"))
    assert(adds.length == servers.size)
    adds.foreach(l => assert(l.split("\t", -1).length == 3, l))
  }
}
