package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{HardLinkLogStore, LogStore, TxTable}

/** Every TxTable write op commits through one optimistic-concurrency
  * loop. Each case forces exactly one lost race: the op's first commit
  * put finds its version already taken by an empty racer commit. The op
  * must then land at the version after the racer, record `attempt 1` on
  * its `op` line, read exactly like the same op on a race-free copy, and
  * leave on disk no data directory of the attempt that lost.
  */
class TxTableCommitLoopSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private val K = Seq("serverName", "tag")
  private val O = Seq("seq")

  private def rows(server: String, seq: Long, tags: Int*): DataFrame =
    tags.map(i => (server, s"tag$i", seq * 10.0 + i, seq))
      .toDF("serverName", "tag", "doubleValue", "seq")

  /** Two partitions of four tags each, committed at version 0. */
  private def base(path: String): Unit =
    TxTable.mergeLatest(spark, rows("srv-a", 1, 0, 1, 2, 3)
      .unionByName(rows("srv-b", 1, 0, 1, 2, 3)), path, "serverName", K, O)

  private def zrows(seed: Int): DataFrame =
    (0 until 32).map(i => (i % 8 + seed, i / 8, s"v$seed-$i")).toDF("x", "y", "v")

  /** A store scoped to one table path. While `races` is above zero, each
    * `.commit` put of that table first publishes a racer commit at the
    * same version (an `op racer` line and its eof trailer, no actions),
    * so the put itself then loses. Counts the table's commit puts.
    */
  private final class RacingStore(scope: String) extends LogStore {
    val races = new AtomicInteger(0)
    val puts = new AtomicInteger(0)
    override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit = {
      if (target.startsWith(scope) && target.toString.endsWith(".commit")) {
        puts.incrementAndGet()
        if (races.getAndDecrement() > 0)
          HardLinkLogStore.putIfAbsent(target,
            "op\tracer\neof\t1".getBytes(StandardCharsets.UTF_8))
      }
      HardLinkLogStore.putIfAbsent(target, bytes)
    }
  }

  private def dataDirs(path: String): Set[String] =
    Option(new File(path, "data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(d => s"data/${d.getName}").toSet

  private def liveDirs(path: String): Set[String] =
    TxTable.snapshot(path).allFiles.map(_.split('/').take(2).mkString("/")).toSet

  private def contents(path: String): Seq[String] =
    TxTable.read(spark, path).toSeq.flatMap(_.collect().map(_.toString)).sorted

  /** Run `op` on a race-free table and on a raced copy, both first built by
    * `setup`, and check the raced run against the race-free one.
    */
  private def raced(name: String, writesData: Boolean)(setup: String => Unit)(
      op: String => Long): Unit = {
    val clean = tmp(s"txloop-$name-clean")
    setup(clean)
    val v = TxTable.snapshot(clean).version
    assert(op(clean) == v + 1)

    val path = tmp(s"txloop-$name-raced")
    setup(path)
    assert(TxTable.snapshot(path).version == v)
    val before = dataDirs(path)
    val store = new RacingStore(path)
    store.races.set(1)
    val got = TxTable.withLogStore(store)(op(path))

    assert(got == v + 2, s"$name committed at $got")
    val h = TxTable.history(path)
    assert(h.head.version == v + 2 && h.head.op == name, s"head commit ${h.head}")
    assert(h.head.detail("attempt") == "1", s"$name op line ${h.head.detail}")
    assert(h(1).op == "racer")
    assert(contents(path) == contents(clean), s"$name raced read differs")
    // the lost attempt's own data dirs are gone: every dir the op left
    // behind is one its winning commit references
    val added = dataDirs(path) -- before
    assert(added == liveDirs(path) -- before, s"$name left unreferenced dirs")
    assert(added.nonEmpty == writesData, s"$name added $added")
  }

  test("mergeLatest retries a lost race once") {
    raced("mergeLatest", writesData = true)(base) { p =>
      TxTable.mergeLatest(spark, rows("srv-a", 2, 1, 5), p, "serverName", K, O)
    }
  }

  test("deleteKeys retries a lost race once") {
    raced("deleteKeys", writesData = true)(base) { p =>
      TxTable.deleteKeys(spark, Seq(("srv-a", "tag1")).toDF("serverName", "tag"),
        p, "serverName", K)
    }
  }

  test("mergeInto retries a lost race once") {
    raced("mergeInto", writesData = true)(base) { p =>
      TxTable.mergeInto(spark, rows("srv-a", 3, 2).unionByName(rows("srv-b", 3, 9)),
        p, "serverName", K,
        updateExprs = Map("doubleValue" -> col("s.doubleValue"), "seq" -> col("s.seq")))
    }
  }

  test("restore retries a lost race once") {
    raced("restore", writesData = false) { p =>
      base(p)
      TxTable.mergeLatest(spark, rows("srv-b", 4, 0, 7), p, "serverName", K, O)
    } { p => TxTable.restore(p, 0L) }
  }

  test("addBlooms retries a lost race once") {
    raced("addBlooms", writesData = false)(base) { p =>
      TxTable.addBlooms(spark, p, Seq("tag"))
    }
  }

  test("addDistinctSketches retries a lost race once") {
    raced("addDistinctSketches", writesData = false)(base) { p =>
      TxTable.addDistinctSketches(spark, p, Seq("tag"))
    }
  }

  test("addConstraint retries a lost race once") {
    raced("addConstraint", writesData = false)(base) { p =>
      TxTable.addConstraint(spark, p, "nonneg", "doubleValue >= 0")
    }
  }

  test("dropConstraint retries a lost race once") {
    raced("dropConstraint", writesData = false) { p =>
      base(p)
      TxTable.addConstraint(spark, p, "nonneg", "doubleValue >= 0")
    } { p => TxTable.dropConstraint(p, "nonneg") }
  }

  test("upsertDelta retries a lost race once, re-publishing its staged dirs") {
    raced("upsertDelta", writesData = true)(base) { p =>
      TxTable.upsertDelta(spark, rows("srv-a", 5, 0, 6), p, "serverName", K, O)
    }
  }

  test("compact retries a lost race once") {
    raced("compact", writesData = true) { p =>
      base(p)
      TxTable.upsertDelta(spark, rows("srv-a", 6, 1, 8), p, "serverName", K, O)
    } { p => TxTable.compact(spark, p, K, O) }
  }

  test("ingestZOrdered retries a lost race once, re-publishing its staged dirs") {
    raced("ingestZOrdered", writesData = true) { p =>
      TxTable.ingestZOrdered(spark, zrows(0), p, "x", "y", buckets = 2)
    } { p => TxTable.ingestZOrdered(spark, zrows(20), p, "x", "y", buckets = 2) }
  }

  test("optimizeZOrder retries a lost race once") {
    raced("optimizeZOrder", writesData = true) { p =>
      TxTable.ingestZOrdered(spark, zrows(0), p, "x", "y", buckets = 2)
      TxTable.ingestZOrdered(spark, zrows(20), p, "x", "y", buckets = 2)
    } { p => TxTable.optimizeZOrder(spark, p, "x", "y", buckets = 2) }
  }

  test("an op that loses every race gives up after 51 attempts") {
    val path = tmp("txloop-always")
    base(path)
    TxTable.addConstraint(spark, path, "nonneg", "doubleValue >= 0")
    val store = new RacingStore(path)
    store.races.set(Int.MaxValue)
    val e = intercept[IllegalStateException] {
      TxTable.withLogStore(store)(TxTable.dropConstraint(path, "nonneg"))
    }
    assert(e.getMessage == s"dropConstraint lost 50 consecutive commit races on $path")
    assert(store.puts.get == 51)
    assert(TxTable.snapshot(path).constraints.contains("nonneg"))
  }
}
