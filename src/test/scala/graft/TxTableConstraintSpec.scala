package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.TxTable

/** CHECK constraints as versioned table state: admission validation,
  * write-path enforcement across every row-adding path, SQL NULL
  * semantics, checkpoint/vacuum survival, clone inheritance, and the
  * history() audit surface.
  */
class TxTableConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val K = Seq("part", "id")

  private def df(rows: (String, Long, Double)*) =
    rows.toDF("part", "id", "value")

  private def mkTable(rows: (String, Long, Double)*): String = {
    val path = tmp("txq") + "/t"
    TxTable.mergeInto(spark, df(rows: _*), path, partitionCol = "part", keys = K)
    path
  }

  test("addConstraint refuses when existing rows violate; registers otherwise") {
    val path = mkTable(("a", 1L, 5.0))
    val bad = intercept[IllegalStateException] {
      TxTable.addConstraint(spark, path, "pos", "value > 10.0")
    }
    assert(bad.getMessage.contains("pos") && bad.getMessage.contains("1 rows"))
    TxTable.addConstraint(spark, path, "pos", "value > 0.0")
    assert(TxTable.snapshot(path).constraints == Map("pos" -> "value > 0.0"))
  }

  test("every row-adding write path rejects a violating batch, table unchanged") {
    val path = mkTable(("a", 1L, 5.0))
    TxTable.addConstraint(spark, path, "pos", "value > 0.0")
    val v0 = TxTable.snapshot(path).version
    def assertRejected(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("CHECK"), e.getMessage)
      assert(TxTable.snapshot(path).version == v0, "a rejected write committed")
    }
    assertRejected(TxTable.mergeLatest(spark, df(("a", 2L, -1.0)), path,
      partitionCol = "part", keys = K, order = Seq("value")))
    assertRejected(TxTable.upsertDelta(spark, df(("a", 2L, -1.0)), path,
      partitionCol = "part", keys = K, order = Seq("value")))
    assertRejected(TxTable.mergeInto(spark, df(("a", 2L, -1.0)), path,
      partitionCol = "part", keys = K))
    // an UPDATE that breaks the rule is caught too (post-image validated)
    assertRejected(TxTable.mergeInto(spark, df(("a", 1L, 7.0)), path,
      partitionCol = "part", keys = K,
      updateExprs = Map("value" -> (col("s.value") - lit(100.0)))))
    // a clean batch still lands
    TxTable.mergeInto(spark, df(("a", 3L, 3.0)), path,
      partitionCol = "part", keys = K)
    assert(TxTable.read(spark, path).get.count() == 2)
  }

  test("NULL evaluates as passing (SQL CHECK semantics); drop re-admits") {
    val path = mkTable(("a", 1L, 5.0))
    TxTable.addConstraint(spark, path, "pos", "value > 0.0")
    val withNull = Seq(("a", 2L, Option.empty[Double]))
      .toDF("part", "id", "value")
    TxTable.mergeInto(spark, withNull, path, partitionCol = "part", keys = K)
    assert(TxTable.read(spark, path).get.count() == 2)
    TxTable.dropConstraint(path, "pos")
    TxTable.mergeInto(spark, df(("a", 9L, -9.0)), path,
      partitionCol = "part", keys = K)
    assert(TxTable.read(spark, path).get.count() == 3)
    // dropping a missing constraint is an idempotent no-op
    val v = TxTable.snapshot(path).version
    assert(TxTable.dropConstraint(path, "pos") == v)
  }

  test("constraints survive checkpointing and log vacuum") {
    val path = mkTable(("a", 1L, 5.0))
    TxTable.addConstraint(spark, path, "pos", "value > 0.0")
    // push well past CheckpointInterval so the constraint's own commit is
    // below the checkpoint and gets pruned by vacuum's log retention
    (0 until TxTable.CheckpointInterval + 3).foreach { i =>
      TxTable.mergeInto(spark, df(("a", 100L + i, i + 1.0)), path,
        partitionCol = "part", keys = K)
    }
    TxTable.vacuum(path, minAgeMs = 0L)
    assert(TxTable.snapshot(path).constraints == Map("pos" -> "value > 0.0"),
      "constraint lost across checkpoint + log pruning")
    intercept[IllegalStateException] {
      TxTable.mergeInto(spark, df(("a", 999L, -1.0)), path,
        partitionCol = "part", keys = K)
    }
  }

  test("shallowClone inherits the source's constraints") {
    val path = mkTable(("a", 1L, 5.0))
    TxTable.addConstraint(spark, path, "pos", "value > 0.0")
    val dst = tmp("txq-clone") + "/t"
    TxTable.shallowClone(path, dst)
    assert(TxTable.snapshot(dst).constraints == Map("pos" -> "value > 0.0"))
    intercept[IllegalStateException] {
      TxTable.mergeInto(spark, df(("b", 2L, -2.0)), dst,
        partitionCol = "part", keys = K)
    }
  }

  test("history: newest-first audit rows with op names and add/remove counts") {
    val path = mkTable(("a", 1L, 1.0), ("b", 2L, 2.0)) // v0: bootstrap
    TxTable.addConstraint(spark, path, "pos", "value > 0.0") // v1
    TxTable.mergeInto(spark, df(("a", 1L, 9.0)), path, // v2: rewrite part a
      partitionCol = "part", keys = K,
      updateExprs = Map("value" -> col("s.value")))
    val h = TxTable.history(path)
    assert(h.map(_.version) == Seq(2L, 1L, 0L))
    assert(h.map(_.op) == Seq("mergeInto", "addConstraint", "mergeInto"))
    val v1 = h.find(_.version == 1L).get.detail
    assert(v1 - "ms" == Map("attempt" -> "0", "name" -> "pos"))
    assert(v1("ms").toLong >= 0L)
    val v2 = h.head
    assert(v2.nAdded == 1 && v2.nRemoved == 1) // partition a: one in, one out
    assert(h.last.nAdded == 2 && h.last.nRemoved == 0)
  }
}
