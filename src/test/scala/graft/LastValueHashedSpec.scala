package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LastValue

/** [[LastValue.latestPerKeyHashed]], the TxTable commit's merge kernel,
  * against [[LastValue.latestPerKey]] (max_by): seeded scalacheck inputs
  * with duplicate keys, NULL keys, NULL order fields and −0.0 / 0.0 / NaN
  * double keys, merged into a table wider than the batch. The order
  * columns end in a unique id, so the order is total and both must
  * return the same rows.
  */
class LastValueHashedSpec extends SparkSpec {
  import spark.implicits._

  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  private def sample[A](g: Gen[A], n: Int, seedBase: Long = 0L): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seedBase + i)))

  // two NaNs with different bit patterns: groupBy treats all NaNs as one key
  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
  private val dKey: Gen[Option[Double]] =
    Gen.oneOf(None, Some(-0.0), Some(0.0), Some(Double.NaN), Some(otherNaN), Some(1.5))
  private val sKey: Gen[Option[String]] = Gen.oneOf(None, Some("a"), Some("b"))
  private val ord: Gen[Option[Long]] = Gen.option(Gen.chooseNum(0L, 3L))
  private val row = Gen.zip(sKey, dKey, ord)
  private val rows = Gen.chooseNum(0, 40).flatMap(Gen.listOfN(_, row))

  private val K = Seq("s", "d")
  private val O = Seq("o", "id")

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("property: the hash kernel returns latestPerKey's rows") {
    sample(Gen.zip(rows, rows), 25).zipWithIndex.foreach { case ((table, batch), i) =>
      // ids are unique across both sides and complete the order
      val t = table.zipWithIndex.map { case ((s, d, o), j) => (s, d, o, j.toLong, s"t$j") }
        .toDF("s", "d", "o", "id", "extra")
      val b = batch.zipWithIndex.map { case ((s, d, o), j) => (s, d, o, 1000L + j) }
        .toDF("s", "d", "o", "id")
      val union = t.unionByName(b, allowMissingColumns = true)
      val want = ids(LastValue.latestPerKey(union, K, O))
      Seq(1, 3, 7).foreach { p =>
        val got = LastValue.latestPerKeyHashed(union, K, O, p)
        assert(got.columns.toSeq == union.columns.toSeq)
        assert(ids(got) == want, s"case $i, $p partitions")
      }
    }
  }

  test("signed zeros and NaNs each form one key; the winner row is kept whole") {
    val df = Seq(
      (-0.0, 1L, "neg"), (0.0, 2L, "pos"),
      (Double.NaN, 5L, "nan"), (otherNaN, 4L, "nan2"))
      .toDF("d", "o", "payload")
    val got = LastValue.latestPerKeyHashed(df, Seq("d"), Seq("o"), 4)
      .select("o", "payload").as[(Long, String)].collect().toSet
    assert(got == Set((2L, "pos"), (5L, "nan")))
  }

  test("NULL order fields sort first; a tie keeps one of the tied rows") {
    val df = Seq[(String, Option[Long], String)](
      ("k", None, "null"), ("k", Some(1L), "one"),
      ("j", None, "only-null"),
      ("t", Some(2L), "x"), ("t", Some(2L), "y"))
      .toDF("k", "o", "payload")
    val got = LastValue.latestPerKeyHashed(df, Seq("k"), Seq("o"), 2)
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(got("k") == "one")
    assert(got("j") == "only-null")
    assert(Set("x", "y").contains(got("t")))
    assert(got.size == 3)
  }

  test("a key with nested floats is refused") {
    val df = Seq((1.0, 1L)).toDF("d", "o").select(struct(col("d")).as("k"), col("o"))
    intercept[IllegalArgumentException](
      LastValue.latestPerKeyHashed(df, Seq("k"), Seq("o"), 2))
  }
}
