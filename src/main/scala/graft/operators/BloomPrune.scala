package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}

/** Bloom-filter join pruning: build a Bloom filter over the (filtered) join
  * keys of the small side, ship it to every fact-side task, and drop fact
  * rows that cannot possibly match BEFORE the join's shuffle. The exact
  * equi-join afterwards removes the false positives, so results are
  * bit-identical to the plain join — the bloom is pure shuffle-volume
  * reduction.
  *
  * 100 TB posture: this is the generalization of what Spark's own
  * `InjectRuntimeFilter` (row-level runtime filtering) does for selective
  * broadcast joins — made explicit so it (a) applies regardless of the
  * join's physical strategy, (b) lets the caller size `expectedItems`/`fpp`
  * from known cardinalities, and (c) lets one built filter be reused across
  * several fact scans of the same pipeline. The filter itself is built with
  * one pass over the dim side (internally a `treeAggregate` of fixed-size
  * bit arrays — driver receives a single sketch, never rows), and the
  * fact-side probe is Spark's native `BloomFilterMightContain` predicate,
  * which stays inside whole-stage codegen. For a dim side of n keys at fpp
  * 1%, the sketch is ~1.2 n bytes — 10 M keys ≈ 12 MB, broadcast once per
  * executor, vs shuffling the un-pruned fact side (TB at 100 TB scale).
  *
  * Reference contrast: the reference bridge joins nothing — its one lookup
  * is a per-tag Mongo upsert key (`/root/reference/OPC2MongoDB/
  * Program.cs:1179-1182`); this operator exists for the analytical surface
  * layered on top (SURVEY.md §2.4).
  */
object BloomPrune {

  /** Serialized Bloom filter of `dim`'s `dimKey` (a long-typed key column),
    * or None when the dim side has no rows — `DataFrameStatFunctions
    * .bloomFilter` NPEs on an empty input (the aggregate buffer is never
    * allocated), and an empty dim side is a legitimate runtime state (a
    * selective dim filter can match nothing at small scale). One dim-side
    * pass; the returned bytes are small enough to inline as a literal into
    * the fact-side predicate (Spark broadcasts the task binary, so every
    * executor deserializes it once per task-set).
    */
  def buildBloom(
      dim: DataFrame,
      dimKey: String,
      expectedItems: Long,
      fpp: Double): Option[Array[Byte]] = {
    // Same sizing formula as util.sketch.BloomFilter.optimalNumOfBits.
    val numBits = math.max(
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong,
      64L)
    val row = dim
      .select(column(new BloomFilterAggregate(expression(col(dimKey).cast("long")),
        expression(lit(expectedItems)), expression(lit(numBits))).toAggregateExpression())
        .as("bf"))
      .head()
    if (row.isNullAt(0)) None else Some(row.getAs[Array[Byte]](0))
  }

  /** Codegen-friendly membership probe against a serialized Bloom filter.
    * `key` must be LONG (the sketch stores raw longs for integral keys —
    * same convention on build and probe side).
    */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    column(BloomFilterMightContain(expression(lit(bloom)), expression(key)))

  /** Exact inner equi-join with a Bloom pre-prune of the fact side: the
    * filter runs in the fact scan stage (before the shuffle), the join
    * afterwards guarantees exactness. `expectedItems` should be an upper
    * bound on dim-side distinct keys; overshooting only wastes sketch bits.
    * An empty dim side short-circuits to `false` on the fact scan — the
    * inner join's result is empty either way, and this keeps the fact side
    * from shuffling a single row.
    */
  def prunedEquiJoin(
      fact: DataFrame,
      factKey: String,
      dim: DataFrame,
      dimKey: String,
      expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val pruned = buildBloom(dim, dimKey, expectedItems, fpp) match {
      case Some(bloom) => fact.filter(mightContain(bloom, col(factKey)))
      case None        => fact.filter(lit(false))
    }
    pruned.join(dim, col(factKey) === col(dimKey))
  }
}
