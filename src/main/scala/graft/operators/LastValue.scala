package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  MapType, StructType}
import org.apache.spark.sql.graftshim.StreamingShim

/** Last-value-per-key — the reference's core materialization semantic.
  *
  * The reference's sink keeps exactly one document per tag via a replace
  * upsert (/root/reference/OPC2MongoDB/Program.cs:1179-1182), with "latest"
  * meaning queue-arrival order. We tighten that to event order — the row
  * with the greatest (orderCol, tieBreak...) wins — which is deterministic
  * and out-of-order safe (documented deviation, SURVEY.md §2.9).
  *
  * Implementation: `max_by(struct(*), struct(orderCol, tieBreak...))` —
  * a single hash aggregation with map-side partial aggregation, so the
  * shuffle carries at most one row per key per input partition. That is
  * the 100 TB-safe shape: shuffle volume is O(distinct keys), not O(rows),
  * and there is no window sort.
  */
object LastValue {

  def latestPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct(orderCols.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, ord).as("__latest"))
      .select(col("__latest.*"))
  }

  /** Hash twin of [[latestPerKey]] for one-shot callers (the TxTable
    * commit): ONE hash exchange on `keyCols` into exactly
    * `numPartitions` partitions (`repartition(n, keys)`, which AQE does
    * not coalesce), then each task keeps the greatest-`orderCols` row
    * per key in a hash map. No sort and no aggregate operator: max_by
    * over a struct plans as Sort → SortAggregate on both sides of its
    * shuffle.
    *
    * Same winners as [[latestPerKey]]: keys compare the way `groupBy`
    * groups them (NULLs form one group; for float and double keys −0.0
    * equals 0.0 and all NaNs are equal — Spark's hash partitioning
    * already routes those together, and the map key is normalised the
    * same way; a key with floats nested in a struct, array or map is
    * refused), order columns compare ascending with NULLs first, and a
    * strict `>` keeps the first row seen on a tie, as max_by does.
    *
    * Not lazy: the result is a frame over the computed RDD, so under AQE
    * the exchange runs when this is called, and the caller's action is
    * one more job. The frame's size estimate is the session default. A
    * task holds one row per key it owns, so `numPartitions` must be
    * sized to the input ([[Checkpoints.sizedPartitions]]).
    */
  def latestPerKeyHashed(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      numPartitions: Int): DataFrame = {
    val schema = df.schema
    val resolver = df.sparkSession.sessionState.conf.resolver
    def ref(c: String): BoundReference = {
      val i = schema.fieldNames.indexWhere(resolver(_, c))
      require(i >= 0, s"latestPerKeyHashed: no column $c in ${schema.simpleString}")
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    def nestedFloat(dt: DataType): Boolean = dt match {
      case FloatType | DoubleType => true
      case s: StructType => s.fields.exists(f => nestedFloat(f.dataType))
      case a: ArrayType => nestedFloat(a.elementType)
      case m: MapType => nestedFloat(m.keyType) || nestedFloat(m.valueType)
      case _ => false
    }
    val keyExprs = keyCols.map(ref).map { r =>
      r.dataType match {
        case FloatType | DoubleType => NormalizeNaNAndZero(r)
        case dt =>
          require(!nestedFloat(dt),
            s"latestPerKeyHashed: key ${schema(r.ordinal).name} nests float values")
          r
      }
    }
    val orderExprs = orderCols.map(c => SortOrder(ref(c), Ascending))
    val rows = df.repartition(numPartitions, keyCols.map(col): _*)
      .queryExecution.toRdd.mapPartitions { it =>
        val keyOf = UnsafeProjection.create(keyExprs)
        val ordering = new InterpretedOrdering(orderExprs)
        val best = new java.util.HashMap[UnsafeRow, InternalRow]()
        it.foreach { row =>
          val k = keyOf(row)
          val cur = best.get(k)
          if (cur == null || ordering.gt(row, cur)) best.put(k.copy(), row.copy())
        }
        best.values.iterator.asScala
      }
    StreamingShim.ofInternalRows(df.sparkSession, rows, schema)
  }

  /** Skew-safe variant: pre-reduce each key within `saltBuckets` salted
    * sub-groups, then reduce the ≤ saltBuckets survivors per key. For a hot
    * key (one tag producing a large share of all events — common in
    * telemetry) the single-phase aggregation funnels every pre-aggregated
    * partial of that key through one reducer task; salting bounds any
    * task's input to ~1/saltBuckets of the hot key's partials. Same result,
    * two shuffles — use when key skew is known/measured, not by default.
    *
    * The salt is a deterministic hash of the order columns, not `rand()`:
    * a retried task re-derives identical salts (rand() re-rolls on
    * recompute, which breaks idempotent-replay assumptions in foreachBatch
    * sinks), and hot-key rows still spread because their order values
    * differ.
    */
  def latestPerKeySalted(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      saltBuckets: Int = 32): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct(orderCols.map(col): _*)
    val salted = df
      .withColumn("__salt", pmod(xxhash64(orderCols.map(col): _*), lit(saltBuckets)).cast("int"))
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(max_by(payload, ord).as("__latest"), max(ord).as("__ord"))
    salted
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(col("__latest"), col("__ord")).as("__latest"))
      .select(col("__latest.*"))
  }
}
