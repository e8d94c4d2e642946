package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** The `private[sql]` door the v1 streaming-source API requires.
  *
  * `MicroBatchExecution` asserts that every DataFrame a v1
  * [[org.apache.spark.sql.execution.streaming.Source]] returns from
  * `getBatch` carries `isStreaming = true` on its leaves, but the only
  * constructor for such a frame (`SparkSession.internalCreateDataFrame`
  * with `isStreaming = true`, wrapping the batch plan's `toRdd` in a
  * streaming-flagged `LogicalRDD`) is `private[sql]`. Connectors that
  * implement v1 sources against arbitrary batch plans (Delta's
  * `DeltaSource` is the canonical example) all route through this same
  * API; a package-qualified shim is the standard way for an external
  * build to reach it. The same door serves batch operators that compute
  * their partitions on catalyst rows and hand the result back to the
  * planner ([[ofInternalRows]]). This package is the ONLY code in the
  * repo outside the `graft` namespace; its three doors (this object,
  * [[ColumnShim]], [[SessionShim]]) must each stay a few pure wrappers —
  * anything more belongs in `graft.*`.
  */
object StreamingShim {

  /** Re-root `df`'s physical RDD as a streaming-flagged leaf with the
    * same schema. The plan is NOT executed here — `toRdd` is lazy, so
    * the wrapped batch runs when the micro-batch executes, exactly once
    * per batch.
    */
  def asStreamingDataFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse door, for the SINK side: the frame handed to a v1
    * `Sink.addBatch` carries streaming-flagged leaves, so any plan
    * derived from it (a filter, a groupBy, a write) trips the
    * unsupported-operation checker ("streaming sources must be executed
    * with writeStream.start()"). Re-rooting the micro-batch's physical
    * RDD as a plain batch leaf — exactly what the engine's own
    * ForeachBatchSink does before invoking the user function — makes
    * the batch usable as an ordinary DataFrame. One execution: the
    * wrapped RDD IS the micro-batch's planned RDD.
    */
  def asBatchDataFrame(df: DataFrame): DataFrame =
    ofInternalRows(df.sparkSession, df.queryExecution.toRdd, df.schema)

  /** A batch frame whose leaf is `rows`, read as `schema`. Building it
    * runs nothing; the RDD runs when a plan over the frame executes.
    */
  def ofInternalRows(
      spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)
}
