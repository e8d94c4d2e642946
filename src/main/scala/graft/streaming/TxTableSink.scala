package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** The ACID table as a STREAMING SINK — `writeStream.format("txtable")`:
  * every micro-batch lands as one [[TxTable.mergeLatest]] commit
  * (last-value upsert, partition-scoped rewrite, optimistic
  * concurrency). The write-side twin of [[TxTableCdfSource]]; together
  * they close the loop `stream → table → change-feed stream → table`
  * with ACID commits at both boundaries, declaratively:
  *
  * {{{
  *   df.writeStream.format("txtable")
  *     .option("path", tableDir)
  *     .option("partitionCol", "serverName")
  *     .option("keys", "serverName,tag")
  *     .option("order", "serverTimestamp,sourceTimestamp")
  *     .option("checkpointLocation", ckpt)
  *     .start()
  * }}}
  *
  * Exactly-once: the same contract the foreachBatch sinks document —
  * a replayed micro-batch re-merges the same rows, and the last-value
  * merge is idempotent (same keys + order values converge to the same
  * table state), so checkpoint replay after a crash cannot duplicate or
  * reorder. The sink accepts Append and Update output modes (both mean
  * "merge these rows" here — the merge semantic subsumes the
  * difference); Complete is refused because a complete-mode result
  * would have to REPLACE the table, not merge into it.
  *
  * Stats policy: AutoStats, the merge-on-WRITE sink rule
  * ([[TxTable.StreamingSinkStats]]'s scaladoc) — this sink's tables
  * hold one collapsed dir per partition, `compact` never applies, so
  * key-only stats would permanently forfeit value/timestamp skipping,
  * and the observe cost is marginal next to the partition rewrite the
  * merge already pays. (An LSM-delta sink variant would switch to
  * key-only stats; that path stays on
  * [[StreamingPipeline.currentValueSinkTxDelta]].)
  *
  * Cost per micro-batch: [[TxTable.mergeLatest]]'s three jobs, no sort,
  * and no session-config change — the commit passes its partition count
  * to its own plan, so other queries sharing the session keep their
  * settings while a batch commits. Each commit's `op` line carries the
  * rows written and the commit attempt's ms ([[TxTable.history]]).
  */
class TxTableSinkProvider extends StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "txtable"

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode != OutputMode.Complete(),
      "txtable sink merges micro-batches; Complete mode would require " +
        "replacing the table — use foreachBatch with an explicit rewrite")
    val p = scala.collection.immutable.TreeMap[String, String]()(
      Ordering.comparatorToOrdering(String.CASE_INSENSITIVE_ORDER)) ++ parameters
    val path = p.getOrElse("path",
      throw new IllegalArgumentException(
        "txtable sink requires .option(\"path\", <table dir>)"))
    def csv(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    new TxTableSink(path,
      p.get("partitionCol").getOrElse("serverName"),
      p.get("keys").map(csv).getOrElse(Seq("serverName", "tag")),
      p.get("order").map(csv)
        .getOrElse(Seq("serverTimestamp", "sourceTimestamp")))
  }
}

class TxTableSink(
    path: String,
    partitionCol: String,
    keys: Seq[String],
    order: Seq[String]) extends Sink with Logging {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the engine hands a streaming-flagged frame; re-root it as a batch
    // frame (the ForeachBatchSink pattern) before deriving merge plans
    val batch = org.apache.spark.sql.graftshim.StreamingShim.asBatchDataFrame(data)
    val version = TxTable.mergeLatest(data.sparkSession, batch, path,
      partitionCol, keys, order)
    logInfo(s"txtable sink: batch $batchId committed as version $version of $path")
  }

  override def toString: String = s"TxTableSink[$path]"
}
