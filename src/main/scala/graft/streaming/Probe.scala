package graft.streaming

import org.apache.spark.sql.DataFrame

/** A stream probe's output stream plus the lifecycle of the static
  * relations it caches — the handle every stateless stream-static probe
  * returns ([[StreamingIndexProbe]], [[StreamingWinnowProbe]],
  * [[StreamingSpatialProbe]], [[StreamingAnnProbe]]). The cache must live
  * as long as the streaming query (a stream-static join re-evaluates the
  * static subplan every micro-batch); when the query stops — or the index
  * is rebuilt and a new probe replaces this one — `close()` releases the
  * storage. Without the handle, repeated index rebuilds accumulated
  * cached relations with only `spark.catalog.clearCache()` as remedy.
  */
final class Probe private[streaming] (
    val output: DataFrame,
    cached: Seq[DataFrame]) extends AutoCloseable {
  override def close(): Unit = cached.foreach(_.unpersist(blocking = false))
}
