package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** STREAMING near-dup probe against a batch-built corpus index — the
  * streaming twin of [[graft.operators.Dedup.incrementalNearDups]]'s
  * cross arm: every micro-batch document is banded PER ROW (the
  * stateless [[Dedup.rowBandKeys]] reformulation — the batch path's
  * explode+groupBy signature build would be a stateful streaming
  * aggregation) and probes the static index by a plain stream-static
  * equi-join on (band, bkey); candidates verify by exact hash-level
  * Jaccard via the codegen sorted-intersect expression over per-row
  * shingle-hash sets. No watermark, no state: the operators are
  * projections and stream-static joins, so the query runs in append mode
  * at any rate and restarts replay identically.
  *
  * Semantics: emits (new_id, matched_id, jaccard ≥ threshold) — one row
  * per MATCHING BAND (a pair sharing m bands emits m identical rows);
  * exactly-once per (pair, band). Deduplicating across bands would need
  * per-pair state; the engine's idempotent merge sinks absorb the
  * duplicates, which is the same at-least-once contract the upsert
  * sinks already own. Within-stream (new-vs-new) duplicates are
  * [[StreamingDedup]]'s job — this operator answers "is it already in
  * the corpus", which needs no state at all.
  */
object StreamingIndexProbe {

  /** Probe `docs` (streaming: idCol, textCol) against `index`. The two
    * static tables (band keys; per-doc sorted shingle-hash sets) are
    * PERSISTED here: a stream-static join re-evaluates the static
    * subplan every micro-batch, so without the cache each trigger would
    * re-shuffle the whole corpus. The returned [[Probe]] owns that
    * storage — stop the query, then `close()` it (rebuilding the index
    * means a new probe; close the old one). The shingle sets join the
    * CANDIDATES (after the band match), not the band table — corpus
    * shingle arrays move only for actual collisions, O(candidates), not
    * O(corpus × bands) per trigger.
    */
  def nearDupAgainstIndex(
      docs: DataFrame,
      index: Dedup.LshIndex,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5): Probe = {
    val idxBands = index.bands
      .select(col(index.bands.columns.head).as("matched_id"),
        col("band"), col("bkey"))
      .persist()
    val idxSets = index.shingles
      .groupBy(col(index.shingles.columns.head).as("matched_id"))
      .agg(sort_array(collect_set(Dedup.hash40(col("shingle")))).as("__mset"))
      .persist()
    // shingle array + base hashes materialize ONCE per row (separate
    // projections — interpreted HOFs get no codegen subexpression
    // elimination, so the sharing must be structural) and feed both the
    // verify set and the band build
    val withArrays = docs.select(col(idCol).as("new_id"),
        Dedup.rowShingles(col(textCol), index.shingleK).as("__sh"))
      .select(col("new_id"), col("__sh"),
        transform(col("__sh"), s => Dedup.hash40(s)).as("__b1"))
    val probes = withArrays.select(col("new_id"),
        array_sort(array_distinct(col("__b1"))).as("__nset"),
        explode(Dedup.rowBandKeysFromArrays(col("__sh"), col("__b1"),
          index.numHashes, index.rowsPerBand)).as("__b"))
      .select(col("new_id"), col("__nset"),
        col("__b.band").as("band"), col("__b.bkey").as("bkey"))
    val out = probes.join(idxBands, Seq("band", "bkey"))
      .join(idxSets, "matched_id") // arrays attach to candidates only
      .withColumn("__i",
        graft.functions.GraftFunctions.sortedIntersectCount(
          col("__nset"), col("__mset")))
      .withColumn("jaccard",
        col("__i").cast("double") /
          (size(col("__nset")) + size(col("__mset")) - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("matched_id"), col("jaccard"))
    new Probe(out, Seq(idxBands, idxSets))
  }
}
