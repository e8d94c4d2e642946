package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosineSim
import graft.operators.SimilaritySearch

/** STREAMING ANN probe against a batch-built IVF / IVF-PQ index — the
  * vector twin of [[StreamingIndexProbe]]: every micro-batch query vector
  * is expanded to its `nProbe` nearest cells (a narrow per-row projection
  * against the centroid literals, no state) and probes the static
  * inverted lists by a plain stream-static equi-join on `__cell`;
  * candidates score by exact cosine (IVF) or ADC lookup (IVF-PQ). No
  * watermark, no state — append mode at any rate, identical replay on
  * restart.
  *
  * Semantics: emits SCORED CANDIDATES (query_id, neighbor_id, cosine) —
  * not a ranked top-k. Finalizing "the k best per query" is an
  * aggregation append-mode streams cannot close without state; but a
  * query row's candidates all materialize inside its OWN micro-batch
  * (the cell explode and the static join are stateless), so the exact
  * per-query top-k is one [[SimilaritySearch.rankTopK]] over each batch
  * in a `foreachBatch` sink — StreamingSpec pins that composition equal
  * to the batch [[SimilaritySearch.ivfQueryIndex]] on the same index.
  * This mirrors the per-band at-least-once stance of
  * [[StreamingIndexProbe]]: the stream's job is candidate generation;
  * ranking/merging belongs to the (idempotent) sink.
  *
  * The static lists are PERSISTED here (a stream-static join re-evaluates
  * the static subplan every trigger); the returned [[Probe]] handle owns
  * that storage — stop the query, `close()` the probe. An index
  * refreshed by [[SimilaritySearch.ivfAppendIndex]] needs a NEW probe
  * over a fresh read to see the appended files (the cached relation pins
  * the file listing of its load time — same contract as any cached
  * static table under a streaming join).
  */
object StreamingAnnProbe {

  /** Probe a static IVF index (`centroids` + `lists` from
    * [[SimilaritySearch.ivfBuildIndex]]/`ivfLoadIndex`) with a STREAM of
    * query vectors. Exact cosine per candidate; self-excluding.
    */
  def ivfProbe(
      queries: DataFrame,
      centroids: Seq[Seq[Float]],
      lists: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int = 4,
      cacheIndex: Boolean = true): Probe = {
    // cacheIndex = false: a 100 TB index cannot live in executor storage
    // — pass the ivfLoadIndex lists (cell-partitioned parquet) uncached
    // and each trigger re-reads only what the join needs from disk; the
    // cached mode stays the low-latency default for memory-sized indexes
    val idx = if (cacheIndex) lists.persist() else lists
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qvec"),
      explode(SimilaritySearch.probeCells(col(vecCol), centroids, nProbe)).as("__cell"))
    val out = q.join(idx, "__cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("__qvec"), col("__cvec")).as("cosine"))
    new Probe(out, if (cacheIndex) Seq(idx) else Nil)
  }

  /** Probe a static IVF-PQ index (`centroids` + `codebooks` + `coded`
    * from [[SimilaritySearch.ivfPqBuildIndex]]/`ivfPqLoadIndex`) with a
    * stream of query vectors. Scores are ADC approximations (the same
    * O(m)-per-candidate LUT aggregation as the batch path's approx
    * stage); the exact re-rank of a k·refine shortlist — a second
    * aggregation — again composes in `foreachBatch`, where the batch is
    * a plain DataFrame that can join the true vectors.
    */
  def ivfPqProbe(
      queries: DataFrame,
      centroids: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]],
      coded: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int = 4,
      cacheIndex: Boolean = true): Probe = {
    val idx = if (cacheIndex) coded.persist() else coded
    val q = queries.select(col(idCol).as("query_id"),
      SimilaritySearch.pqLut(col(vecCol), codebooks).as("__lut"),
      explode(SimilaritySearch.probeCells(col(vecCol), centroids, nProbe)).as("__cell"))
    // same native ADC expression as the batch path — scores stay
    // bit-identical between the streaming and batch probes
    val adc: Column =
      graft.functions.GraftFunctions.adcScore(col("__codes"), col("__lut"))
    val out = q.join(idx, "__cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("cosine"))
    new Probe(out, if (cacheIndex) Seq(idx) else Nil)
  }

  /** STREAMING SemDeDup probe — the ingestion-time twin of
    * [[SimilaritySearch.semanticDupPairs]] (q192): every arriving
    * embedding lands in its coarse cell (`cellOf` — axis-sign or trained
    * centroids via `SimilaritySearch.assignCell`, a narrow stateless
    * projection) and probes the STATIC corpus by a cell equi-join; exact
    * cosine ≥ `threshold` emits (id, corpus_id, cell, cosine) — "this
    * new document is a semantic duplicate of corpus row X", the filter a
    * training-data ingest runs before admitting a document. Stateless,
    * append mode, O(batch × cell-collision) per trigger; stream-vs-stream
    * pairs are (deliberately) not emitted — new arrivals join the static
    * side only on the next index refresh, the same contract as
    * [[StreamingIndexProbe]]. StreamingSpec pins parity with the batch
    * pair set restricted to stream-involving pairs.
    */
  def semanticProbe(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cellOf: Column => Column,
      threshold: Double,
      cacheIndex: Boolean = true): Probe = {
    val stat = corpus.select(cellOf(col(vecCol)).as("__cell"),
      col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val idx = if (cacheIndex) stat.persist() else stat
    val out = stream
      .select(cellOf(col(vecCol)).as("__cell"), col(idCol).as("id"),
        col(vecCol).as("__v"))
      .join(idx, "__cell")
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id"), col("__cell").as("cell"),
        cosineSim(col("__v"), col("__cv")).as("cosine"))
      .filter(col("cosine") >= threshold)
    new Probe(out, if (cacheIndex) Seq(idx) else Nil)
  }
}
