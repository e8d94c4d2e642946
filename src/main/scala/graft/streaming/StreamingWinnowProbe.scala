package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Winnow

/** STREAMING winnowing probe — "does this incoming document share an
  * exact substring run with the corpus?", the ingestion-time twin of
  * [[Winnow.matches]] (q231) and the third member of the stateless
  * stream-probe family beside [[StreamingIndexProbe]] (MinHash bands)
  * and [[StreamingAnnProbe]] (IVF cells): winnowing answers the
  * LOCALIZED-overlap question the other two can't (shared runs of
  * ≥ w + k − 1 chars, by the MOSS guarantee).
  *
  * Stateless by construction: fingerprinting is the same narrow
  * per-row deque pass the batch side uses (no banding aggregation to
  * re-express), and the probe is a plain stream-static equi-join on
  * (hash, gram) — no watermark, no state, append mode at any rate,
  * restart-safe. The static side is the corpus fingerprint set with
  * the df-cap applied ONCE at build (boilerplate grams never reach the
  * join) and persisted for the probe's lifetime — a stream-static join
  * re-evaluates the static subplan every trigger, so the handle owns
  * the cache exactly like the other probes (close() on rebuild).
  *
  * Semantics: one output row per (new doc, corpus doc, shared gram)
  * COLLISION — a pair sharing m fingerprints emits m rows, and a gram
  * fingerprinted at two positions of the new doc emits both. Collapsing
  * to per-pair counts (the batch `matches` shape) would need per-pair
  * streaming state; the engine's idempotent merge sinks absorb the
  * duplicates — the same at-least-once contract the band probe owns.
  */
object StreamingWinnowProbe {

  /** Probe `docs` (streaming: idCol, textCol) against `corpusFp` (a
    * batch [[Winnow.fingerprints]] result). `k`/`w` MUST match the
    * parameters the corpus was fingerprinted with — a mismatch is a
    * silent recall collapse, the [[graft.operators.Dedup.LshIndex]]
    * lesson, so pass the corpus set and its parameters together.
    */
  def matchesAgainstIndex(
      docs: DataFrame,
      corpusFp: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 12,
      w: Int = 8,
      maxDf: Int = 8): Probe = {
    val perDoc = corpusFp
      .select(col(corpusFp.columns.head).as("matched_id"), col("hash"), col("gram"))
      .distinct()
    val rare = perDoc.groupBy("hash", "gram")
      .agg(countDistinct(col("matched_id")).as("__df"))
      .filter(col("__df") <= maxDf)
      .select("hash", "gram")
    val kept = perDoc.join(rare, Seq("hash", "gram")).persist()
    val streamFp = Winnow.fingerprints(
        docs.select(col(idCol), col(textCol)), idCol, textCol, k, w)
      .select(col("id").as("new_id"), col("hash"), col("gram"))
    val out = streamFp.join(kept, Seq("hash", "gram"))
      .select(col("new_id"), col("matched_id"), col("gram"))
    new Probe(out, Seq(kept))
  }
}
