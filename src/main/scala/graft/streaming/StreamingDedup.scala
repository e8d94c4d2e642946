package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{GraftFunctions, TextAnalysis}

/** Streaming near-duplicate FILTERING — the streaming twin of the batch
  * dedup pipelines ([[graft.operators.Dedup]]): admit a document stream,
  * drop every document that is a near-duplicate (SimHash hamming ≤ h) of
  * anything seen before, across micro-batches and restarts.
  *
  * This is the shape a live training-data ingest needs: dedup cannot wait
  * for a batch job when the corpus arrives as a stream, and the state
  * must be per-bucket bounded or a 100 TB stream eventually owns the
  * cluster's memory.
  *
  * Plan shape (all standard Structured Streaming machinery):
  *   1. one narrow projection: SimHash(60-bit, codegen) per document,
  *      exploded into `nBands` band keys (pigeonhole: two signatures
  *      within hamming ≤ nBands-1 agree on ≥ 1 band — same exactness
  *      argument as [[graft.operators.Dedup.simhashPairs]]);
  *   2. ONE stateful stage: `flatMapGroupsWithState` keyed by
  *      (band, bandValue) — each group holds the signatures previously
  *      admitted into that bucket (bounded at `maxPerBucket`, FIFO
  *      eviction) and emits a per-band verdict for each new document;
  *   3. a per-micro-batch reduction (inside `foreachBatch`, NOT a second
  *      stateful stage — every band verdict of a document lands in the
  *      same trigger, so a plain groupBy suffices): a document survives
  *      iff NO band matched. Survivors go to the caller's sink.
  *
  * State is O(buckets × maxPerBucket × 16 bytes) regardless of stream
  * length — the FIFO bound trades recall on buckets hotter than
  * `maxPerBucket` (boilerplate floods), the standard streaming-LSH trade;
  * raise the bound or pre-filter boilerplate upstream when that matters.
  * Checkpointed: restarts resume the seen-set exactly-once.
  */
object StreamingDedup {

  /** One band occurrence of one incoming document. */
  final case class BandDoc(docId: Long, sig: Long, band: Int, bval: Long)

  /** Per-band verdict: `dupOf` = some PREVIOUSLY SEEN doc whose signature
    * is within the hamming bound, or None. The referenced doc is seen,
    * not necessarily surviving (it may itself have been dropped as a
    * dup) — dup_of is duplicate EVIDENCE; resolve chains downstream when
    * a canonical representative pointer is needed.
    */
  final case class BandVerdict(docId: Long, sig: Long, band: Int, dupOf: Option[Long])

  /** Bucket state: admitted (docId, sig) pairs, oldest first. */
  final case class BucketState(ids: List[Long], sigs: List[Long])

  /** Stage 1+2: band the stream and judge each document per band.
    * Input must carry (idCol: Long, textCol: String). Returns the
    * per-band verdict stream; pipe through [[novelDocs]] in foreachBatch
    * for the final per-document reduction.
    */
  def bandVerdicts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nBands: Int = 4,
      maxHamming: Int = 3,
      maxPerBucket: Int = 64): Dataset[BandVerdict] =
    bandVerdictsSig(
      docs.select(col(idCol).cast("long").as("docId"),
        GraftFunctions.simhash60(TextAnalysis.tokens(col(textCol))).as("sig")),
      "docId", "sig", nBands, maxHamming, maxPerBucket, sigBits = 60)

  /** [[bandVerdicts]] over a PRECOMPUTED signature column — the entry
    * point for non-text fingerprints (image dHash, video temporal
    * signatures, audio fingerprints: any 64-bit-or-less perceptual
    * hash): the banding, bucket state, admission rule and pigeonhole
    * argument are signature-agnostic, so one state machine serves every
    * modality. `sigBits` must match the signature width (64 for
    * dHash/video signatures, 60 for text SimHash).
    */
  def bandVerdictsSig(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      nBands: Int = 4,
      maxHamming: Int = 3,
      maxPerBucket: Int = 64,
      sigBits: Int = 64): Dataset[BandVerdict] = {
    require(maxHamming < nBands, "banding is only exact when maxHamming < nBands")
    require(sigBits % nBands == 0, s"nBands=$nBands must divide sigBits=$sigBits")
    val spark = sigs.sparkSession
    import spark.implicits._
    val banded = graft.operators.Dedup.bandSignatures(
        sigs.select(col(idCol).cast("long").as("docId"), col(sigCol).as("sig")),
        "sig", nBands, sigBits = sigBits)
      .as[(Long, Long, Int, Long)]
      .map { case (id, sig, band, bval) => BandDoc(id, sig, band, bval) }

    banded.groupByKey(d => (d.band, d.bval))
      .flatMapGroupsWithState[BucketState, BandVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[BucketState]) =>
          var st = state.getOption.getOrElse(BucketState(Nil, Nil))
          val out = List.newBuilder[BandVerdict]
          // deterministic order within the bucket regardless of shuffle
          // arrival order — replays produce identical verdicts
          rows.toSeq.sortBy(_.docId).foreach { d =>
            val hit = st.ids.iterator.zip(st.sigs.iterator).find {
              case (_, s) => java.lang.Long.bitCount(s ^ d.sig) <= maxHamming
            }
            out += BandVerdict(d.docId, d.sig, d.band, hit.map(_._1))
            // EVERY seen signature is admitted into EVERY band bucket it
            // lands in — including band-local duplicates. Admission must
            // be global, not per-verdict: a doc flagged dup in band 0 but
            // admitted nowhere else would leave bands 1..n-1 blind to its
            // neighborhood, so a LATER doc within the hamming bound of it
            // (but far from its canonical) would pass as novel — breaking
            // the pigeonhole argument for the seen SET. The one skip that
            // loses nothing: an exactly-equal signature (already present
            // in all of its buckets by induction).
            if (!st.sigs.contains(d.sig)) {
              val (ids, sigs) =
                if (st.ids.length >= maxPerBucket)
                  (st.ids.tail :+ d.docId, st.sigs.tail :+ d.sig)
                else (st.ids :+ d.docId, st.sigs :+ d.sig)
              st = BucketState(ids, sigs)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Stage 3 (call inside foreachBatch on the [[bandVerdicts]] output):
    * a document is novel iff no band matched; ties/ordering are already
    * deterministic. Returns (docId, sig, dup_of — null when novel).
    */
  def reduceVerdicts(batch: DataFrame): DataFrame =
    batch.groupBy(col("docId").as("doc_id"))
      .agg(first(col("sig")).as("sig"),
        min(col("dupOf")).as("dup_of"))

  /** Novel documents only (dup_of null). */
  def novelDocs(batch: DataFrame): DataFrame =
    reduceVerdicts(batch).filter(col("dup_of").isNull).select("doc_id", "sig")
}
