package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextAnalysis}

/** Document chunking for context-window-bounded consumers: split each
  * document into overlapping token windows (size `chunkSize`, stride
  * `chunkSize - overlap`), the standard pre-tokenization step of an LLM
  * training/embedding pipeline. No reference analog (extension surface per
  * SURVEY.md §2.11).
  *
  * Narrow plan: tokenize → explode the window starts → slice. No shuffle
  * at all — chunking parallelizes embarrassingly at any corpus size, and
  * output order inside a document is the deterministic `chunk_idx`.
  * Trailing chunks shorter than `chunkSize` are kept (the tail of a
  * document is still data); a document shorter than one window yields
  * exactly one chunk.
  */
object Chunking {

  /** Content-defined chunking (Rabin-style): boundaries are where a
    * rolling `window`-char hash ≡ 0 mod `modulus` (expected chunk length
    * ≈ modulus + minLen) with a sequential `minLen` floor. Because
    * boundaries depend only on LOCAL content, an insertion early in a
    * document shifts only the chunk it lands in — every later chunk
    * re-aligns and hashes identically, which is exactly what fixed-width
    * segmentation (chunkByTokens, q104's segments) cannot do. The
    * standard primitive for sub-document dedup across edited copies.
    *
    * Per-doc work is one codegen pass ([[graft.functions.CdcBounds]]) +
    * array HOFs — no shuffle; only the caller's per-chunk aggregation
    * exchanges anything, and it carries (hash, len) pairs, not text.
    *
    * Output: (idCol, chunk_idx, start, len, chunk_hash) — start 1-based,
    * chunk_hash = [[GraftFunctions.rollingHash]] of the chunk text. The
    * tail chunk (last boundary → end) may be shorter than `minLen`; docs
    * with no boundary yield one whole-doc chunk; empty docs yield none.
    */
  def contentDefinedChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 16,
      modulus: Int = 32,
      minLen: Int = 12): DataFrame = {
    val n = length(col(textCol)).cast("long")
    val bounds = GraftFunctions.cdcBounds(col(textCol), window, modulus, minLen)
    // append the text end as the tail chunk's boundary unless a hash
    // boundary already landed exactly there; `get` (0-based, null OOB) is
    // ANSI-safe on the empty-bounds case where element_at would throw
    val ends = when(get(bounds, size(bounds) - 1) === n, bounds)
      .otherwise(concat(bounds, array(n)))
    df.select(col(idCol), col(textCol).as("__t"), ends.as("__ends"))
      .select(col(idCol), col("__t"), col("__ends"),
        posexplode(col("__ends")).as(Seq("__k", "__e")))
      .withColumn("__s",
        when(col("__k") === 0, lit(1L))
          .otherwise(element_at(col("__ends"), col("__k")) + 1))
      .where(col("__e") >= col("__s")) // drops the empty chunk of empty docs
      .select(col(idCol), col("__k").as("chunk_idx"), col("__s").as("start"),
        (col("__e") - col("__s") + 1).as("len"),
        GraftFunctions.rollingHash(
          substr(col("__t"), col("__s"), col("__e") - col("__s") + 1))
          .as("chunk_hash"))
  }

  def chunkByTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(1), size(col("__toks")), lit(stride)))
          .as(Seq("__pos", "__start")))
      .select(col(idCol), col("__pos").cast("long").as("chunk_idx"),
        expr(s"slice(__toks, __start, $chunkSize)").as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }
}
