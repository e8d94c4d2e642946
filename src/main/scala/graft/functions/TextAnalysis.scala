package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for corpus curation (SURVEY.md §2.11 —
  * no reference analog). All pure built-in expressions (higher-order array
  * functions, not UDFs): codegen-friendly, and every formula is
  * reproducible in ANSI SQL for the DuckDB oracle.
  *
  * 100 TB posture: each function is a narrow per-row projection — they
  * compose into a single codegen stage over the corpus scan with no
  * shuffle at all until a downstream aggregation.
  */
object TextAnalysis {

  /** Whitespace tokens (trim-safe). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Mean token length in characters (null for empty text). */
  def avgTokenLen(text: Column): Column = avgTokenLenOf(tokens(text))

  /** Ratio of tokens that are stopwords (lowercased membership). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordRatioOf(tokens(text), stopwords)

  // Variants over a pre-split token array. When several metrics are
  // computed per document, project `tokens(text)` ONCE and fan the metrics
  // out from the shared array in a follow-up select: the higher-order
  // lambdas here are interpreted (no codegen), so nothing eliminates a
  // repeated `split` common subexpression across metrics — sharing must be
  // structural. Catalyst's CollapseProject keeps the producing projection
  // separate because the array is consumed by multiple non-cheap
  // expressions.

  /** Token count from a pre-split token array. */
  def tokenCountOf(toks: Column): Column = size(toks).cast("long")

  /** Mean token length from a pre-split token array. */
  def avgTokenLenOf(toks: Column): Column =
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double")
        / size(toks).cast("double"))

  /** Stopword ratio from a pre-split token array. */
  def stopwordRatioOf(toks: Column, stopwords: Seq[String]): Column =
    when(size(toks) > 0,
      size(filter(toks, x => lower(x).isin(stopwords: _*))).cast("double")
        / size(toks).cast("double"))

  /** Ratio of non-alphanumeric, non-space characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))).cast("double")
        / length(text).cast("double"))

  /** Per-row Shannon entropy (nats) of the character distribution — low
    * entropy flags repetitive/degenerate text (`aaaa…`, template spam),
    * high entropy flags binary-ish noise; a standard corpus quality
    * signal. Backed by the one-pass codegen [[CharEntropy]] expression
    * (O(length) per row inside WholeStageCodegen — the interpreted HOF
    * formulation this replaces re-scanned the char array per distinct
    * char).
    *
    * NULL text coalesces to 0.0 — the contract the pre-codegen
    * formulation had and the q113 oracle encodes (a missing document
    * scores like an empty one); the raw SQL function `char_entropy`
    * stays null-propagating for SQL users who want the distinction.
    */
  def charEntropy(text: Column): Column =
    coalesce(GraftFunctions.charEntropy(text), lit(0.0))

  /** BPE-ish subword token estimate: word-piece count from a regex split on
    * non-alphanumeric boundaries, bounded below by the standard
    * "~4 chars per token" heuristic.
    */
  def tokenEstimate(text: Column): Column = {
    val pieces = size(split(trim(text), "[^A-Za-z0-9]+")).cast("long")
    greatest(pieces, ceil(length(text).cast("double") / 4.0d).cast("long"))
  }

  /** Composite quality score in [0, 1]: rewards mid-length docs, penalizes
    * punctuation soup and stopword-free keyword stuffing. Fixed formula —
    * deterministic and SQL-mirrorable:
    *   0.4 * min(1, tokens/64) + 0.3 * (1 - punctRatio)
    * + 0.3 * min(1, 4 * stopwordRatio)
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    round(
      lit(0.4d) * least(lit(1.0d), tokenCount(text).cast("double") / 64.0d)
        + lit(0.3d) * (lit(1.0d) - coalesce(punctRatio(text), lit(0.0d)))
        + lit(0.3d) * least(lit(1.0d),
            coalesce(stopwordRatio(text, stopwords), lit(0.0d)) * 4.0d),
      6)

  /** Marker-word language-ID heuristic: score each candidate language by
    * its marker-token hit count; predict the argmax, ties broken by the
    * declared language order, no hits → 'und'. Deterministic and oracle-
    * mirrorable via the same greatest/case cascade.
    *
    * (On the synthetic corpus every document is English-vocabulary, so the
    * predictions exercise the operator, not a model claim.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  def langScores(text: Column): Seq[(String, Column)] = langScoresOf(tokens(text))

  /** Per-language marker hit counts from a pre-split token array. */
  def langScoresOf(toks: Column): Seq[(String, Column)] =
    LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, x => lower(x).isin(markers: _*))).cast("long")
    }

  /** Argmax cascade over already-computed score columns — pass score
    * ATTRIBUTES (a prior projection's outputs), not the filter pipelines
    * themselves: the cascade references each score several times.
    */
  def languageIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = greatest(scores.map(_._2): _*)
    // first language (in declaration order) achieving a positive max score
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, score)) =>
      when(score === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  def languageId(text: Column): Column = languageIdFromScores(langScores(text))
}
