package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE (byte-pair-encoding) vocabulary training — the
  * subword tokenizer-learning step of an LLM data pipeline (Sennrich et
  * al., ACL 2016; SURVEY.md §2.11 — the reference has no text path at
  * all). [[graft.functions.TextAnalysis.tokenEstimate]] approximates a
  * tokenizer; this LEARNS one from the corpus.
  *
  * Scale shape — the part that matters at 100 TB:
  *   - the corpus collapses to its DISTINCT-WORD vocabulary first
  *     (groupBy word: one shuffle of (word, count), Zipf makes this
  *     orders of magnitude smaller than the corpus; every later step
  *     touches only the vocabulary);
  *   - each merge iteration is: per-word adjacent-pair explode (narrow)
  *     → map-side-combined pair-count aggregate → an argmax collect of
  *     ONE row to the driver → a narrow per-word merge apply. The
  *     driver holds only the merge table (numMerges rows), never data;
  *   - the iterated vocabulary is re-persisted per round with the
  *     previous round unpersisted ([[PageRank]]'s idiom) so the lineage
  *     stays O(1) deep.
  *
  * Determinism: ties on pair count break by (left, right) lexicographic
  * — training is replay-stable across partitionings and engines.
  * Words are whitespace tokens as-is (no case folding — fold upstream
  * with [[graft.functions.TextCanonicalize]] if wanted) with the
  * standard `</w>` end-of-word symbol, so merges distinguish word-final
  * from word-internal contexts.
  */
object Bpe {

  val EndOfWord = "</w>"

  private val vocabSchema = StructType(Seq(
    StructField("syms", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("cnt", LongType, nullable = false)))

  /** The distinct-word vocabulary of a corpus as symbol sequences:
    * (syms = [chars..., </w>], cnt = corpus frequency of the word).
    */
  /** A word as base symbols: one symbol per Unicode CODE POINT (not
    * UTF-16 unit — a supplementary char must be one symbol, or ids
    * would carry lone surrogates and the SQL oracles, which split per
    * code point, would disagree), plus the trailing [[EndOfWord]].
    */
  private[graft] def baseSymbols(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp))) :+ EndOfWord

  def wordVocab(docs: DataFrame, textCol: String): DataFrame = {
    val words = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("cnt"))
    val enc = RowEncoder.encoderFor(vocabSchema)
    words.mapPartitions { it =>
      it.map { r =>
        Row(baseSymbols(r.getString(0)), r.getLong(1))
      }
    }(enc)
  }

  /** Adjacent-pair counts over a symbol vocabulary, weighted by word
    * frequency: (sym_l, sym_r, cnt). Map-side combined; the shuffle
    * carries one row per distinct pair per partition.
    */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val pairSchema = StructType(Seq(
      StructField("sym_l", StringType, nullable = false),
      StructField("sym_r", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(pairSchema)
    vocab.mapPartitions { it =>
      it.flatMap { r =>
        val syms = r.getSeq[String](0)
        val c = r.getLong(1)
        (0 until syms.length - 1).iterator.map(i => Row(syms(i), syms(i + 1), c))
      }
    }(enc)
      .groupBy(col("sym_l"), col("sym_r")).agg(sum(col("cnt")).as("cnt"))
  }

  /** One greedy left-to-right merge pass: every non-overlapping adjacent
    * (a, b) becomes the fused symbol a+b — the standard BPE apply.
    */
  private[graft] def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      mergeOnceArr(syms.toArray, a, b))

  /** Array form of [[mergeOnce]] — the tokenize hot path (r19): the old
    * builder loop indexed a List (O(i) per access) and allocated a new
    * Seq per merge even when the pair never occurred; this scans the
    * array once, returns the INPUT array untouched on the (dominant)
    * no-match case, and only then builds the fused copy. Same
    * left-to-right non-overlapping semantics, element-for-element.
    */
  private[graft] def mergeOnceArr(
      syms: Array[String], a: String, b: String): Array[String] = {
    var i = 0
    val n = syms.length
    while (i + 1 < n && !(syms(i) == a && syms(i + 1) == b)) i += 1
    if (i + 1 >= n) syms // no occurrence: zero allocation
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](n - 1)
      var j = 0
      while (j < i) { out += syms(j); j += 1 }
      while (j < n) {
        if (j + 1 < n && syms(j) == a && syms(j + 1) == b) {
          out += (a + b); j += 2
        } else { out += syms(j); j += 1 }
      }
      out.toArray
    }
  }

  /** Bounded per-task memo for a pure per-word function — tokenization
    * is a function of the word alone and corpora are Zipfian, so the
    * distinct-word set a task sees is far smaller than its row count.
    * The budget is approximate bytes ([[approxBytes]] of key plus
    * value, per entry), not an entry count: long words and long token
    * lists cost in proportion, so adversarial (all-distinct, long-word)
    * inputs stay inside it. Once it is reached (overshot by at most
    * one entry) the memo stops growing and misses just run uncached.
    * One instance per task (created inside mapPartitions), never shared
    * across threads.
    */
  private[graft] def memoized[T](maxBytes: Long = 32L << 20)(f: String => T): String => T = {
    val cache = new java.util.HashMap[String, T]()
    var bytes = 0L
    w => {
      val hit = cache.get(w)
      if (hit != null) hit
      else {
        val v = f(w)
        if (bytes < maxBytes) {
          cache.put(w, v)
          bytes += approxBytes(w) + approxBytes(v)
        }
        v
      }
    }
  }

  /** Rough JVM footprint of a memo key or value: a String's header and
    * UTF-16 array, a collection's header plus its elements, 16 bytes
    * for anything else (a boxed number).
    */
  private[graft] def approxBytes(v: Any): Long = v match {
    case s: String       => 40L + 2L * s.length
    case xs: Iterable[_] => 32L + xs.iterator.map(approxBytes).sum
    case _               => 16L
  }

  /** One learned merge: fuse (left, right); `cnt` is the weighted pair
    * count at the time it was chosen (monotone non-increasing).
    */
  final case class Merge(left: String, right: String, cnt: Long)

  /** Learn `numMerges` BPE merges from the corpus. Stops early when no
    * pair reaches `minCount`. Returns merges in application order.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 2L): Seq[Merge] =
    trainFromVocab(wordVocab(docs, textCol), numMerges, minCount)

  /** The merge-learning loop over ANY (syms, cnt) vocabulary — shared
    * by the `</w>`-marked char vocabulary above and [[ByteBpe]]'s
    * byte-mapped piece vocabulary (same argmax, same lineage
    * discipline; only the base-symbol alphabet differs).
    */
  private[graft] def trainFromVocab(
      vocab0: DataFrame,
      numMerges: Int,
      minCount: Long): Seq[Merge] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val enc = RowEncoder.encoderFor(vocabSchema)
    var vocab = vocab0.persist()
    vocab.count() // materialize before the loop so each round is O(1) lineage
    val merges = Seq.newBuilder[Merge]
    var k = 0
    var done = false
    try {
      while (k < numMerges && !done) {
        val top = pairCounts(vocab)
          .orderBy(col("cnt").desc, col("sym_l"), col("sym_r"))
          .limit(1).collect()
        if (top.isEmpty || top.head.getLong(2) < minCount) done = true
        else {
          val (a, b, c) = (top.head.getString(0), top.head.getString(1),
            top.head.getLong(2))
          merges += Merge(a, b, c)
          val next = vocab.mapPartitions { it =>
            it.map(r => Row(mergeOnce(r.getSeq[String](0), a, b), r.getLong(1)))
          }(enc).persist()
          next.count()
          vocab.unpersist(blocking = false)
          vocab = next
          k += 1
        }
      }
    } finally vocab.unpersist(blocking = false)
    merges.result()
  }

  /** Apply learned merges (in training order) to one word's symbols. */
  private[graft] def applyMerges(word: String, merges: Seq[Merge]): Seq[String] = {
    var arr: Array[String] = baseSymbols(word).toArray
    val it = merges.iterator
    // a single remaining symbol admits no pair — the rest of the table
    // is a guaranteed no-op
    while (it.hasNext && arr.length > 1) {
      val m = it.next()
      arr = mergeOnceArr(arr, m.left, m.right)
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
  }

  /** Tokenize a corpus with a learned merge table:
    * (idCol, tokens ARRAY<STRING>) — each word becomes its merged
    * subword symbols (the `</w>` marker rides the final subword).
    * Narrow per-row work; the merge table broadcasts via the closure.
    */
  def tokenize(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("tokens", ArrayType(StringType, containsNull = false),
        nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    val idIdx = docs.schema.fieldIndex(idCol)
    val txtIdx = docs.schema.fieldIndex(textCol)
    docs.mapPartitions { it =>
      // per-task memo (r19): tokenization is pure per word and corpora
      // are Zipfian — the cache turns repeated words into a hash lookup
      val tok = memoized()((w: String) => applyMerges(w, merges))
      it.map { r =>
        val words = Option(r.getString(txtIdx)).getOrElse("")
          .trim.split("\\s+").filter(_.nonEmpty)
        Row(r.getLong(idIdx), words.toSeq.flatMap(tok))
      }
    }(enc)
  }

  /** The id of the bare end-of-word token: one past the Unicode code
    * space, so single-char token ids (their code point) can never
    * collide with it or with merge ids.
    */
  val EndOfWordId: Int = 0x110000

  /** Deterministic token→id map for a merge table: a single-char token
    * is its code point (0..0x10FFFF), the bare `</w>` token is
    * [[EndOfWordId]], and the k-th merge's RESULT symbol is
    * EndOfWordId + 1 + k — injective by construction (merge results
    * have length ≥ 2 or contain `</w>`, never a bare char), stable
    * across corpora for the same table, and replayable in SQL as a
    * 16-arm CASE plus `unicode(token)`.
    */
  def tokenIdMap(merges: Seq[Merge]): Map[String, Int] = {
    val merged = merges.zipWithIndex
      .map { case (m, k) => (m.left + m.right) -> (EndOfWordId + 1 + k) }
    // a later duplicate result symbol would shadow an earlier id — real
    // BPE tables never repeat a result (the pair is gone once merged),
    // so refuse rather than silently remap
    require(merged.map(_._1).distinct.size == merged.size,
      "merge table repeats a result symbol")
    // a result spelling EXACTLY the marker string would shadow the
    // marker's id and make marker vs source-fused '</w>' symbols
    // indistinguishable downstream (the classic sentinel-collision of
    // string-symbol BPE) — refuse loudly; an id-space fix would need
    // symbol provenance the string pipeline doesn't carry
    require(!merged.exists(_._1 == EndOfWord),
      s"merge result collides with the end-of-word marker '$EndOfWord'")
    (merged :+ (EndOfWord -> EndOfWordId)).toMap
  }

  private def idOf(tok: String, ids: Map[String, Int]): Int =
    ids.getOrElse(tok, {
      require(tok.codePointCount(0, tok.length) == 1,
        s"token '$tok' is neither a merge result nor a single char")
      tok.codePointAt(0)
    })

  /** [[tokenize]] to integer ids: (doc_id, ids ARRAY<INT>) under
    * [[tokenIdMap]]. The id stream is what a training pipeline ships;
    * [[detokenize]] inverts it exactly.
    */
  def tokenizeIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val ids = tokenIdMap(merges)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("ids", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    val idIdx = docs.schema.fieldIndex(idCol)
    val txtIdx = docs.schema.fieldIndex(textCol)
    docs.mapPartitions { it =>
      // per-task memo (r19): word → id seq directly, so repeats skip the
      // id lookup too
      val tok = memoized()((w: String) =>
        applyMerges(w, merges).map(idOf(_, ids)))
      it.map { r =>
        val words = Option(r.getString(txtIdx)).getOrElse("")
          .trim.split("\\s+").filter(_.nonEmpty)
        Row(r.getLong(idIdx), words.toSeq.flatMap(tok))
      }
    }(enc)
  }

  /** Does this merge-table symbol CARRY the end-of-word marker (i.e.
    * its trailing `</w>` characters are the real marker symbol, not
    * source text that happens to spell them)? The marker only ever
    * rides a word's FINAL symbol, so a result carries iff its RIGHT
    * component does — recursively down to the bare [[EndOfWord]]
    * symbol. A result whose string merely ENDS in the four characters
    * `</w>` but was fused from source chars ('<','/','w','>') does NOT
    * carry, and [[detokenize]] emits it literally — the ambiguity a
    * naive string-suffix test (or a global replace) gets wrong.
    */
  private[graft] def markerCarry(merges: Seq[Merge]): Map[String, Boolean] = {
    val carries = scala.collection.mutable.Map[String, Boolean](EndOfWord -> true)
    merges.foreach { m =>
      carries(m.left + m.right) = carries.getOrElse(m.right, false)
    }
    carries.toMap
  }

  /** Invert [[tokenizeIds]]: (doc_id, text) with words rejoined on
    * single spaces — BPE is LOSSLESS up to whitespace normalization, so
    * `detokenize(tokenizeIds(text)) == regexp_replace(trim(text),
    * '\s+', ' ')` exactly (the round-trip oracle's claim), including
    * documents whose TEXT contains the literal characters `</w>` (the
    * token-ID space distinguishes the marker from look-alike source
    * chars, and [[markerCarry]] distinguishes marker-fused merge
    * results from source-fused ones). Unknown ids fail loudly — a
    * silent skip would corrupt training text.
    */
  def detokenize(idsDf: DataFrame, merges: Seq[Merge]): DataFrame = {
    val rev = tokenIdMap(merges).map(_.swap)
    val carries = markerCarry(merges)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    val idIdx = idsDf.schema.fieldIndex("doc_id")
    val arrIdx = idsDf.schema.fieldIndex("ids")
    idsDf.mapPartitions { it =>
      it.map { r =>
        val pieces = r.getSeq[Int](arrIdx).map { id =>
          if (id == EndOfWordId) " "
          else if (id > EndOfWordId) {
            val tok = rev.getOrElse(id, sys.error(s"unknown token id $id"))
            if (carries.getOrElse(tok, false))
              tok.dropRight(EndOfWord.length) + " "
            else tok
          } else {
            require(id >= 0, s"unknown token id $id")
            new String(Character.toChars(id))
          }
        }
        Row(r.getLong(idIdx), pieces.mkString.trim)
      }
    }(enc)
  }
}
