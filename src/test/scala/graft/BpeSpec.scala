package graft

import graft.operators.Bpe
import graft.operators.Bpe.Merge

/** BPE training: the iterative merge trajectory the single-layer q187
  * oracle can't express, pinned hand-derived on the classic fixture.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("train learns the hand-derived merge trajectory on the classic corpus") {
    // Sennrich-style fixture: frequencies low:5 lower:2 newest:6 widest:3
    val docs = Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
      .toDF("text")
    val merges = Bpe.train(docs, "text", numMerges = 4)
    // pair counts, round 1: (e,s)=9 (newest+widest), (s,t)=9, (t,</w>)=9,
    // (l,o)=7, (o,w)=7 ... tie on 9 → lexicographic: (e,s) wins.
    // round 2: es+t → (es,t)=9 beats (t,</w>)=9 lexicographically? No:
    // ("es","t") < ("t","</w>") since "es" < "t". round 3: (est,</w>)=9.
    // round 4: (l,o)=7 vs (o,w)=7 → (l,o).
    assert(merges.map(m => (m.left, m.right, m.cnt)) === Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L), ("l", "o", 7L)))
  }

  test("merge algebra: greedy left-to-right, non-overlapping; tokenize applies in order") {
    assert(Bpe.mergeOnce(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    assert(Bpe.mergeOnce(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.mergeOnce(Seq("x", "a", "b", "y"), "a", "b") === Seq("x", "ab", "y"))

    // applying learned merges to an UNSEEN word: "lowest" under the
    // trajectory above → l+o merged, est+</w> merged
    val merges = Seq(Merge("e", "s", 0), Merge("es", "t", 0),
      Merge("est", "</w>", 0), Merge("l", "o", 0))
    val toks = Bpe.tokenize(Seq((1L, "lowest")).toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .select("tokens").as[Seq[String]].head()
    assert(toks === Seq("lo", "w", "est</w>"))
  }

  test("mergeOnceArr matches the reference pass and returns the input untouched on no-match") {
    // reference: the straightforward builder loop the array form replaced
    def ref(syms: Seq[String], a: String, b: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val alphabet = Seq("a", "b", "ab", "c", "</w>")
    // exhaustive over all symbol sequences up to length 5 and all pairs —
    // covers overlap chains, boundary merges, repeats
    for (n <- 0 to 5;
         seq <- Seq.fill(n)(alphabet).foldLeft(Seq(Seq.empty[String])) {
           (acc, alts) => acc.flatMap(p => alts.map(p :+ _)) };
         a <- alphabet; b <- alphabet) {
      assert(Bpe.mergeOnceArr(seq.toArray, a, b).toSeq === ref(seq, a, b),
        s"seq=$seq a=$a b=$b")
    }
    // no-match fast path: identical array instance back (zero allocation)
    val arr = Array("x", "y", "z")
    assert(Bpe.mergeOnceArr(arr, "a", "b") eq arr)
  }

  test("memoized returns the function's values and stops inserting at the cap") {
    var calls = 0
    // "aa" -> 2 costs 44 + 16 bytes, so 100 holds "aa" and, overshooting
    // by one entry, "bbb"; nothing after
    assert(Bpe.approxBytes("aa") + Bpe.approxBytes(2) === 60L)
    val f = Bpe.memoized[Int](maxBytes = 100L) { w => calls += 1; w.length }
    assert(f("aa") === 2 && f("bbb") === 3 && f("aa") === 2 && calls === 2)
    // cap reached: new keys still computed (every call), never cached
    assert(f("cccc") === 4 && f("cccc") === 4 && calls === 4)
    // cached keys keep hitting
    assert(f("bbb") === 3 && calls === 4)
  }

  test("memoized: a tiny byte budget keeps tokenization identical and stops the memo growing") {
    val docs = Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
      .toDF("text")
    val merges = Bpe.train(docs, "text", numMerges = 4)
    val words = Seq("lower", "newest", "lower", "newest", "low", "widest", "low")
    def run(maxBytes: Long): (Seq[Seq[String]], Int) = {
      var calls = 0
      val tok = Bpe.memoized(maxBytes) { w => calls += 1; Bpe.applyMerges(w, merges) }
      (words.map(tok), calls)
    }
    val direct = words.map(Bpe.applyMerges(_, merges))
    val (roomy, roomyCalls) = run(32L << 20)
    val (tiny, tinyCalls) = run(1L)
    assert(roomy === direct && tiny === direct)
    assert(roomyCalls === 4) // one call per distinct word
    // only the first word ("lower") fits; every other lookup recomputes
    assert(tinyCalls === 6)
  }

  test("training is deterministic and stops below minCount") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab xy zq")).toDF("id", "text")
    val m1 = Bpe.train(docs, "text", numMerges = 10, minCount = 2)
    val m2 = Bpe.train(docs, "text", numMerges = 10, minCount = 2)
    assert(m1 === m2, "same corpus, same merges — replay-stable")
    // "ab" appears 3x: (a,b)=3 then (ab,</w>)=3; everything else is 1
    assert(m1.map(m => (m.left, m.right, m.cnt)) === Seq(
      ("a", "b", 3L), ("ab", "</w>", 3L)))
  }

  test("vocabulary compression: each merge shrinks total weighted symbol count by its pair count") {
    val docs = Seq((Seq.fill(4)("banana") ++ Seq.fill(3)("bandana")).mkString(" "))
      .toDF("text")
    def totalSyms(merges: Seq[Merge]): Long =
      Bpe.tokenize(docs.selectExpr("cast(1 as long) as doc_id", "text"),
          "doc_id", "text", merges)
        .selectExpr("cast(size(tokens) as long) as n").as[Long].head()
    val merges = Bpe.train(docs, "text", numMerges = 3)
    var prev = totalSyms(Nil)
    merges.indices.foreach { k =>
      val cur = totalSyms(merges.take(k + 1))
      assert(cur < prev, s"merge ${merges(k)} must shrink the stream")
      prev = cur
    }
  }

  test("token ids: injective map, exact round trip, loud unknown-id failure") {
    val merges = Seq(Merge("e", "s", 0), Merge("es", "t", 0),
      Merge("est", "</w>", 0), Merge("l", "o", 0))
    val ids = Bpe.tokenIdMap(merges)
    assert(ids(Bpe.EndOfWord) === Bpe.EndOfWordId)
    assert(ids("es") === Bpe.EndOfWordId + 1) // merge index 0's result
    assert(ids.values.toSeq.distinct.size === ids.size)

    // "lowest" → [lo, w, est</w>] → [0x110004, 'w', 0x110003]
    val docs = Seq((7L, "lowest  low\nwider"), (8L, "")).toDF("doc_id", "text")
    val got = Bpe.tokenizeIds(docs, "doc_id", "text", merges)
    val row7 = got.filter($"doc_id" === 7L).select("ids").as[Seq[Int]].head()
    assert(row7.take(3) === Seq(Bpe.EndOfWordId + 4, 'w'.toInt, Bpe.EndOfWordId + 3))

    // round trip: whitespace-normalized text, exactly
    val back = Bpe.detokenize(got, merges)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(back(7L) === "lowest low wider")
    assert(back(8L) === "")

    // HOSTILE round trips: text containing the LITERAL characters </w>
    // (the id space + marker-carry map must keep them as source chars,
    // never conflate them with the real end-of-word marker), and a
    // supplementary char (must be ONE code-point token, not two
    // lone-surrogate UTF-16 units)
    val hostile = Seq((21L, "see </w> tag"), (22L, "a😀b x"))
      .toDF("doc_id", "text")
    val hIds = Bpe.tokenizeIds(hostile, "doc_id", "text", merges)
    val hBack = Bpe.detokenize(hIds, merges)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(hBack(21L) === "see </w> tag", s"literal </w> corrupted: '${hBack(21L)}'")
    assert(hBack(22L) === "a😀b x")
    val emojiIds = hIds.filter($"doc_id" === 22L).select("ids").as[Seq[Int]].head()
    assert(emojiIds.contains(0x1F600), s"emoji must be one code-point id: $emojiIds")
    assert(!emojiIds.exists(id => id >= 0xD800 && id <= 0xDFFF),
      s"no lone surrogates in the id stream: $emojiIds")

    // marker-carry: a merge result fusing SOURCE chars toward '</w>'
    // does not carry the marker; marker-fused results do — and the
    // round trip keeps literal near-marker text intact
    val spoofMerges = Seq(Merge("<", "/", 0), Merge("</", "w", 0),
      Merge("e", "</w>", 0))
    val carry = Bpe.markerCarry(spoofMerges)
    assert(carry("</w") === false, "source-fused prefix must NOT carry")
    assert(carry("e</w>") === true, "marker-fused e</w> must carry")
    val spoofBack = Bpe.detokenize(
      Bpe.tokenizeIds(Seq((31L, "see </w> he")).toDF("doc_id", "text"),
        "doc_id", "text", spoofMerges), spoofMerges)
      .select("text").as[String].head()
    assert(spoofBack === "see </w> he", s"spoof round trip broke: '$spoofBack'")

    // a table whose result spells EXACTLY the marker string is refused —
    // it would shadow the marker's id and make the two indistinguishable
    intercept[IllegalArgumentException] {
      Bpe.tokenIdMap(Seq(Merge("<", "/", 0), Merge("</", "w", 0),
        Merge("</w", ">", 0)))
    }

    // a corrupt id stream fails loudly, never silently skips
    val bad = Seq((1L, Seq(Bpe.EndOfWordId + 99))).toDF("doc_id", "ids")
    val e = intercept[org.apache.spark.SparkException] {
      Bpe.detokenize(bad, merges).collect()
    }
    assert(e.getMessage != null)

    // a merge table with a duplicated result symbol is refused
    intercept[IllegalArgumentException] {
      Bpe.tokenIdMap(Seq(Merge("a", "b", 0), Merge("a", "b", 0)))
    }
  }
}
