package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, HashExpressions}

/** Custom Catalyst expressions: cosine_sim, simhash32, rolling_hash —
  * interpreted vs codegen agreement, null semantics, reference values.
  */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  test("cosine_sim: known values") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), Some(1.0)),          // identical
      (Array(1f, 0f), Array(0f, 1f), Some(0.0)),          // orthogonal
      (Array(1f, 0f), Array(-1f, 0f), Some(-1.0)),        // opposite
      (Array(1f, 2f), Array(2f, 4f), Some(1.0)))          // colinear
      .toDF("a", "b", "expect")
    val got = df.select(GraftFunctions.cosineSim(col("a"), col("b")).as("c"), col("expect"))
      .as[(Option[Double], Option[Double])].collect()
    got.foreach { case (c, e) =>
      assert(c.isDefined && math.abs(c.get - e.get) < 1e-12, s"got $c want $e")
    }
  }

  test("cosine_sim: null on length mismatch, zero norm, null input") {
    val df = Seq(
      (Some(Array(1f, 0f)), Some(Array(1f, 0f, 0f))), // length mismatch
      (Some(Array(0f, 0f)), Some(Array(1f, 0f))),     // zero norm
      (None, Some(Array(1f, 0f))))                    // null input
      .toDF("a", "b")
    val got = df.select(GraftFunctions.cosineSim(col("a"), col("b")))
      .as[Option[Double]].collect()
    assert(got.forall(_.isEmpty))
  }

  test("cosine_sim: codegen and interpreted paths agree") {
    val vecs = (0 until 50).map { i =>
      (Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6).toFloat),
        Array.tabulate(16)(j => ((i * 17 + j * 11) % 9 - 4).toFloat))
    }
    val df = vecs.toDF("a", "b")
    val expr = GraftFunctions.cosineSim(col("a"), col("b"))
    val viaCodegen = df.select(expr).as[Option[Double]].collect()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(expr).as[Option[Double]].collect()
      assert(viaCodegen.toSeq == interpreted.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("max_sim: hand values, degenerates to cosine at subDim = length") {
    // 2 sub-vectors of dim 2 per side: q = [(1,0),(0,1)], d = [(1,0),(1,1)]
    // token 1 best: max(cos with (1,0))=1, (cos with (1,1))=1/√2 → 1
    // token 2 best: max(0, 1/√2) = 1/√2 → total 1 + 1/√2
    val df = Seq((Array(1f, 0f, 0f, 1f), Array(1f, 0f, 1f, 1f))).toDF("q", "d")
    val got = df.select(GraftFunctions.maxSim(col("q"), col("d"), 2))
      .as[Option[Double]].collect().head
    assert(got.isDefined && math.abs(got.get - (1.0 + 1.0 / math.sqrt(2))) < 1e-12)
    // subDim = full length reduces MaxSim to plain cosine
    val one = Seq((Array(1f, 2f, 3f, 4f), Array(4f, 3f, 2f, 1f))).toDF("q", "d")
    val ms = one.select(GraftFunctions.maxSim(col("q"), col("d"), 4))
      .as[Option[Double]].collect().head
    val cs = one.select(GraftFunctions.cosineSim(col("q"), col("d")))
      .as[Option[Double]].collect().head
    assert(ms == cs)
  }

  test("max_sim: zero-norm token contributes 0; non-multiple lengths are null") {
    val zero = Seq((Array(0f, 0f, 1f, 0f), Array(1f, 0f, 0f, 1f))).toDF("q", "d")
    // token 1 is the zero vector → best = 0; token 2 best = max(1, 0) = 1
    val g = zero.select(GraftFunctions.maxSim(col("q"), col("d"), 2))
      .as[Option[Double]].collect().head
    assert(g.contains(1.0))
    val bad = Seq(
      (Some(Array(1f, 0f, 1f)), Some(Array(1f, 0f))), // 3 % 2 != 0
      (Some(Array.empty[Float]), Some(Array(1f, 0f))), // empty
      (None, Some(Array(1f, 0f)))).toDF("q", "d")
    val got = bad.select(GraftFunctions.maxSim(col("q"), col("d"), 2))
      .as[Option[Double]].collect()
    assert(got.forall(_.isEmpty))
  }

  test("max_sim: asymmetric token counts; codegen and interpreted agree") {
    val vecs = (0 until 40).map { i =>
      (Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat),
        Array.tabulate(16)(j => ((i * 17 + j * 11) % 9 - 4).toFloat))
    }
    val df = vecs.toDF("q", "d")
    val expr = GraftFunctions.maxSim(col("q"), col("d"), 4)
    val viaCodegen = df.select(expr).as[Option[Double]].collect()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(expr).as[Option[Double]].collect()
      assert(viaCodegen.toSeq == interpreted.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // 2 query tokens vs 4 doc tokens: every query token takes the max over
    // all 4 — cross-check one row against a scalar reference
    val (qa, da) = vecs.head
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { k =>
        dot += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k)
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else dot / den
    }
    val want = (0 until 2).map { i =>
      (0 until 4).map { j =>
        cos(qa.slice(i * 4, i * 4 + 4).toSeq, da.slice(j * 4, j * 4 + 4).toSeq)
      }.max
    }.sum
    assert(math.abs(viaCodegen.head.get - want) < 1e-12)
  }

  test("adc_score: equals the HOF fold it replaced; null contracts; codegen parity") {
    // deterministic m=4, ksub=8 shapes
    val rows = (0 until 40).map { i =>
      (Seq.tabulate(4)(mi => ((i * 13 + mi * 5) % 8).toByte),
        Seq.tabulate(32)(j => ((i * 7 + j * 3) % 17 - 8) * 0.25))
    }
    val df = rows.toDF("codes", "lut")
    val native = df.select(
      GraftFunctions.adcScore(col("codes"), col("lut"))).as[Option[Double]].collect()
    // the formulation ivfPqQueryIndex used before the native expression
    val viaHof = df.select(
      aggregate(sequence(lit(0), lit(3)), lit(0.0d), (a, mi) =>
        a + element_at(col("lut"),
          (mi * 8 + element_at(col("codes"), mi + 1).cast("int") + 1).cast("int"))))
      .as[Option[Double]].collect()
    assert(native.toSeq == viaHof.toSeq, "bit-identical to the interpreted fold")
    // hand check on one row: codes [0,1,2,3], lut[j] = j*1.0 →
    // lut[0] + lut[8+1] + lut[16+2] + lut[24+3] = 0 + 9 + 18 + 27
    val hand = Seq((Seq[Byte](0, 1, 2, 3), Seq.tabulate(32)(_.toDouble)))
      .toDF("codes", "lut")
      .select(GraftFunctions.adcScore(col("codes"), col("lut")))
      .as[Double].head()
    assert(hand === 54.0)

    // null contracts: null input, empty codes, non-multiple lut,
    // out-of-range code
    val nulls = Seq(
      (null.asInstanceOf[Seq[Byte]], Seq.tabulate(32)(_.toDouble)),
      (Seq[Byte](0, 1), null.asInstanceOf[Seq[Double]]),
      (Seq.empty[Byte], Seq.tabulate(32)(_.toDouble)),
      (Seq[Byte](0, 1, 2), Seq.tabulate(32)(_.toDouble)), // 32 % 3 != 0
      (Seq[Byte](0, 9), Seq.tabulate(16)(_.toDouble)))    // 9 >= ksub=8
      .toDF("codes", "lut")
      .select(GraftFunctions.adcScore(col("codes"), col("lut")))
      .as[Option[Double]].collect()
    assert(nulls.forall(_.isEmpty), s"all hostile shapes must be null: ${nulls.toSeq}")

    // ELEMENT-level nulls poison the score (parity with the fold, which
    // propagated a null element to a NULL total — reading the zeroed
    // slot would fabricate lut[0]+... as a plausible wrong score)
    val elemNulls = spark.sql(
      """SELECT
        |  adc_score(array(cast(0 AS tinyint), cast(NULL AS tinyint)),
        |            array_repeat(1.5d, 16)) AS null_code,
        |  adc_score(array(cast(0 AS tinyint), cast(1 AS tinyint)),
        |            array_insert(array_repeat(1.5d, 15), 1, cast(NULL AS double))) AS null_cell
        |""".stripMargin).collect().head
    assert(elemNulls.isNullAt(0), "null code element must null the score")
    assert(elemNulls.isNullAt(1), "null LUT cell must null the score")

    // codegen and interpreted paths agree
    val expr = GraftFunctions.adcScore(col("codes"), col("lut"))
    val viaCodegen = df.select(expr).as[Option[Double]].collect()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(expr).as[Option[Double]].collect()
      assert(viaCodegen.toSeq == interpreted.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("jaro_winkler: canonical reference values and conventions") {
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("CRATE", "TRACE", 0.7333333333333334),   // jaro <= 0.7? no: >0.7 but prefix 0
      ("TRATE", "TRACE", 0.9066666666666667),
      ("prefix", "pref", 0.9333333333333333),
      ("abcdefgh", "abqqqqqq", 0.5),            // jaro <= 0.7: NO boost
      ("abc", "abc", 1.0),
      ("a", "b", 0.0),
      ("", "abc", 0.0), ("", "", 0.0))          // DuckDB's empty convention
    cases.foreach { case (a, b, want) =>
      val got = graft.functions.JaroWinkler.similarity(a, b)
      assert(got == want, s"jw($a, $b) = $got, want $want")
      // symmetry
      assert(graft.functions.JaroWinkler.similarity(b, a) == got)
    }
  }

  test("jaro_winkler: SQL entry, nulls, codegen and interpreted paths agree") {
    val df = Seq(
      (Some("MARTHA"), Some("MARHTA")),
      (Some("same"), Some("samexxxxxxxxxxxx")),
      (None, Some("x")), (Some("x"), None),
      (Some(""), Some(""))).toDF("a", "b")
    val expr = org.apache.spark.sql.functions.expr("jaro_winkler(a, b)")
    val viaCodegen = df.select(expr).as[Option[Double]].collect()
    assert(viaCodegen(0).contains(0.9611111111111111))
    assert(viaCodegen(2).isEmpty && viaCodegen(3).isEmpty)
    assert(viaCodegen(4).contains(0.0))
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(expr).as[Option[Double]].collect()
      assert(viaCodegen.toSeq == interpreted.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("simhash32 is order-independent over token multisets") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "a")),
      (2L, Seq("a", "a", "b", "c")),  // same multiset, different order
      (3L, Seq("a", "b", "c")))       // different multiset
      .toDF("id", "toks")
    val got = df.select(col("id"), GraftFunctions.simhash32(col("toks")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
    assert((got(1L) & 0xffffffffL) == got(1L), "fits in 32 bits")
  }

  test("simhash60: low 32 bits equal simhash32 (same per-bit votes); fits 60 bits") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "a")),
      (2L, Seq("the", "quick", "brown", "fox", "jumps")),
      (3L, Seq.empty[String]))
      .toDF("id", "toks")
    val got = df.select(col("id"),
        GraftFunctions.simhash32(col("toks")).as("h32"),
        GraftFunctions.simhash60(col("toks")).as("h60"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (id, h32, h60) =>
      assert((h60 & 0xffffffffL) == h32, s"id $id: low-32 mismatch")
      assert((h60 >>> 60) == 0L, s"id $id: exceeds 60 bits")
    }
  }

  test("char_entropy: known values, null, and non-ASCII spill path") {
    val df = Seq(
      Some("aaaa"),            // single symbol → 0
      Some("ab"),              // uniform 2 → ln 2
      Some("abcd"),            // uniform 4 → ln 4
      Some("aab"),             // 2/3, 1/3
      Some(""),                // empty → 0.0 by contract
      Some("ééaa"),  // é spills past the ASCII fast path → ln 2
      None)
      .toDF("s")
    val got = df.select(GraftFunctions.charEntropy(col("s")))
      .as[Option[Double]].collect()
    val h3 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(got(0).get == 0.0)
    assert(math.abs(got(1).get - math.log(2)) < 1e-15)
    assert(math.abs(got(2).get - math.log(4)) < 1e-15)
    assert(math.abs(got(3).get - h3) < 1e-15)
    assert(got(4).get == 0.0)
    assert(math.abs(got(5).get - math.log(2)) < 1e-15)
    assert(got(6).isEmpty)
  }

  test("char_entropy: codegen and interpreted paths agree") {
    val df = (0 until 40)
      .map(i => ("xyzab".take(i % 5 + 1) * (i + 1)) + i.toString)
      .toDF("s")
    val expr = GraftFunctions.charEntropy(col("s"))
    val viaCodegen = df.select(expr).as[Double].collect()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(expr).as[Double].collect()
      assert(viaCodegen.toSeq == interpreted.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("text_canonicalize: collapse, NFC composition, case, idempotence, nulls") {
    import graft.functions.TextFunctions
    import org.apache.spark.unsafe.types.UTF8String
    def c(s: String): String =
      Option(TextFunctions.canonicalize(UTF8String.fromString(s))).map(_.toString).orNull
    assert(c("  Hello\t\tWorld \n") == "hello world")
    assert(c("") == "" && c(" \t\n ") == "")
    // NFC: decomposed e + COMBINING ACUTE composes to é
    assert(c("café") == "café")
    // idempotent: canonicalize(canonicalize(x)) == canonicalize(x)
    for (s <- Seq("A  b\u000bc", "x\r\ny", "café  CAFÉ"))
      assert(c(c(s)) == c(s), s"not idempotent on ${s}")
    assert(TextFunctions.canonicalize(null) == null)
    // SQL registration + codegen path
    val out = spark.sql("SELECT text_canonicalize('  A\tB  ') AS t")
      .collect().head.getString(0)
    assert(out == "a b")
  }

  test("rolling_hash matches the scala reference implementation") {
    val texts = Seq("", "a", "abc", "the quick brown fox", "x" * 1000)
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
    val got = df.select(col("id"), GraftFunctions.rollingHash(col("t")).as("h"))
      .as[(Int, Long)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == HashExpressions.rollingHash(t), s"text #$i")
    }
    assert(HashExpressions.rollingHash("abc") == 96354L) // ((97*31)+98)*31+99 mod p
  }

  test("sorted_intersect_count is a linear merge equal to array_intersect size") {
    val cases = Seq(
      (Seq(1L, 3L, 5L), Seq(2L, 3L, 5L, 9L), 2L),
      (Seq.empty[Long], Seq(1L, 2L), 0L),
      (Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L), 3L),
      (Seq(1L, 2L), Seq(3L, 4L), 0L))
    val df = cases.zipWithIndex.map { case ((a, b, _), i) => (i, a, b) }
      .toDF("id", "a", "b")
    val got = df.select(col("id"),
        GraftFunctions.sortedIntersectCount(col("a"), col("b")).as("n"))
      .as[(Int, Long)].collect().toMap
    cases.zipWithIndex.foreach { case ((_, _, want), i) =>
      assert(got(i) == want, s"case $i")
    }
    // agreement with the built-in on random sorted distinct arrays
    val r = new scala.util.Random(7)
    val rnd = (1 to 50).map { i =>
      val a = r.shuffle((0L to 400L).toList).take(r.nextInt(100)).distinct.sorted
      val b = r.shuffle((0L to 400L).toList).take(r.nextInt(100)).distinct.sorted
      (i, a, b)
    }
    val rdf = rnd.toDF("id", "a", "b")
    val both = rdf.select(col("id"),
        GraftFunctions.sortedIntersectCount(col("a"), col("b")).as("n"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("m"))
      .as[(Int, Long, Long)].collect()
    both.foreach { case (i, n, m) => assert(n == m, s"random case $i") }
  }

  test("md5Prefix60 equals DuckDB's ('0x' || substr(md5(x),1,15))::BIGINT") {
    val md = java.security.MessageDigest.getInstance("MD5")
    // DuckDB: SELECT ('0x'||substr(md5('hello'),1,15))::BIGINT → 419982666956583591
    assert(HashExpressions.md5Prefix60(md, "hello") == 419982666956583591L)
  }

  test("int8_quant: known values, half-breaking floors, degenerate inputs") {
    val df = Seq(
      (1L, Some(Array(1f, -2f, 4f))),    // scale 31.75; q = 32,-63,127 → 96
      (2L, Some(Array(0.5f, -0.5f))),    // scale 254; q = 127,-127 → 0
      (3L, Some(Array(2f))),             // scale 63.5; q = 127
      (4L, Some(Array(0f, 0f))),         // all-zero: null by contract
      (5L, Some(Array.empty[Float])),    // empty: null
      (6L, None),                        // null input: null
      (7L, Some(Array(Float.NaN, 1f)))) // non-finite max: null
      .toDF("id", "v")
    val got = df.select(col("id"),
        GraftFunctions.int8Quant(col("v")).as("q"))
      .selectExpr("id", "q.scale", "q.checksum")
      .as[(Long, Option[Double], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // id 1: floor(1*31.75+0.5)=32, floor(-63.5+0.5)=-63 (the half that
    // breaks UP under floor(+0.5), where round-away would give -64),
    // floor(127.5)=127
    assert(got(1L) == ((Some(127.0 / 4.0), Some(32L - 63L + 127L))))
    assert(got(2L) == ((Some(254.0), Some(0L))))
    assert(got(3L) == ((Some(63.5), Some(127L))))
    Seq(4L, 5L, 6L, 7L).foreach(id => assert(got(id) == ((None, None)), s"id $id"))
  }

  test("simhash32/60: codegen and interpreted paths agree") {
    val df = (0 until 30)
      .map(i => (0 to i % 7).map(j => s"tok${i * 7 + j}").toArray)
      .toDF("toks")
    val exprs = Seq(GraftFunctions.simhash32(col("toks")),
      GraftFunctions.simhash60(col("toks")))
    val viaCodegen = df.select(exprs: _*).collect().map(_.toString)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(exprs: _*).collect().map(_.toString)
      assert(viaCodegen.toSeq == interpreted.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("int8_quant: a null element poisons the vector to null") {
    // without the isNullAt guard a null slot reads as 0.0f and produces
    // silently-wrong stats — the oracle (DuckDB) propagates NULL instead
    val df = Seq(
      (1L, Seq(Some(1f), None, Some(2f))),
      (2L, Seq(Some(1f), Some(2f))))
      .toDF("id", "v")
    val got = df.select(col("id"), GraftFunctions.int8Quant(col("v")).as("q"))
      .selectExpr("id", "q.scale", "q.checksum")
      .as[(Long, Option[Double], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((None, None)))
    assert(got(2L) == ((Some(63.5), Some(64L + 127L))))
  }

  test("int8_quant: codegen and interpreted paths agree") {
    val df = (0 until 50)
      .map(i => (i.toLong, Array.tabulate(8)(j => ((i * 17 + j * 3) % 23 - 11) / 7f)))
      .toDF("id", "v")
    val expr = GraftFunctions.int8Quant(col("v"))
    val viaCodegen = df.select(expr).collect().map(_.toString)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(expr).collect().map(_.toString)
      assert(viaCodegen.toSeq == interpreted.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("point_in_convex_poly: a NULL vertex or coordinate gives NULL, interpreted and codegen") {
    def v(x: Long, y: Long): Option[(Option[Long], Option[Long])] = Some((Some(x), Some(y)))
    val sq = Seq(v(0, 0), v(10, 0), v(10, 10), v(0, 10))
    val df = Seq(
      (1L, sq, 5L, 5L),                               // inside
      (2L, sq, 20L, 5L),                              // outside
      (3L, sq.updated(2, None), 5L, 5L),              // NULL vertex mid-ring
      (4L, sq.updated(0, None), 5L, 5L),              // NULL first vertex
      (5L, sq.updated(3, None), 5L, 5L),              // NULL last vertex
      (6L, sq.updated(1, Some((Some(10L), None))), 5L, 5L)) // NULL coordinate
      .toDF("id", "verts", "x", "y")
      // not a LocalRelation, so the optimizer cannot fold the call
      .repartition(1)
    val expr = GraftFunctions.pointInConvexPoly(col("verts"), col("x"), col("y"))
    def run() = df.select(col("id"), expr).as[(Long, Option[Boolean])]
      .collect().toMap
    val want = Map(1L -> Some(true), 2L -> Some(false), 3L -> None,
      4L -> None, 5L -> None, 6L -> None)
    assert(run() == want)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() == want)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("every GraftFunctions helper resolves on a fresh session with nothing registered") {
    val fresh = spark.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")),
      "the premise: a new session carries none of the suite's temp functions")
    val a = Seq(1f, 0f, 0f, 1f)
    val df = fresh.createDataFrame(Seq((a, Seq("a", "b"), "abc",
        Seq(1.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0), Seq(1L, 2L, 3L), 3L, 5L,
        Seq((0L, 0L), (10L, 0L), (10L, 10L), (0L, 10L)), Seq[Byte](0, 1),
        Seq(0.5, 1.5, 2.5, 3.5), Seq.tabulate(8)(_.toDouble),
        "HTTP://WWW.A.COM/z/", "  A\tB  ", 2.5)))
      .toDF("v", "toks", "s", "planes", "longs", "x", "y", "verts", "codes", "lut",
        "cb", "url", "text", "d")
      .repartition(1) // not a LocalRelation, so nothing folds away
    val G = GraftFunctions
    val r = df.select(
      G.cosineSim(col("v"), col("v")), G.maxSim(col("v"), col("v"), 2),
      G.simhash32(col("toks")), G.simhash60(col("toks")),
      G.rollingHash(col("s")), G.charEntropy(col("s")),
      G.srpBits(col("v"), col("planes")), G.sortedIntersectCount(col("longs"), col("longs")),
      G.int8Quant(col("v")), G.hilbert16(col("x"), col("y")),
      G.pointInConvexPoly(col("verts"), col("x"), col("y")),
      G.adcScore(col("codes"), col("lut")), G.pqEncode(col("v"), col("cb"), 2),
      G.pqLut(col("v"), col("cb"), 2), G.urlCanonicalize(col("url")),
      G.textCanonicalize(col("text")), G.cdcBounds(col("text"), 2, 2, 0),
      G.jaroWinkler(col("s"), col("s")),
      G.sortableBitsDouble(G.doubleSortableBits(col("d")))).collect().head
    assert(r.length == 19 && (0 until r.length).forall(i => !r.isNullAt(i)),
      s"a helper evaluated to NULL: $r")
    def near(i: Int, want: Double) = math.abs(r.getDouble(i) - want) < 1e-12
    assert(near(0, 1.0) && near(1, 2.0))
    assert(r.getLong(4) == 96354L && r.getLong(6) == 1L && r.getLong(7) == 3L)
    assert(r.getLong(9) == graft.operators.Layout.hilbert16Scala(3L, 5L))
    assert(r.getBoolean(10) && r.getDouble(11) == 4.0)
    assert(r.getString(14) == "http://a.com/z" && r.getString(15) == "a b")
    assert(near(17, 1.0) && r.getDouble(18) == 2.5)

    val corpus = fresh.createDataFrame(Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)),
        (3L, Seq(0f, 1f)))).toDF("vec_id", "embedding")
    val top = graft.operators.SimilaritySearch.bruteForceTopK(
        corpus, corpus.filter(col("vec_id") === 1L), "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top.toSeq == Seq((1L, 2L)))
  }
}
