package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val stop = Seq("the", "a", "of")

  private def one[T](c: org.apache.spark.sql.Column, text: String): Option[Any] = {
    val r = Seq(Tuple1(text)).toDF("t").select(c.as("v")).collect().head
    if (r.isNullAt(0)) None else Some(r.get(0))
  }

  test("tokenCount / avgTokenLen") {
    assert(one(TextAnalysis.tokenCount(col("t")), "a bb  ccc ").contains(3L))
    assert(one(TextAnalysis.avgTokenLen(col("t")), "a bb ccc").contains(2.0))
  }

  test("stopwordRatio counts lowercase membership") {
    assert(one(TextAnalysis.stopwordRatio(col("t"), stop), "The cat of a hat").contains(0.6))
  }

  test("punctRatio counts non-alphanumeric non-space chars") {
    assert(one(TextAnalysis.punctRatio(col("t")), "ab,c!").contains(0.4))
    assert(one(TextAnalysis.punctRatio(col("t")), "abc d").contains(0.0))
  }

  test("tokenEstimate: max of word pieces and chars/4") {
    // "hello world" → 2 pieces, ceil(11/4)=3 → 3
    assert(one(TextAnalysis.tokenEstimate(col("t")), "hello world").contains(3L))
    // many short pieces beat chars/4: "a b c d e f" → 6 pieces, ceil(11/4)=3
    assert(one(TextAnalysis.tokenEstimate(col("t")), "a b c d e f").contains(6L))
  }

  test("languageId: argmax with declaration-order ties, 'und' when no hits") {
    assert(one(TextAnalysis.languageId(col("t")), "the house of cards").contains("en"))
    assert(one(TextAnalysis.languageId(col("t")), "der die das haus").contains("de"))
    assert(one(TextAnalysis.languageId(col("t")), "xyz qqq zzz").contains("und"))
    // 'es' marker y vs 'en' marker the: tie 1-1 → declaration order wins (en)
    assert(one(TextAnalysis.languageId(col("t")), "the y casa").contains("en"))
  }

  test("PiiRedact replaces emails, phones, and digit runs in order") {
    import graft.functions.PiiRedact
    val in = "mail bob.smith+x@corp.example.org or +1 (212) 555-0147, ref 99182 ok 123"
    val out = one(PiiRedact.redact(col("t")), in).get.asInstanceOf[String]
    assert(out == "mail [EMAIL] or [PHONE], ref [NUM] ok 123")
    assert(one(PiiRedact.emailCount(col("t")), in).contains(1L))
    assert(one(PiiRedact.phoneCount(col("t")), in).contains(1L))
    // digit-run count sees ONLY runs surviving email+phone redaction,
    // and "123" is below the 4-digit floor
    assert(one(PiiRedact.digitRunCount(col("t")), in).contains(1L))
  }

  test("qualityScore stays within [0,1] and rewards stopword-bearing prose") {
    val good = one(TextAnalysis.qualityScore(col("t"), stop),
      ("the quick brown fox of the meadow " * 8).trim).get.asInstanceOf[Double]
    val bad = one(TextAnalysis.qualityScore(col("t"), stop),
      "!!! ??? ### $$$ %%%").get.asInstanceOf[Double]
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }

  test("charEntropy Column helper: NULL text scores 0.0 (q113 oracle contract)") {
    val got = Seq(Some("ab"), Some(""), None).toDF("t")
      .select(TextAnalysis.charEntropy(col("t")).as("h"))
      .as[Double].collect()
    assert(math.abs(got(0) - math.log(2)) < 1e-15)
    assert(got(1) == 0.0 && got(2) == 0.0,
      "empty AND null text must both coalesce to entropy 0.0")
  }

  test("urlCanonicalize applies every rule; scheme and path case preserved") {
    graft.functions.GraftFunctions.register(spark)
    def canon(u: String): Option[Any] =
      one(graft.functions.GraftFunctions.urlCanonicalize(col("t")), u)
    // host case + www + default port + trailing slash
    assert(canon("HTTPS://WWW.Ex.COM:443/A/b/").contains("https://ex.com/A/b"))
    // http default port is 80, not 443; scheme preserved
    assert(canon("http://ex.com:80/x").contains("http://ex.com/x"))
    assert(canon("http://ex.com:443/x").contains("http://ex.com:443/x"))
    // fragment dropped, index.html dropped, params filtered + sorted
    assert(canon("https://ex.com/docs/index.html?b=2&utm_source=f&a=1#top")
      .contains("https://ex.com/docs?a=1&b=2"))
    // bare host; root slash dropped
    assert(canon("https://ex.com/").contains("https://ex.com"))
    assert(canon("https://ex.com").contains("https://ex.com"))
    // tracking-only query drops the '?' entirely; `ref` is SEMANTIC
    // (selects content on many sites) and must survive
    assert(canon("https://ex.com/p?gclid=1&fbclid=2&mc_cid=9")
      .contains("https://ex.com/p"))
    assert(canon("https://ex.com/p?ref=main&gclid=1")
      .contains("https://ex.com/p?ref=main"))
    // www strips only when a dotted domain remains: www.com is a
    // registrable domain, not a www prefix on "com"
    assert(canon("https://www.com/x").contains("https://www.com/x"))
    // port range: 65535 valid, 65536 malformed
    assert(canon("https://ex.com:65535/x").contains("https://ex.com:65535/x"))
    assert(canon("https://ex.com:65536/x").isEmpty)
    // www alone is not strippable to an empty host
    assert(canon("https://www./x").isEmpty)
    // malformed → NULL: no scheme, non-http scheme, bad port, bad host
    assert(canon("ex.com/path").isEmpty)
    assert(canon("ftp://ex.com/x").isEmpty)
    assert(canon("https://ex.com:9999999/x").isEmpty)
    assert(canon("https://ex com/x").isEmpty)
    assert(one(graft.functions.GraftFunctions.urlCanonicalize(col("t")),
      null).isEmpty)
    // SQL-registration path (the §2.10 contract)
    val viaSql = spark.sql(
      "SELECT url_canonicalize('HTTP://WWW.A.COM/z/') AS c").head.getString(0)
    assert(viaSql == "http://a.com/z")
  }
}
