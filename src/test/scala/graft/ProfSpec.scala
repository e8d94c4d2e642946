package graft

import java.io.ByteArrayOutputStream

/** `Prof` on the shared session: the same run `Prof.main` makes after
  * building its own session (which it stops, so the spec cannot call it).
  */
class ProfSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("Prof: two passes, the warm pass's jobs, the summary's min, nothing left cached") {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Prof.run(spark, sf, Seq("q02")))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    val record = Prof.json.readTree(lines.find(_.startsWith("{\"query\"")).get)
    val summary = Prof.json.readTree(lines.last)

    assert(record.get("query").asText == "q02_filter_project")
    val passes = (0 until record.get("passes_s").size).map(record.get("passes_s").get(_).asDouble)
    assert(passes.size == 2 && passes.forall(_ >= 0), passes)
    val jobs = record.get("jobs")
    assert(jobs.size > 0)
    assert(jobs.get(0).get("site").asText.nonEmpty && jobs.get(0).get("s").asDouble >= 0)
    assert(lines.exists(_.contains("Physical Plan")), "no formatted plan printed")

    assert(summary.get("sf").asText == sf)
    assert(summary.get("queries").size == 1)
    assert(summary.get("queries").get("q02_filter_project").asDouble == passes.min)
    assert(record.get("warm_s").asDouble == passes.min)

    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("Prof: AQE stage jobs are named by their operators and SQL execution, not a call site") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Prof.run(spark, sf, Seq("q29_")))
    val record = Prof.json.readTree(out.toString("UTF-8").linesIterator
      .find(_.startsWith("{\"query\"")).get)
    val jobs = (0 until record.get("jobs").size).map(record.get("jobs").get(_))
    val sites = jobs.map(_.get("site").asText)
    assert(sites.nonEmpty)
    assert(!sites.exists(_.contains("CompletableFuture")), sites)
    assert(sites.exists(_.contains("Exchange")), sites)
    assert(jobs.forall(_.get("exec").asLong >= 0), sites)
  }
}
