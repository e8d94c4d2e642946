package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{Dedup, IncrementalAgg, Multimodal, SimilaritySearch}
import graft.streaming.TxTable

/** VERDICT r13 task #5 — SQL-surface parity. The 274 verified queries
  * enter through the Scala DSL; these twins pin that a pure
  * `spark.sql(...)` user gets BIT-IDENTICAL results for one
  * representative query per family: IVM refresh, ANN brute-force top-k,
  * dedup, TxTable time travel (via the txtable_* table-valued
  * functions), and multimodal dHash (via the image_dhash expression).
  * The SQL text needs [[GraftFunctions.register]] on this already-built
  * session; it loops over the same tables [[graft.GraftExtensions]]
  * injects at session build time. The DSL twins need no registration.
  */
class SqlParitySpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertTwin(dsl: DataFrame, sql: DataFrame): Unit = {
    assert(dsl.columns.toSeq == sql.columns.toSeq,
      s"schema drift: ${dsl.columns.toSeq} vs ${sql.columns.toSeq}")
    val (d, s) = (rows(dsl), rows(sql))
    assert(d.nonEmpty, "twin comparison over an empty result proves nothing")
    assert(d == s)
  }

  test("IVM twin: refreshSumCount == pure-SQL delta + full-outer merge") {
    Seq(("a", 2L, 10L), ("b", 1L, 5L))
      .toDF("g", "cnt", "v").createOrReplaceTempView("prev_state")
    Seq(("a", 7L, "insert"), ("a", 10L, "delete"),
      ("b", 5L, "update_preimage"), ("b", 6L, "update_postimage"),
      ("c", 3L, "insert"), ("a", 4L, "insert"))
      .toDF("g", "v", "change_type").createOrReplaceTempView("cdf_feed")
    val dsl = IncrementalAgg.refreshSumCount(
      spark.table("prev_state"), spark.table("cdf_feed"),
      Seq("g"), "cnt", Seq("v"))
    val sql = spark.sql(
      """WITH d AS (
        |  SELECT g, sum(sign) AS d_cnt, sum(v * sign) AS d_sum_v FROM (
        |    SELECT g, v,
        |      CASE WHEN change_type IN ('insert', 'update_postimage') THEN 1L
        |           WHEN change_type IN ('delete', 'update_preimage') THEN -1L
        |      END AS sign
        |    FROM cdf_feed) GROUP BY g)
        |SELECT coalesce(p.g, d.g) AS g,
        |  coalesce(p.cnt, 0L) + coalesce(d.d_cnt, 0L) AS cnt,
        |  coalesce(p.v, 0L) + coalesce(d.d_sum_v, 0L) AS v
        |FROM prev_state p FULL OUTER JOIN d ON p.g = d.g
        |WHERE coalesce(p.cnt, 0L) + coalesce(d.d_cnt, 0L) > 0""".stripMargin)
    assertTwin(dsl, sql)
  }

  test("ANN twin: bruteForceTopK == pure-SQL cosine window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.createOrReplaceTempView("emb")
    val dsl = SimilaritySearch.bruteForceTopK(
      emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 5)
    val sql = spark.sql(
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding FROM emb WHERE vec_id % 50 = 0),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    cosine_sim(q.embedding, e.embedding) AS cosine
        |  FROM emb e JOIN q ON e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM s WHERE cosine IS NOT NULL AND NOT isnan(cosine))
        |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 5
        |""".stripMargin)
    assertTwin(dsl, sql)
  }

  test("dedup twin: exactDedup == pure-SQL min_by over content key") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.createOrReplaceTempView("docs")
    val dsl = Dedup.exactDedup(docs, "doc_id", "text")
    val sql = spark.sql(
      """SELECT __row.* FROM (
        |  SELECT min_by(struct(doc_id, text), doc_id) AS __row
        |  FROM docs GROUP BY md5(text))""".stripMargin)
    assertTwin(dsl, sql)
  }

  test("time-travel twin: readAt/readAsOf/readMerged == txtable_* table functions") {
    val path = java.nio.file.Files.createTempDirectory("sqlparity-tx") + "/t"
    def batch(rows: (String, String, String, Double)*) =
      rows.map { case (srv, tag, t, v) => (srv, tag, v, ts(t), ts(t)) }
        .toDF("serverName", "tag", "doubleValue", "serverTimestamp", "sourceTimestamp")
    val v0 = TxTable.upsertDelta(spark, batch(
      ("s1", "a", "2024-01-01 00:00:01", 1.0),
      ("s1", "b", "2024-01-01 00:00:01", 2.0)), path)
    val v1 = TxTable.upsertDelta(spark, batch(
      ("s1", "a", "2024-01-01 00:00:05", 1.5)), path)
    TxTable.stampCommitTime(path, v0, 1000L)
    TxTable.stampCommitTime(path, v1, 2000L)

    assertTwin(TxTable.readAt(spark, path, v0).get,
      spark.sql(s"SELECT * FROM txtable_at('$path', $v0)"))
    // raw current snapshot (delta-granular) and the merged last-value view
    assertTwin(TxTable.read(spark, path).get,
      spark.sql(s"SELECT * FROM txtable_read('$path')"))
    assertTwin(TxTable.readMerged(spark, path).get,
      spark.sql(s"SELECT * FROM txtable_merged('$path')"))
    // TIMESTAMP AS OF: 1500 ms lands between the two stamped commits
    assertTwin(TxTable.readAsOf(spark, path, 1500L).get,
      spark.sql(s"SELECT * FROM txtable_asof('$path', 1500)"))
    // and the SQL surface composes: aggregate over a time-traveled read
    val agg = spark.sql(
      s"""SELECT tag, sum(doubleValue) AS s
         |FROM txtable_merged('$path') GROUP BY tag ORDER BY tag""".stripMargin)
      .as[(String, Double)].collect().toSeq
    assert(agg == Seq(("a", 1.5), ("b", 2.0)))
    // ops surface: DESCRIBE HISTORY analog, newest first
    val hist = spark.sql(s"SELECT version, op FROM txtable_history('$path')")
      .as[(Long, String)].collect().toSeq
    assert(hist == Seq((v1, "upsertDelta"), (v0, "upsertDelta")))
    // audit surface: one key's change trajectory, SQL == DSL, and the
    // version window plumbs through (the r15 bounded-keyHistory contract)
    assertTwin(
      TxTable.keyHistory(spark, path, "tag", col("tag") === "a"),
      spark.sql(s"SELECT * FROM txtable_key_history('$path', 'tag', 'a')"))
    val traj = spark.sql(
      s"""SELECT _commit_version, change_type, doubleValue
         |FROM txtable_key_history('$path', 'tag', 'a', $v1, $v1)
         |ORDER BY change_type""".stripMargin)
      .as[(Long, String, Double)].collect().toSeq
    assert(traj == Seq((v1, "update_postimage", 1.5), (v1, "update_preimage", 1.0)))
  }

  test("multimodal twin: imageDHashes == pure-SQL image_dhash") {
    val ids = spark.range(0, 48).select(col("id").as("doc_id"))
    val blobs = Multimodal.syntheticMixedImages(ids, spark)
    blobs.createOrReplaceTempView("image_blobs")
    val dsl = Multimodal.imageDHashes(blobs, spark)
    val sql = spark.sql(
      """SELECT doc_id, image_dhash(blob) AS dhash
        |FROM image_blobs WHERE image_dhash(blob) IS NOT NULL""".stripMargin)
    assertTwin(dsl, sql)
    // the SQL path really decodes: all four containers present, 48/48
    assert(sql.count() == 48L)
  }
}
