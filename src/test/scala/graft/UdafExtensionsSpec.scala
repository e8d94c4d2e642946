package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.QualityWeightedMean

class UdafExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("QualityWeightedMean: weighting, zero-weight null, partial-merge correctness") {
    val wmean = udaf(QualityWeightedMean)
    val df = Seq(
      ("a", 10.0, 3), ("a", 20.0, 1),          // (10*3+20)/4 = 12.5
      ("b", 5.0, 0), ("b", 7.0, 0),            // zero total weight → null
      ("c", 2.0, 192))
      .toDF("k", "v", "q")
      .repartition(4) // force partial buffers + merge
    val got = df.groupBy("k").agg(wmean(col("v"), col("q")).as("m"))
      .as[(String, Option[Double])].collect().toMap
    assert(got("a").contains(12.5))
    assert(got("b").isEmpty)
    assert(got("c").contains(2.0))
  }

  test("GraftExtensions registers SQL functions at session build time") {
    // spark.sql.extensions is a static conf — it cannot take effect on the
    // suite's already-running context, so exercise the class through the
    // builder's programmatic hook on a fresh session object
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    assert(ext ne spark, "must be a fresh session carrying the extensions")
    try {
      val r = ext.sql(
        """SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
          |  simhash32(array('a', 'b')) AS s,
          |  rolling_hash('abc') AS h""".stripMargin).collect().head
      assert(r.getDouble(0) == 1.0)
      assert(r.getLong(2) == 96354L)
      // image_dhash resolves (NULL on non-image bytes, no exception)
      assert(ext.sql("SELECT image_dhash(CAST('x' AS BINARY)) AS d")
        .collect().head.isNullAt(0))
      // every graft function and txtable_* table-valued function is
      // injected, from the same tables GraftFunctions.register loops over
      import org.apache.spark.sql.catalyst.FunctionIdentifier
      graft.functions.GraftFunctions.all.foreach { case (name, _, _) =>
        assert(ext.sessionState.functionRegistry
          .functionExists(FunctionIdentifier(name)), s"$name missing")
      }
      graft.functions.TxTableTvf.all.foreach { case (name, _, _) =>
        assert(ext.sessionState.tableFunctionRegistry
          .functionExists(FunctionIdentifier(name)), s"$name missing")
      }
    } finally {
      // leave the default session as the suite's session
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
