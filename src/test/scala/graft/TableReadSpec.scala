package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import graft.queries.Q

/** [[Q.t]] infers a table's parquet schema once per unchanged set of
  * files and session parquet confs: a repeated read declares the
  * remembered schema and launches no Spark job, and any change to the
  * files or the confs reads (and infers) afresh.
  */
class TableReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-tread").toString

  /** Jobs started by `body` on this thread. A sentinel job in a group of
    * its own follows `body`; the listener sees job starts in order, so
    * once the sentinel's arrives, every earlier one has too.
    */
  private def jobsIn[T](body: => T): (Int, T) = {
    val group = s"tread_${UUID.randomUUID().toString.replace("-", "")}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "read under test")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"end_$group", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 20000L
      while (!seen.contains(s"end_$group") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"end_$group"), "listener events did not arrive")
      (seen.asScala.count(_ == group), out)
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a second read of an unchanged table launches no job; same schema, same rows") {
    val dir = tmpDir()
    (1 to 50).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("id", "s", "x")
      .write.parquet(s"$dir/tbl.parquet")
    val (firstJobs, first) = jobsIn(Q.t(spark, dir, "tbl"))
    assert(firstJobs >= 1, "the first read should infer the schema with a job")
    val (againJobs, again) = jobsIn(Q.t(spark, dir, "tbl"))
    assert(againJobs === 0)
    assert(again.schema === first.schema)
    assert(again.schema === spark.read.parquet(s"$dir/tbl.parquet").schema)
    assert(rows(again) === rows(first))
    // events goes through its timestamp normalisation on top
    val sf = "/root/testdata/sf0.001"
    val events = Q.t(spark, sf, "events")
    val (eventJobs, eventsAgain) = jobsIn(Q.t(spark, sf, "events"))
    assert(eventJobs === 0)
    assert(eventsAgain.schema === events.schema)
    assert(rows(eventsAgain) === rows(events))
  }

  test("rewriting a table with a different schema is picked up") {
    val dir = tmpDir()
    val path = s"$dir/tbl.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    assert(Q.t(spark, dir, "tbl").schema.fieldNames.toSeq === Seq("id", "s"))
    Seq((3L, 1.5, true)).toDF("id", "x", "flag").write.mode("overwrite").parquet(path)
    val (jobs, df) = jobsIn(Q.t(spark, dir, "tbl"))
    assert(jobs >= 1, "a rewritten table must be inferred afresh")
    assert(df.schema === spark.read.parquet(path).schema)
    assert(rows(df) === Seq(Row(3L, 1.5, true).toString))
  }

  test("the same files under different parquet-reading confs get their own entry") {
    // a copy of a test table that was not written by Spark, so its
    // inferred schema follows the session's parquet confs
    val dir = tmpDir()
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/orders.parquet"),
      java.nio.file.Paths.get(s"$dir/ord.parquet"))
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanos, "true")(Q.t(spark, dir, "ord"))
    val (sameConfJobs, _) = jobsIn(withConf(nanos, "true")(Q.t(spark, dir, "ord")))
    assert(sameConfJobs === 0)
    val (otherConfJobs, _) = jobsIn(withConf(nanos, "false")(Q.t(spark, dir, "ord")))
    assert(otherConfJobs >= 1, "a changed nanosAsLong must not reuse the other entry")
    // a conf that changes the inferred schema is honoured, never stale
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def dateType(v: String) = withConf(ntz, v) {
      val df = Q.t(spark, dir, "ord")
      assert(df.schema === spark.read.parquet(s"$dir/ord.parquet").schema)
      df.schema("o_orderdate").dataType
    }
    assert(dateType("true") === TimestampNTZType)
    assert(dateType("false") === TimestampType)
    assert(dateType("true") === TimestampNTZType)
  }

  test("two threads reading the same table at once get the same schema") {
    val dir = tmpDir()
    (1 to 20).map(i => (i, s"w$i")).toDF("k", "w").write.parquet(s"$dir/tbl.parquet")
    val go = new CountDownLatch(1)
    val schemas = new ConcurrentLinkedQueue[StructType]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => { go.await(); schemas.add(Q.t(spark, dir, "tbl").schema); () })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join(60000L))
    val want = spark.read.parquet(s"$dir/tbl.parquet").schema
    assert(schemas.asScala.toSeq === Seq(want, want))
    val (jobs, _) = jobsIn(Q.t(spark, dir, "tbl"))
    assert(jobs === 0)
  }

  test("reading events leaves the session's config unchanged") {
    // ts as TIMESTAMP(MICROS, isAdjustedToUTC=false): the encoding the
    // test tables ship with
    val dir = tmpDir()
    Seq((1L, "2024-06-01 10:00:00"), (2L, "2024-06-01 10:00:01.5")).toDF("id", "t")
      .selectExpr("id", "to_timestamp_ntz(t) AS ts")
      .write.parquet(s"$dir/events.parquet")
    // start without nanosAsLong, which an earlier events read may have set
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(nanos)
    try {
      spark.conf.unset(nanos)
      val before = spark.conf.getAll
      val df = Q.t(spark, dir, "events")
      assert(df.schema("ts").dataType === TimestampType)
      assert(df.orderBy("id").selectExpr("CAST(ts AS STRING)").as[String].collect().toSeq ===
        Seq("2024-06-01 10:00:00", "2024-06-01 10:00:01.5"))
      assert(spark.conf.getAll === before)
    } finally old.fold(spark.conf.unset(nanos))(spark.conf.set(nanos, _))
  }

  test("events stored as TIMESTAMP(NANOS) are read under nanosAsLong") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    // 2024-06-01 10:00:00.000001999 UTC: the sub-microsecond part is cut
    try writer.write(groups.newGroup().append("id", 1L).append("ts", 1717236000000001999L))
    finally writer.close()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(nanos)
    try {
      spark.conf.unset(nanos)
      val df = Q.t(spark, dir, "events")
      assert(spark.conf.get(nanos) === "true")
      assert(df.schema("ts").dataType === TimestampType)
      assert(df.selectExpr("CAST(ts AS STRING)").as[String].collect().toSeq ===
        Seq("2024-06-01 10:00:00.000001"))
    } finally old.fold(spark.conf.unset(nanos))(spark.conf.set(nanos, _))
  }
}
