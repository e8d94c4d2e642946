package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.sources.{OpcSimSource, TagReader, TagReaderProvider, TagReading, TagSession}
import graft.streaming.{StreamingPipeline, TxTable}

/** A drop-in [[TagReaderProvider]] proving the real-client seam: constant
  * readings, bad quality, and lifecycle counters the spec asserts on.
  * Top-level class: resolved by name via the `tagReader` option exactly as
  * a real OPC UA client binding would be.
  */
class FixedTagReaderProvider extends TagReaderProvider {
  override def open(session: TagSession): TagReader = new TagReader {
    override def connect(): Unit = FixedTagReaderProvider.connects.incrementAndGet()
    override def subscribe(entries: Seq[graft.model.OpcEntry]): Unit =
      FixedTagReaderProvider.subscribed.addAndGet(entries.size)
    override def read(entry: graft.model.OpcEntry, tagIdx: Int, cycle: Long): TagReading =
      TagReading(s"fixed-${entry.tag}-$cycle", quality = 24,
        sourceTsMicros = cycle * 1000000L, serverTsMicros = cycle * 1000000L + 500L)
    override def close(): Unit = FixedTagReaderProvider.closes.incrementAndGet()
  }
}

object FixedTagReaderProvider {
  val connects = new java.util.concurrent.atomic.AtomicInteger(0)
  val subscribed = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** End-to-end slice of SURVEY.md §7: config text → custom DSv2 micro-batch
  * source (simulated OPC poll) → normalization → last-value current table.
  */
class OpcSimSourceSpec extends SparkSpec {
  import spark.implicits._

  private val conf =
    """mongodb://localhost:27017/graft
      |opc.tcp://host1:4840, 10, Server1
      |ns=1;s=Plant.Temp   ,Double  ,Y ,Temp
      |ns=1;s=Plant.Count  ,Int32   ,N ,Count
      |ns=1;s=Plant.Alive  ,Boolean ,N ,Alive
      |ns=1;s=Plant.Label  ,String  ,N ,Label
      |""".stripMargin

  test("sessionAuth: option overrides config, missing cert fails at query start") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val certPath = Files.createTempFile("graft-cert", ".pfx")
    val confWithCert =
      s"""opc.tcp://host1:4840, 10, Server1, $certPath, hunter2
         |ns=1;s=Plant.Temp,Double,Y,Temp
         |""".stripMargin
    val server = OpcSimSource.selectServer(confWithCert, "Server1")
    assert(server.certificateFile == certPath.toString && server.certificatePassword == "hunter2")

    // config-provided material resolves
    val noOpts = new CaseInsensitiveStringMap(java.util.Map.of[String, String]())
    val a1 = OpcSimSource.sessionAuth(server, noOpts)
    assert(a1 == OpcSimSource.SessionAuth(Some(certPath.toString), Some("hunter2")))

    // source options override the config line
    val cert2 = Files.createTempFile("graft-cert2", ".pfx")
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("certFile", cert2.toString, "certPassword", "override"))
    assert(OpcSimSource.sessionAuth(server, opts) ==
      OpcSimSource.SessionAuth(Some(cert2.toString), Some("override")))

    // a configured-but-absent cert file fails the STREAM START, not a
    // later micro-batch: the stream init resolves sessionAuth eagerly
    val badConf =
      """opc.tcp://host1:4840, 10, Server1, /nonexistent/cert.pfx, pw
        |ns=1;s=Plant.Temp,Double,Y,Temp
        |""".stripMargin
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("opcsim")
        .option("config", badConf).option("server", "Server1")
        .option("cyclesPerTrigger", 1).option("maxCycles", 1)
        .load()
        .writeStream.format("memory").queryName("opcsim_badcert")
        .option("checkpointLocation", Files.createTempDirectory("sim-ckpt-bad").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(ex.getMessage.contains("does not exist") ||
      Option(ex.getCause).exists(_.getMessage.contains("does not exist")))
  }

  test("source emits every tag per cycle with deterministic values and timestamps") {
    val stream = spark.readStream.format("opcsim")
      .option("config", conf).option("server", "Server1")
      .option("cyclesPerTrigger", 3).option("maxCycles", 3)
      .load()
    val q = stream.writeStream
      .format("memory").queryName("opcsim_raw")
      .option("checkpointLocation", Files.createTempDirectory("sim-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val rows = spark.sql("SELECT * FROM opcsim_raw")
    assert(rows.count() == 12) // 3 cycles × 4 tags (poll reads ALL tags)
    val temps = rows.filter($"tag" === "Temp")
      .select("rawValue", "dataType").as[(String, String)].collect()
    assert(temps.length == 3 && temps.forall(_._2 == "Double"))
    // cycle timestamps stride by read_period (10 s)
    val tsSeq = rows.filter($"tag" === "Temp")
      .select("sourceTimestamp").as[java.sql.Timestamp].collect()
      .map(_.getTime).sorted
    assert(tsSeq.zip(tsSeq.tail).forall { case (a, b) => b - a == 10000L })
  }

  test("tagReader option binds a custom client; lifecycle runs per partition") {
    FixedTagReaderProvider.connects.set(0)
    FixedTagReaderProvider.subscribed.set(0)
    FixedTagReaderProvider.closes.set(0)
    val stream = spark.readStream.format("opcsim")
      .option("config", conf).option("server", "Server1")
      .option("tagReader", classOf[FixedTagReaderProvider].getName)
      .option("cyclesPerTrigger", 2).option("maxCycles", 2)
      .option("numPartitions", 2)
      .load()
    val q = stream.writeStream
      .format("memory").queryName("opcsim_fixed")
      .option("checkpointLocation", Files.createTempDirectory("sim-ckpt-fx").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql("SELECT tag, rawValue, quality FROM opcsim_fixed")
      .as[(String, String, Int)].collect()
    assert(rows.length == 8) // 2 cycles × 4 tags
    assert(rows.forall(r => r._2.startsWith(s"fixed-${r._1}-") && r._3 == 24))
    // 2 partitions (4 tags / 2): one connect + one close each; only the
    // subscribe-flagged entry (Temp) was declared, on its own partition
    assert(FixedTagReaderProvider.connects.get() == 2)
    assert(FixedTagReaderProvider.closes.get() == 2)
    assert(FixedTagReaderProvider.subscribed.get() == 1)
  }

  test("a bad tagReader class name fails the query at start") {
    val ex = intercept[Exception] {
      spark.readStream.format("opcsim")
        .option("config", conf).option("server", "Server1")
        .option("tagReader", "com.nosuch.Provider")
        .option("maxCycles", 1).load()
        .writeStream.format("noop")
        .option("checkpointLocation", Files.createTempDirectory("sim-ckpt-bad").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("cannot be instantiated")))
  }

  test("e2e: source → normalize → last-value current table") {
    val stream = spark.readStream.format("opcsim")
      .option("config", conf).option("server", "Server1")
      .option("cyclesPerTrigger", 2).option("maxCycles", 4)
      .load()
    val table = Files.createTempDirectory("sim-cur").toString + "/current"
    val q = StreamingPipeline.currentValueSink(
      StreamingPipeline.normalizeStream(stream),
      table, Files.createTempDirectory("sim-ckpt2").toString,
      Trigger.AvailableNow()).start()
    q.awaitTermination()

    val cur = TxTable.read(spark, table).get
    assert(cur.count() == 4, "exactly one current row per tag")
    val byTag = cur.select("tag", "doubleValue", "stringValue")
      .as[(String, Double, String)].collect().map(r => r._1 -> r).toMap
    // cycle 4 values (latest): deterministic from OpcSimSource.rawValue
    assert(byTag("Temp")._2 ==
      OpcSimSource.rawValue("Double", 0, 4).toDouble)
    assert(byTag("Count")._3 == OpcSimSource.rawValue("Int32", 1, 4))
    assert(byTag("Alive")._3 == "true") // (4 + 2) % 2 == 0
    // every tag's current row is from the last cycle
    val tsAll = cur.select("sourceTimestamp").as[java.sql.Timestamp].collect()
    assert(tsAll.map(_.getTime).distinct.toSeq == Seq(1704067200000L + 4 * 10000L))
  }

  test("history table appends every reading, partitioned by server") {
    val stream = spark.readStream.format("opcsim")
      .option("config", conf).option("server", "Server1")
      .option("cyclesPerTrigger", 1).option("maxCycles", 3)
      .load()
    val base = Files.createTempDirectory("sim-hist").toString
    val q = StreamingPipeline.currentValueSink(
      StreamingPipeline.normalizeStream(stream),
      s"$base/current", Files.createTempDirectory("sim-ckpt4").toString,
      Trigger.AvailableNow(), historyPath = Some(s"$base/history")).start()
    q.awaitTermination()

    assert(TxTable.read(spark, s"$base/current").get.count() == 4)
    val hist = spark.read.parquet(s"$base/history")
    assert(hist.count() == 12) // 3 cycles × 4 tags, all retained
    assert(new java.io.File(s"$base/history/serverName=Server1").isDirectory,
      "history is partitioned by serverName")
  }

  test("restart replays deterministically (exactly-once current table)") {
    def run(ckpt: String, table: String, max: Int): Unit = {
      val stream = spark.readStream.format("opcsim")
        .option("config", conf).option("server", "Server1")
        .option("cyclesPerTrigger", 1).option("maxCycles", max)
        .load()
      val q = StreamingPipeline.currentValueSink(
        StreamingPipeline.normalizeStream(stream), table, ckpt,
        Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val ckpt = Files.createTempDirectory("sim-ckpt3").toString
    val table = Files.createTempDirectory("sim-cur3").toString + "/current"
    run(ckpt, table, 2)
    val after2 = TxTable.read(spark, table).get
      .select("tag", "stringValue").as[(String, String)].collect().toMap
    run(ckpt, table, 5) // resume from checkpoint, cycles 3..5
    val after5 = TxTable.read(spark, table).get
      .select("tag", "stringValue").as[(String, String)].collect().toMap
    assert(after2("Count") == OpcSimSource.rawValue("Int32", 1, 2))
    assert(after5("Count") == OpcSimSource.rawValue("Int32", 1, 5))
  }

  test("startServerQueries: one query and one current-value table per server") {
    val twoServers =
      """opc.tcp://host1:4840, 1, Server1
        |ns=1;s=Plant.Temp   ,Double  ,Y ,Temp
        |ns=1;s=Plant.Count  ,Int32   ,N ,Count
        |ns=1;s=Plant.Label  ,String  ,N ,Label
        |opcda://host2, 1, Server2
        |Device.PV  ,vt_r8  ,N ,PV
        |Device.On  ,vt_bool,N ,On
        |""".stripMargin
    val servers = graft.config.OpcConfigParser.parse(twoServers).config.servers
    val base = Files.createTempDirectory("sim-fanout").toString
    val maxCycles = 3
    val queries = StreamingPipeline.startServerQueries(servers,
      srv => spark.readStream.format("opcsim")
        .option("config", twoServers).option("server", srv.serverName)
        .option("cyclesPerTrigger", 2).option("maxCycles", maxCycles)
        .load(),
      s"$base/current", s"$base/ckpt")
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())

    assert(queries.map(_.name) == Seq("graft-Server1", "graft-Server2"))
    def isReal(dataType: String) = Seq("double", "vt_r8").contains(dataType.toLowerCase)
    servers.foreach { srv =>
      val cur = TxTable.read(spark, s"$base/current/${srv.serverName}").get
        .select("serverName", "tag", "dataType", "doubleValue", "stringValue")
        .as[(String, String, String, Double, String)].collect()
      assert(cur.map(_._1).toSet == Set(srv.serverName))
      // one row per tag, holding the last cycle's value (reals compared
      // as numbers: their text form is G-formatted)
      def value(dataType: String, d: Double, str: String): String =
        if (isReal(dataType)) d.toString else str
      val want = srv.entries.zipWithIndex.map { case (e, i) =>
        val raw = OpcSimSource.rawValue(e.dataType, i, maxCycles)
        e.tag -> (if (isReal(e.dataType)) raw.toDouble.toString else raw)
      }.toMap
      assert(cur.map(r => r._2 -> value(r._3, r._4, r._5)).toMap == want)
      assert(cur.length == want.size)
    }
  }
}
