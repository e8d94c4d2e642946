package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.config.OpcConfigParser
import graft.streaming.{StreamingPipeline, TxTable}

/** Runnable end-to-end demonstration of the reference topology on Spark:
  * a config in the reference's grammar (servers + typed tags) drives one
  * streaming query per server (opcsim source → normalization →
  * current-value TxTable commit + history append), then the accumulated
  * history feeds the batch analytics surface. This is the minimum slice SURVEY.md
  * §7 describes, as one `runMain graft.Demo [outDir]`.
  */
object Demo {

  private val config =
    """# reference-grammar config: two servers at different cadences
      |opc.tcp://demo-a:4840, 5, ServerA
      |ns=1;s=Plant.Temp   ,Double  ,Y ,Temp
      |ns=1;s=Plant.Press  ,Single  ,N ,Press
      |ns=1;s=Plant.Count  ,Int32   ,N ,Count
      |ns=1;s=Plant.Alive  ,Boolean ,N ,Alive
      |ns=1;s=Plant.Mode   ,String  ,N ,Mode
      |ns=1;s=Plant.Clock  ,DateTime,N ,Clock
      |opcda://demo-b, 10, ServerB
      |Device.PV  ,vt_r8  ,N ,PV
      |Device.SP  ,vt_i4  ,N ,SP
      |Device.On  ,vt_bool,N ,On
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val parsed = OpcConfigParser.parse(config).config
    println(s"parsed ${parsed.servers.size} servers: " +
      parsed.servers.map(s => s"${s.serverName}(${s.entries.size} tags)").mkString(", "))

    // one streaming query per server, AvailableNow so the demo terminates;
    // both merge into ONE current-value TxTable (an atomic, OCC-protected
    // commit per micro-batch), each with its own checkpoint and history
    val queries = parsed.servers.map { srv =>
      StreamingPipeline.currentValueSink(
        StreamingPipeline.normalizeStream(
          spark.readStream.format("opcsim")
            .option("config", config).option("server", srv.serverName)
            .option("cyclesPerTrigger", 20).option("maxCycles", 60)
            .load()),
        s"$out/current",
        s"$out/ckpt/${srv.serverName}",
        Trigger.AvailableNow(),
        historyPath = Some(s"$out/history/${srv.serverName}"))
        .queryName(s"graft-${srv.serverName}").start()
    }
    queries.foreach(_.awaitTermination())

    println("\n-- current-value table (one row per (server, tag), last value wins) --")
    TxTable.read(spark, s"$out/current").foreach {
      _.orderBy("serverName", "tag")
        .select("serverName", "tag", "doubleValue", "stringValue", "sourceTimestamp")
        .show(20, truncate = false)
    }

    println("-- history-backed analytics: per-tag stats over all cycles --")
    val history = parsed.servers.map(srv =>
      spark.read.parquet(s"$out/history/${srv.serverName}")).reduce(_ unionByName _)
    history.groupBy("serverName", "tag")
      .agg(count(lit(1)).as("n_readings"),
        round(avg("doubleValue"), 3).as("avg"),
        round(min("doubleValue"), 3).as("min"),
        round(max("doubleValue"), 3).as("max"))
      .orderBy("serverName", "tag")
      .show(20, truncate = false)

    println(s"tables written under $out")
    spark.stop()
  }
}
