package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite base. Small parallelism + shuffle counts:
  * these are semantic tests, not perf tests.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    // one shared local session across suites; don't stop it per-suite
    super.afterAll()
  }

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** `body`'s result and the call site of every job it started on this
    * thread ("collect at X.scala:N", the name of the job's last stage).
    * A sentinel job in a group of its own follows `body`; the listener
    * sees job starts in order, so once the sentinel's arrives, every
    * earlier one has too.
    */
  def jobSitesOf[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val group = s"sites_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add((String.valueOf(Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull),
          j.stageInfos.lastOption.map(_.name).getOrElse("?")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body under test")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"end_$group", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      def arrived = seen.asScala.exists(_._1 == s"end_$group")
      val deadline = System.currentTimeMillis() + 20000L
      while (!arrived && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(arrived, "listener events did not arrive")
      (out, seen.asScala.toSeq.filter(_._1 == group).map(_._2))
    } finally sc.removeSparkListener(listener)
  }
}
