package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local SparkSession for every suite (JVM-wide). */
object SparkTestSession {
  /** Root of the driver-generated parquet fixtures. Overridable via
    * `GRAFT_TESTDATA` so the suites degrade to skipped (assume-cancel)
    * rather than erroring on a machine without the shipped fixtures. */
  val testdataRoot: String =
    sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")

  def sfDir(sf: String): String = s"$testdataRoot/sf$sf"

  def fixturesPresent(sf: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir(sf)))

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs started while `body` runs, counted by a listener that a sentinel
    * job proves has caught up, and that is removed afterwards. */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val prop = "graft.test.jobsIn"
    val tag = s"t${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(prop))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      try body finally sc.setLocalProperty(prop, null)
      sc.setLocalProperty(prop, s"$tag-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(prop, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "listener never saw the sentinel job")
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }
}
