package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SessionTuning.tuned(SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The job group of every Spark job `body` starts, in start order.
    * The listener bus delivers in order, so the jobs between two fence
    * jobs (run on this thread under their own groups) are exactly the
    * jobs `body` started — whatever else was still queued is cut off. */
  def jobGroupsOf(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID()
    def fence(tag: String): String = {
      sc.setJobGroup(s"fence-$tag-$id", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      s"fence-$tag-$id"
    }
    sc.addSparkListener(listener)
    try {
      val open = fence("open")
      body
      val close = fence("close")
      val deadline = System.currentTimeMillis + 20000
      while (!seen.contains(close) && System.currentTimeMillis < deadline)
        Thread.sleep(20)
      assert(seen.contains(close), "listener bus never delivered the fence")
      seen.asScala.toSeq.dropWhile(_ != open).drop(1).takeWhile(_ != close)
    } finally sc.removeSparkListener(listener)
  }
}
