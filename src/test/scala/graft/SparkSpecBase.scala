package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark startup is the
  * dominant cost of a suite; sf0.001 keeps each query sub-second). */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      // match GraftSession: keep ObjectHashAggregate hash-based for the
      // bounded-heap typed aggregators (see GraftSession.local)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpecBase.spark
  def sfTiny: String = SparkSpecBase.sfTiny
  def sfSmall: String = SparkSpecBase.sfSmall

  /** Spark jobs started while `body` runs, adaptive query stages
    * included; the listener bus is drained on both sides. */
  def jobsDuring(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.GraftListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }
}
