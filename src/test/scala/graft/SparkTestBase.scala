package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; cheap). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it started, counted
    * by a listener over a drained bus (suites run one at a time, so
    * every job in the window is the body's). */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
