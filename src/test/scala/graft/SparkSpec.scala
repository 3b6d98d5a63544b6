package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local SparkSession per JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    // tmpfs local dir — see Bench.scala (virtio disk burst-throttling)
    val localDir = graft.util.LocalTmp.sparkLocalDir("graft-spark-test")
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", "8")
      // events.parquet uses TIMESTAMP(NANOS): read as nanos-since-epoch long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  // Replies leave with TCP_NODELAY when this property is set, as a
  // deployment sets it with -Dsun.net.httpserver.nodelay=true. The JDK reads
  // it once per JVM, when the first com.sun.net.httpserver server is
  // created; suites share one forked JVM, and one of them (EndpointsSpec)
  // starts a plain JDK server of its own: set it before any suite runs.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  lazy val spark: SparkSession = TestSpark.spark
  def sfTiny: String = TestSpark.sfTiny
  def sfSmall: String = TestSpark.sfSmall

  /** Spark jobs started while `f` ran: a marker job closes the window, and
    * the listener bus delivers events in order. */
  def sparkJobs(f: => Unit): Int = {
    val seen = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val markerKey = "graft.test.marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(markerKey) != null)) marker.countDown()
        else if (marker.getCount > 0) { seen.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty(markerKey, "1")
      try spark.range(1).count() finally sc.setLocalProperty(markerKey, null)
      assert(marker.await(60, TimeUnit.SECONDS))
      seen.get()
    } finally sc.removeSparkListener(listener)
  }
}
