package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (single forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Sessions.builder("local[4]", 4).appName("graft-test").getOrCreate()
  val sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started by `body`, counted on the listener bus. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.graftbus.ListenerDrain.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; org.apache.spark.graftbus.ListenerDrain.drain(sc); n.get() }
    finally sc.removeSparkListener(l)
  }
}
