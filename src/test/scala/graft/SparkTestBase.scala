package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test / fork := true),
  * built with the engine's own deployment settings so every spec runs
  * under the configuration that ships. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(name: String) = s"/root/testdata/sf0.001"

  /** Jobs started under a private job group while `body` runs, read
    * from a listener after draining the async listener bus. */
  protected def jobsRun(body: => Unit): Int = {
    val group = s"jobs-run-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val sc = spark.sparkContext
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count probe")
    try body
    finally {
      sc.clearJobGroup()
      drainListenerBus()
      sc.removeSparkListener(l)
    }
    n.get
  }

  /** Blocks until every event posted so far reached its listeners. */
  protected def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

