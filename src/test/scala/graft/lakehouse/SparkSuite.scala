package graft.lakehouse

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (JVM-wide — Spark
  * sessions are expensive; getOrCreate dedupes). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts, counted by job group (threads the body
    * spawns inherit the group), after the listener bus has caught up. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsOf", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      Thread.sleep(300) // job-start events reach listeners asynchronously
      n.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
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
}
