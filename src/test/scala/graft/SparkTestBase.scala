package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM). */
object SparkTestBase {
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
  val sf: String = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf

  /** Spark jobs `body` submits, counted by job group so a prior suite's
    * stray job cannot land in the window. Listener delivery is async:
    * wait for `expect` jobs, then a little longer for any extra. */
  protected def jobsOf[T](expect: Int)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "job budget")
      val out = try body finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000L
      while (jobs.get() < expect && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      Thread.sleep(500L)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
