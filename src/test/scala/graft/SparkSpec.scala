package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for suites (one per suite, lazily). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Number of Spark jobs started while `body` runs. */
  def countJobs(body: => Unit): Int = countJobsAndStages(body)._1

  /** (jobs started, stages submitted) while `body` runs; a stage whose
    * shuffle output is reused is skipped, not submitted. */
  def countJobsAndStages(body: => Unit): (Int, Int) = {
    val (jobs, stages) = (new AtomicInteger(0), new AtomicInteger(0))
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = stages.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener bus is async; poll until the counters are stable
      var last = (-1, -1)
      while ((jobs.get(), stages.get()) != last) { last = (jobs.get(), stages.get()); Thread.sleep(200) }
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs.get(), stages.get())
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
