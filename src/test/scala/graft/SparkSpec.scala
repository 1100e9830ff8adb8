package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise). Config mirrors
  * Verify/Bench: UTC, small shuffle partitions, nanos-as-long for the
  * driver's TIMESTAMP(NANOS) events table. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The number of Spark jobs `body` started on this thread (and threads
    * it spawned). */
  def jobsDuring(body: => Any): Int = jobLabelsDuring(body).size

  /** The job description of each Spark job `body` started on this thread
    * (and threads it spawned), in start order; None for a job without one.
    * Jobs are tagged with a local property, so a job another suite's
    * background thread starts meanwhile is not counted. */
  def jobLabelsDuring(body: => Any): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.jobsDuring") == tag))
          started.add(Option(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobsDuring", tag)
    try {
      body
      org.apache.spark.graft.ListenerBusBridge.drain(sc)
    } finally {
      sc.setLocalProperty("graft.test.jobsDuring", null)
      sc.removeSparkListener(listener)
    }
    started.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // FAIR scheduling so QueryServiceSpec's concurrent-request case runs
    // under the production scheduler shape (the service tags its handler
    // threads with a scheduler pool; under the default FIFO that tag is
    // inert). Sequential suites are unaffected.
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()
}
