package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact Spark job counts for count-based specs. The listener bus is
  * asynchronous; [[settle]] bounds the wait with a marker job, because
  * bus events arrive in order: once the marker's start is delivered,
  * so is every event posted before it. */
object SparkJobs {
  private val MarkerGroup = "graft-spec-job-marker"

  /** True for the marker jobs [[settle]] launches. */
  def isMarker(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == MarkerGroup)

  /** Block until every listener has seen every event posted so far. */
  def settle(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isMarker(e)) seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(MarkerGroup, "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(120, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the number of Spark jobs it launched, from
    * any thread. */
  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    settle(spark)
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isMarker(e)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      settle(spark)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
