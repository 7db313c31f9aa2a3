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

  /** `body`'s result and the physical plan of every SQL execution it
    * started, in start order. */
  def plans[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    settle(spark)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart => seen.add(s.physicalPlanDescription)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      settle(spark)
      (a, seen.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the query executions its actions ran, in
    * completion order: a search that collects inside (a local result
    * frame) executed its scans there, not in the frame it returns. */
  def executions[A](spark: SparkSession)(body: => A)
      : (A, Seq[org.apache.spark.sql.execution.QueryExecution]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    settle(spark)
    spark.listenerManager.register(listener)
    try {
      val a = body
      settle(spark)
      (a, seen.toArray(Array.empty[QueryExecution]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The one-job form of a two-phase single search: the only plan that
    * scans is phase 1, a TakeOrderedAndProject whose scan reads the
    * float column `vecCol`, pushes no `idCol` filter and keeps the
    * partition pruning on `prunedBy`; the result is a local relation.
    * Returns the result's rows. */
  def assertOneJobSearch(spark: SparkSession)(search: => org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, prunedBy: Option[String] = None)
      : Array[org.apache.spark.sql.Row] = {
    val ((frame, rows), executed) = plans(spark) {
      val f = search
      (f, f.collect())
    }
    val scans = executed.filter(_.contains("ReadSchema"))
    assert(scans.size == 1, s"expected one scanning plan, got:\n${scans.mkString("\n---\n")}")
    assert(scans.head.contains("TakeOrderedAndProject"),
      s"phase 1 is not a TakeOrderedAndProject:\n${scans.head}")
    val readSchema = scans.head.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchema.contains(vecCol), s"phase 1 does not carry $vecCol:\n${scans.head}")
    assert(!scans.head.contains(s"In($idCol"),
      s"the one-job form pushed an id filter:\n${scans.head}")
    prunedBy.foreach(p => assert(
      scans.head.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains(p)),
      s"phase 1 lost the $p partition pruning:\n${scans.head}"))
    assert(frame.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"the result is not a local relation:\n${frame.queryExecution.optimizedPlan}")
    rows
  }
}
