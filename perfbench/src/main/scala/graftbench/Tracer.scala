package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval around one call into the program, or around a
  * group of calls (`parent` is the enclosing span, -1 at the top).
  * `cpuNs` is the CPU time the whole JVM used meanwhile, on all its
  * threads. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
                      wallNs: Long, cpuNs: Long, counters: Map[String, Double]) {
  def wallS: Double = wallNs / 1e9
  def cpuS: Double = cpuNs / 1e9
}

/** What Spark did inside one span. */
final case class SpanStats(jobs: Int, tasks: Int, planMs: Double, driverGapS: Double,
                           execCpuS: Double, shuffleBytes: Long, spillBytes: Long,
                           resultBytes: Long) {
  def +(o: SpanStats): SpanStats = SpanStats(jobs + o.jobs, tasks + o.tasks,
    planMs + o.planMs, driverGapS + o.driverGapS, execCpuS + o.execCpuS,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, resultBytes + o.resultBytes)
}

object SpanStats {
  val zero: SpanStats = SpanStats(0, 0, 0, 0, 0, 0, 0, 0)
}

/** Records spans from the benchmark's single client thread and, when
  * `traced`, what Spark did inside each of them, read from standard
  * hooks only:
  *  - a SparkListener for jobs, tasks, executor CPU, shuffle,
  *    spill and result bytes; each job is attributed to the span whose
  *    id the client thread carried as a local property when the job was
  *    submitted (see `owner` for jobs from the library's own threads);
  *  - a QueryExecutionListener for the analysis, optimization and
  *    planning phases of every query execution (`qe.tracker`), each
  *    attributed to the span open when its analysis started.
  * Untraced, spans are plain wall-clock intervals and Spark carries no
  * listener of the benchmark's. Spans stay in memory until the run
  * ends. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._

  private final class JobRec(val span: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0
    var cpuNs = 0L
    var shuffle = 0L
    var spill = 0L
    var result = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new JobRec(span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffle += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.result += m.resultSize
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  /** Attach numbers measured around a span's call (bytes written, files
    * added, ...), outside the span so that measuring them is not
    * attributed to it. */
  def annotate(s: Span, counters: Map[String, Double]): Span = {
    val i = done.indexWhere(_.id == s.id)
    val updated = s.copy(counters = s.counters ++ counters)
    if (i >= 0) done(i) = updated
    updated
  }

  /** Run `body` inside a span named `name`. */
  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanKey)
    open = id :: open
    sc.setLocalProperty(SpanKey, id.toString)
    val startMs = System.currentTimeMillis()
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    try {
      val a = body
      val wall = System.nanoTime() - t0
      val cpu = processCpuNs() - c0
      val s = Span(id, name, parent, startMs, System.currentTimeMillis(), wall, cpu, Map.empty)
      done += s
      (a, s)
    } finally {
      open = open.tail
      sc.setLocalProperty(SpanKey, outer)
    }
  }

  /** Wait until the listeners have seen every event posted so far. */
  def settle(): Unit = if (traced) org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)

  /** The span a job belongs to: the one whose id it carries, when that
    * span was open at the job's start; otherwise the innermost span open
    * then. A thread the library created earlier carries the id of the
    * span it was created in, which the first rule must not trust. */
  private def owner(j: JobRec): Option[Int] = {
    def openAt(s: Span) = j.startMs >= s.startMs && j.startMs <= s.endMs
    done.find(s => s.id == j.span && openAt(s)).orElse(
      done.filter(openAt).sortBy(-_.startMs).headOption).map(_.id)
  }

  /** Spark's work inside span `s` (zero when untraced). */
  def stats(s: Span): SpanStats = {
    if (!traced) return SpanStats.zero
    val mine = jobs.values.asScala.filter(j => owner(j).contains(s.id)).toSeq
    val intervals = mine.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
    val planMs = plans.asScala.collect {
      case (start, d) if start >= s.startMs && start <= s.endMs => d.toDouble
    }.sum
    val gapS = math.max(0L, Stats.driverGap(s.startMs, s.endMs, intervals)) / 1e3
    mine.foldLeft(SpanStats(0, 0, planMs, gapS, 0, 0, 0, 0)) {
      (acc, j) => j.synchronized {
        acc.copy(jobs = acc.jobs + 1, tasks = acc.tasks + j.tasks,
          execCpuS = acc.execCpuS + j.cpuNs / 1e9,
          shuffleBytes = acc.shuffleBytes + j.shuffle, spillBytes = acc.spillBytes + j.spill,
          resultBytes = acc.resultBytes + j.result)
      }
    }
  }

  def close(): Unit = if (traced) {
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** All spans as JSON lines: name, start, end, parent and counters. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      val c = s.counters.map { case (k, v) => s"\"$k\":$v" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},"cpu_s":${s.cpuS},"counters":{$c}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used so far, all threads together. Unlike
    * wall time it does not grow while the host holds the virtual CPUs
    * back, so it stays steady on a shared machine. */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Bytes written so far through Hadoop's local `file` scheme, JVM-wide.
    * The local scheme counts bytes only; its read, list and write
    * operation counters stay 0, so this is the one counter taken from
    * Hadoop. */
  def localBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)
}
