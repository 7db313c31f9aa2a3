package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options of one run. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, cores: Int, expected: String, record: Boolean,
                      data: String)

/** What a workload hands back: ops attempted and failed (a failed
  * output check counts as a failed op), metric values by name, and a
  * detail object for humans. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, String]
  val problems = mutable.ArrayBuffer.empty[String]

  /** Count one op; `problem` is None when it succeeded. */
  def op(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (problems.size < 20) problems += p
    }
  }
}

/** Closed-loop benchmark of graft: one client thread, Spark at
  * local[cores], a warm pass before timing. Prints a detail line and
  * then, as the last stdout line, the result object. */
object Main {
  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("work"), m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m("expected"), m.getOrElse("record", "0") == "1", m("data"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.configure(spark)
    spark
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def resultLine(out: Outcome, names: Seq[String]): String = {
    val ms = names.map(n => s"${quote(n)}: {\"value\": ${num(out.metrics.getOrElse(n, 0.0))}, " +
      s"\"unit\": ${quote(Metrics.units(n))}}").mkString(", ")
    s"""{"correct": ${out.failed == 0}, "attempted": ${math.max(1, out.attempted)}, "failed": ${out.failed}, "metrics": {$ms}}"""
  }

  /** Seconds since this JVM started. */
  def sinceStart(): Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    val spark = session(o)
    if (o.workload == "tables") {
      try SuiteWorkload.writeTables(spark, o) finally spark.stop()
      return
    }
    val out = new Outcome
    out.detail("session_ready_s") = sinceStart().toString
    try {
      o.workload match {
        case "suite" => SuiteWorkload.run(spark, o, out)
        case "library" => LibraryWorkload.run(spark, o, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    val names = (if (o.trace) Metrics.perLayer else Metrics.endToEnd).map(_.name)
    val detail = (Seq("workload" -> quote(o.workload), "seed" -> o.seed.toString,
      "cores" -> o.cores.toString, "trace" -> o.trace.toString,
      "problems" -> out.problems.map(quote).mkString("[", ", ", "]")) ++ out.detail)
      .map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}")
    println(s"""{"detail": $detail}""")
    println(resultLine(out, names))
  }
}
