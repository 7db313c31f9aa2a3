package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `suite`: the timed subset of `SparkEntry.queries` over generated
  * tables at sf0.1 row counts, each query forced to full evaluation
  * through Spark's `noop` sink. The tables come from a fixed data seed,
  * so every query's expected row count and content hash can be kept in
  * `expected/suite.tsv`; the run's seed decides the order in which each
  * pass visits the queries.
  *
  * A run reads the tables (written once per build, see
  * [[writeTables]]), makes a warm pass (set-up: every query's first
  * call, through the same `noop` sink), checks every query's output in
  * a separate untimed evaluation, then makes timed passes until the
  * time budget is spent. */
object SuiteWorkload {
  val DataSeed = 20240601L
  /** Timed passes a run makes at least, so that every query's median
    * has as many samples in every run. */
  val MinPasses = 3

  def expectedFile(o: Opts) = Paths.get(o.expected, "suite.tsv")

  def readExpected(o: Opts): Map[String, (Long, String)] =
    if (!Files.exists(expectedFile(o))) Map.empty
    else Files.readAllLines(expectedFile(o)).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  /** Row-count and hash problems of one query's output; None when it
    * matches the expected values. */
  def check(name: String, got: (Long, String), expected: Map[String, (Long, String)]): Option[String] =
    expected.get(name) match {
      case None => Some(s"$name: no expected values")
      case Some(e) if e != got => Some(s"$name: got rows=${got._1} hash=${got._2}, expected rows=${e._1} hash=${e._2}")
      case _ => None
    }

  private def complete(o: Opts) = Paths.get(o.data, "_complete")

  /** Write the tables into `o.data` unless they are there. They depend
    * on DataSeed and the generator only, so the runs of one build share
    * them. `run.py` calls this in a JVM of its own, so that no timed run
    * starts with a JVM the generator has warmed up. */
  def writeTables(spark: SparkSession, o: Opts): Unit =
    if (!Files.exists(complete(o))) {
      DataGen.write(spark, DataSeed, o.data)
      Files.writeString(complete(o), "")
    }

  def run(spark: SparkSession, o: Opts, out: Outcome): Unit = {
    require(Files.exists(complete(o)), s"no generated tables in ${o.data}")
    val rng = new java.util.Random(o.seed)
    val dir = o.data

    val names = if (o.record) graft.SparkEntry.queries.keys.toSeq.sorted else Families.timed
    def shuffled = { val a = names.toArray; java.util.Collections.shuffle(java.util.Arrays.asList(a: _*), rng); a.toSeq }
    def noop(n: String): Unit =
      graft.SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
    val failed = scala.collection.mutable.Set.empty[String]
    /** One timed call of query `n`; None when it threw. */
    def call(tracer: Tracer, n: String): Option[Span] = {
      val r = try Some(tracer.span(s"query:$n")(noop(n))._2)
        catch { case e: Exception =>
          out.op(Some(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}")); failed += n; None }
      graft.GraftFunctions.releasePins()
      r.foreach(_ => out.op(None))
      r
    }

    // Set-up: the warm pass pays every query's first-use cost (code
    // generation, JIT, the indexes some queries build once per session).
    // It runs in a fixed order: the first query also pays Spark's own
    // first-job cost, and a seeded order moved that between queries.
    val plain = new Tracer(spark, traced = false)
    val warm = if (o.record) Nil else names.flatMap(n => call(plain, n).map(n -> _))
    out.metrics("setup_s") = warm.map(_._2.wallS).sum
    out.detail("warm_s") = warm.map { case (n, s) => s"\"$n\": ${s.wallS}" }.mkString("{", ", ", "}")

    // Output checks, each in its own untimed evaluation.
    val c0 = System.nanoTime()
    val expected = readExpected(o)
    val hashes = names.filterNot(failed).map { n =>
      val got = try Right(Checks.contentHash(graft.SparkEntry.queries(n)(spark, dir)))
        catch { case e: Exception => Left(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      graft.GraftFunctions.releasePins()
      out.op(got.fold(Some(_), h => if (o.record) None else check(n, h, expected)))
      if (got.isLeft) failed += n
      n -> got
    }
    out.detail("checks_s") = ((System.nanoTime() - c0) / 1e9).toString
    if (o.record) {
      val lines = hashes.sortBy(_._1).collect { case (n, Right((rows, h))) => s"$n\t$rows\t$h" }
      Files.writeString(expectedFile(o), ("# query\trows\thash (see SuiteWorkload)" +: lines)
        .mkString("", "\n", "\n"))
      return
    }

    def pass(tracer: Tracer): Seq[(String, Span)] =
      shuffled.filterNot(failed).flatMap(n => call(tracer, n).map(n -> _))
    val budgetNs = (if (o.trace) o.seconds / 2.0 else o.seconds.toDouble) * 1e9
    val t1 = System.nanoTime()
    val made = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Span)]]
    // whole passes until the budget is spent, at least MinPasses
    do made += pass(plain)
    while (System.nanoTime() - t1 < budgetNs || made.size < MinPasses)
    val passes = made.toSeq
    plain.writeSpans(Paths.get(o.work, "..", "spans-suite.jsonl"))
    val byQuery = passes.flatten.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    val wallMedian = byQuery.map { case (n, xs) => n -> Stats.median(xs.map(_.wallS)) }
    out.metrics("work_s") = wallMedian.values.sum
    out.metrics("work_cpu_s") = byQuery.values.map(xs => Stats.median(xs.map(_.cpuS))).sum
    out.metrics("call_ms") = Stats.geoMean(wallMedian.values.toSeq) * 1e3
    out.detail("passes") = passes.size.toString
    out.detail("query_ms") = byQuery.toSeq.sortBy(_._1).map { case (n, xs) =>
      val (q1, q2, q3) = Stats.quartiles(xs.map(_.wallS * 1e3))
      s"\"$n\": {\"samples\": ${xs.size}, \"quartiles\": [$q1, $q2, $q3]}"
    }.mkString("{", ", ", "}")
    Families.all.foreach { f =>
      out.detail(s"${f}_s") = wallMedian.collect { case (n, w) if Families.byQuery(n) == f => w }.sum.toString
    }

    if (o.trace) {
      val tracer = new Tracer(spark, traced = true)
      val traced = pass(tracer)
      tracer.settle()
      val untracedPass = passes.map(_.map(_._2.wallS).sum)
      val tracedPass = traced.map(_._2.wallS).sum
      out.metrics("trace.overhead_pct") = (tracedPass / Stats.median(untracedPass) - 1) * 100
      val st = traced.map { case (n, s) => n -> (s, tracer.stats(s)) }
      Families.all.foreach { f =>
        val mine = st.filter { case (n, _) => Families.byQuery(n) == f }
        val sum = mine.map(_._2._2).foldLeft(SpanStats.zero)(_ + _)
        out.metrics(s"suite.$f.wall_s") = mine.map(_._2._1.wallS).sum
        out.metrics(s"suite.$f.jobs") = sum.jobs
        out.metrics(s"suite.$f.tasks") = sum.tasks
        out.metrics(s"suite.$f.plan_ms") = sum.planMs
        out.metrics(s"suite.$f.driver_gap_s") = sum.driverGapS
        out.metrics(s"suite.$f.exec_cpu_s") = sum.execCpuS
        out.metrics(s"suite.$f.shuffle_bytes") = sum.shuffleBytes.toDouble
        out.metrics(s"suite.$f.spill_bytes") = sum.spillBytes.toDouble
        out.metrics(s"suite.$f.result_bytes") = sum.resultBytes.toDouble
      }
      Families.traced.foreach { q =>
        st.find(_._1 == q).foreach { case (_, (s, x)) =>
          out.metrics(s"query.$q.wall_s") = s.wallS
          out.metrics(s"query.$q.jobs") = x.jobs
          out.metrics(s"query.$q.driver_gap_s") = x.driverGapS
        }
      }
      tracer.writeSpans(Paths.get(o.work, "..", "spans-suite.jsonl"))
      tracer.close()
    }
  }
}
