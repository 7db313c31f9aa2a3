package graftbench

/** Every metric the benchmark reports, by name and unit. A run prints
  * all end-to-end metrics (`--trace 0`) or all per-layer metrics
  * (`--trace 1`); a per-layer metric of a layer the workload does not
  * call reads 0. BENCHMARK.json lists the same names and units. */
object Metrics {
  final case class M(name: String, unit: String)

  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s"),
    M("work_s", "s"),
    M("work_cpu_s", "s"),
    M("call_ms", "ms"))

  val Algorithms: Seq[String] = Seq("flat", "lsh", "grid", "ivf", "quantized", "binary", "pq", "ivfpq")
  val ChurnOps: Seq[String] = Seq("add", "delete", "compact")
  val Builds: Seq[String] = Seq("lsh", "grid", "ivf", "pq", "ivfpq")

  val perLayer: Seq[M] =
    Families.all.flatMap(f => Seq(
      M(s"suite.$f.wall_s", "s"), M(s"suite.$f.jobs", "count"), M(s"suite.$f.tasks", "count"),
      M(s"suite.$f.plan_ms", "ms"), M(s"suite.$f.driver_gap_s", "s"),
      M(s"suite.$f.exec_cpu_s", "s"), M(s"suite.$f.shuffle_bytes", "bytes"),
      M(s"suite.$f.spill_bytes", "bytes"), M(s"suite.$f.result_bytes", "bytes"))) ++
    Families.traced.flatMap(q => Seq(
      M(s"query.$q.wall_s", "s"), M(s"query.$q.jobs", "count"),
      M(s"query.$q.driver_gap_s", "s"))) ++
    Algorithms.flatMap(a => Seq(
      M(s"search.$a.p50_ms", "ms"), M(s"search.$a.jobs", "count"),
      M(s"search.$a.plan_ms", "ms"), M(s"search.$a.driver_gap_ms", "ms")) ++
      (if (a == "flat") Nil else Seq(M(s"search.$a.recall_at_10", "ratio"))) ++
      Seq(M(s"batch.$a.ms_per_query", "ms"), M(s"batch.$a.jobs", "count"))) ++
    ChurnOps.flatMap(o => Seq(
      M(s"churn.$o.wall_s", "s"), M(s"churn.$o.jobs", "count"),
      M(s"churn.$o.exec_cpu_s", "s"), M(s"churn.$o.driver_gap_s", "s"), M(s"churn.$o.bytes_written", "bytes"),
      M(s"churn.$o.files_added", "count"), M(s"churn.$o.generations", "count"))) ++
    Seq(M("churn.search.p50_ms", "ms"), M("churn.search.jobs", "count"),
      M("churn.stored_bytes_per_user_byte", "ratio")) ++
    Seq(M("setup.ingest_s", "s")) ++ Builds.map(b => M(s"setup.build.${b}_s", "s")) ++
    Seq(M("trace.overhead_pct", "%"))

  lazy val units: Map[String, String] = (endToEnd ++ perLayer).map(m => m.name -> m.unit).toMap
}
