package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import Checks.Hit

/** `library`: one `VectorLibrary` built during set-up with all five
  * persisted layouts, then two phases on it.
  *
  *  - serve: a read-only loop. One block per algorithm (seeded order)
  *    of single searches (k=10, cosine, the first filtered on `source`).
  *    Query texts are drawn from the corpus vocabulary. Nothing
  *    commits.
  *  - churn: rounds of `addDocuments` (new doc ids) → search →
  *    `deleteDocuments` (a seeded subset of live documents) → search →
  *    `compactIndexes`. Every commit invalidates what serve keeps warm.
  *
  * With `--trace 1` a traced serve pass follows the untraced ones,
  * before churn, so both see the same library; each of its blocks ends
  * with a `searchBatch` of 16 queries. Churn is then one traced round,
  * the first, as in untraced runs. Batches run in traced runs only: at
  * 4 cores a warm and a timed batch per algorithm added about 11 s to a
  * run, more than the run-time budget of all runs together leaves.
  *
  * Checks, all outside the timed calls: the layouts exist before
  * timing; `flat` equals a brute-force top-10 over the collected store
  * up to score ties; every other algorithm returns at most k live,
  * filter-satisfying chunks with their true scores in score order
  * (and its recall against the exact answer is recorded); after every
  * mutation the store holds exactly the expected chunks. */
object LibraryWorkload {
  /** Documents ingested in set-up. Set-up cost is mostly per-job and
    * per-file, not per-row: at 4 cores it took 34 s at 150 documents
    * and 29 s at 24. */
  val CorpusDocs = 24
  val K = 10
  /** Single searches per algorithm in a serve pass, the first of them
    * filtered: a quarter of the calls, as in the serving mix the
    * workload models. */
  val SinglesPerAlgorithm = 4
  val BatchSize = 16
  /** A churn round makes `WritesPerRound` adds of `AddDocs` documents,
    * then as many deletes of `DeleteDocs`. Each write costs about 4 s at
    * 4 cores, most of it per-job cost; one of each is all a run's time
    * budget has room for. */
  val WritesPerRound = 1
  val AddDocs = 5
  val DeleteDocs = 3
  val Window = 32
  /** PQ subspaces of the pq and ivfpq layouts (2 of 32 dimensions each)
    * and coarse centroids of the ivf and ivfpq layouts. The builds fit
    * one k-means per subspace in turn; at the defaults (8 subspaces, 16
    * centroids) set-up alone took most of a run's time budget. */
  val PqSubspaces = 2
  val Centroids = 8

  final case class Stored(vec: Array[Float], source: String, docId: Long)

  /** Chunks a document yields at ingest: one per window of words. */
  def chunksOf(d: DataGen.Doc): Int = (d.text.split(" ").count(_.nonEmpty) + Window - 1) / Window

  def run(spark: SparkSession, o: Opts, out: Outcome): Unit = {
    val r = new SplittableRandom(o.seed)
    val root = s"${o.work}/library"
    val lib = new graft.VectorLibrary(spark, root, "bench")
    val corpus = DataGen.documents(r.nextLong(), CorpusDocs)
    val live = mutable.LinkedHashMap(corpus.map(d => d.docId -> d): _*)

    // ---- set-up ---------------------------------------------------------
    def seconds(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val steps = Seq[(String, () => Unit)](
      "setup.ingest_s" -> (() => lib.addDocuments(DataGen.documentsFrame(spark, corpus))),
      "setup.build.lsh_s" -> (() => lib.buildPartitionedIndex()),
      "setup.build.grid_s" -> (() => lib.buildGridIndex()),
      "setup.build.ivf_s" -> (() => lib.buildIvfIndex(Centroids)),
      "setup.build.pq_s" -> (() => lib.buildPqIndex(m = PqSubspaces)),
      "setup.build.ivfpq_s" -> (() => lib.buildIvfPqIndex(Centroids, m = PqSubspaces)))
    val setup = steps.map { case (n, f) => n -> seconds(f()) }
    out.metrics("setup_s") = setup.map(_._2).sum
    out.detail("setup_steps_s") = setup.map { case (n, t) => s"\"$n\": $t" }.mkString("{", ", ", "}")
    if (o.trace) setup.foreach { case (n, t) => out.metrics(n) = t }
    Seq("lsh" -> lib.hasPartitionedIndex, "grid" -> lib.hasGridIndex, "ivf" -> lib.hasIvfIndex,
      "pq" -> lib.hasPqIndex, "ivfpq" -> lib.hasIvfPqIndex).foreach { case (n, ok) =>
      out.op(if (ok) None else Some(s"the $n layout is missing after set-up"))
    }

    // ---- the state the checks compare against ---------------------------
    def vec(v: Any): Array[Float] = v match {
      case s: scala.collection.Seq[_] => s.map {
        case f: Float => f
        case d: Double => d.toFloat
      }.toArray
    }
    def snapshot(): Map[String, Stored] =
      lib.chunks.select("chunk_id", "embedding", "source", "doc_id").collect()
        .map(row => row.getString(0) -> Stored(vec(row.get(1)), row.getString(2), row.getLong(3))).toMap
    var store = snapshot()
    val deleted = mutable.Set.empty[String]

    val pool = Vector.fill(48)(DataGen.words(r, 2 + r.nextInt(5))).distinct
    val qvec: Map[String, Array[Float]] = {
      import spark.implicits._
      val embedder = new graft.DeterministicEmbedder(64, 42L)
      pool.toDF("t").select(col("t"), embedder.embed(col("t"), "search_query")).collect()
        .map(row => row.getString(0) -> vec(row.get(1))).toMap
    }
    val exactMemo = mutable.Map.empty[(String, Option[String]), Seq[Hit]]
    def searchable(src: Option[String]): Map[String, Array[Float]] =
      store.collect { case (id, s) if src.forall(_ == s.source) => id -> s.vec }
    def exact(text: String, src: Option[String]): Seq[Hit] =
      exactMemo.getOrElseUpdate((text, src),
        Checks.exactTopK(searchable(src).toSeq, qvec(text), K))

    val recalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def hitsOf(rows: Seq[Row]): Seq[Hit] =
      rows.map(x => Hit(x.getAs[String]("chunk_id"), x.getAs[Number]("score").doubleValue))
    def checkHits(a: String, text: String, src: Option[String], hits: Seq[Hit]): Option[String] = {
      val ex = exact(text, src)
      val bad =
        if (a == "flat") (if (Checks.sameTopK(hits, ex)) Nil else Seq("differs from the exact top-10"))
        else Checks.validApprox(hits, K, searchable(src), qvec(text))
      if (a != "flat") recalls.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += Checks.recall(hits, ex)
      if (bad.isEmpty) None
      else Some(s"$a search '$text'${src.fold("")(s => s" source=$s")}: ${bad.mkString("; ")}")
    }

    // ---- serve ----------------------------------------------------------
    def shuffled[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
    def single(tracer: Tracer, a: String, filtered: Boolean, kind: String): Option[Span] = {
      val text = pool(r.nextInt(pool.size))
      val src = if (filtered) Some(s"src${r.nextInt(20)}") else None
      try {
        val (rows, s) = tracer.span(s"$kind:$a") {
          lib.search(text, K, "cosine", src.map(v => col("source") === v)).collect()
        }
        out.op(checkHits(a, text, src, hitsOf(rows.toSeq)))
        Some(s)
      } catch { case e: Exception => out.op(Some(s"$a search: $e")); None }
    }
    def batch(tracer: Tracer, a: String): Option[Span] = {
      val texts = Vector.fill(BatchSize)(pool(r.nextInt(pool.size)))
      try {
        val (rows, s) = tracer.span(s"batch:$a")(lib.searchBatch(texts, K).collect())
        val byQuery = rows.toSeq.groupBy(_.getAs[Number]("query_id").intValue)
        val bad = texts.indices.flatMap { i =>
          val hits = hitsOf(byQuery.getOrElse(i, Nil).sortBy(_.getAs[Number]("rank").intValue))
          checkHits(a, texts(i), None, hits)
        }
        out.op(bad.headOption.map(p => s"batch: $p"))
        Some(s)
      } catch { case e: Exception => out.op(Some(s"$a batch: $e")); None }
    }
    // one in SinglesPerAlgorithm single searches is filtered, the first
    def servePass(tracer: Tracer, singles: Int, batches: Boolean): Seq[Span] =
      shuffled(Metrics.Algorithms).flatMap { a =>
        lib.setAlgorithm(a)
        (0 until singles).flatMap(i => single(tracer, a, filtered = i == 0, "search")) ++
          (if (batches) batch(tracer, a) else None)
      }

    val plain = new Tracer(spark, traced = false)
    val w0 = System.nanoTime()
    // warm pass: first use of every path the run times (a filtered and
    // an unfiltered search per algorithm), checked like the rest
    servePass(plain, 2, batches = o.trace)
    out.detail("serve_warm_s") = ((System.nanoTime() - w0) / 1e9).toString
    // serve and churn each get half of the run's time budget, and each
    // makes at least one whole pass or round
    val budgetNs = o.seconds / 2.0 * 1e9
    val served = mutable.ArrayBuffer.empty[Span]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    do {
      val p = servePass(plain, SinglesPerAlgorithm, batches = false)
      served ++= p
      passWalls += p.map(_.wallS).sum
    } while (System.nanoTime() - t0 < budgetNs)
    val serveS = (System.nanoTime() - t0) / 1e9
    // the traced serve pass sees the same library as the untraced ones
    val tracer = new Tracer(spark, traced = o.trace)
    val servedT = if (o.trace) servePass(tracer, SinglesPerAlgorithm, batches = true) else Nil

    // ---- churn ----------------------------------------------------------
    val storedChunks = () => live.values.map(chunksOf).sum
    def fileSet(): Set[Path] =
      if (!Files.exists(Paths.get(root))) Set.empty
      else Files.walk(Paths.get(root)).iterator().asScala.filter(Files.isRegularFile(_)).toSet
    def generations(): Double =
      lib.manifestInfo.collect().map(_.getAs[Long]("generation")).filter(_ >= 0).sum.toDouble
    def verifyStore(what: String): Option[String] = {
      store = snapshot()
      exactMemo.clear()
      val want = storedChunks()
      val ghosts = store.keySet.intersect(deleted)
      if (store.size != want) Some(s"after $what the store holds ${store.size} chunks, expected $want")
      else if (ghosts.nonEmpty) Some(s"after $what deleted chunks are still stored: ${ghosts.take(3)}")
      else None
    }
    def mutation(tracer: Tracer, kind: String, committed: () => Unit)(body: => Unit): Option[Span] = {
      val before = if (tracer.traced) Some((Tracer.localBytesWritten(), fileSet(), generations())) else None
      try {
        val (_, s) = tracer.span(kind)(body)
        committed()
        val problem = verifyStore(kind)
        out.op(problem)
        Some(before.fold(s) { case (b0, f0, g0) =>
          tracer.annotate(s, Map("bytes_written" -> (Tracer.localBytesWritten() - b0).toDouble,
            "files_added" -> (fileSet() -- f0).size.toDouble, "generations" -> (generations() - g0)))
        })
      } catch { case e: Exception => out.op(Some(s"$kind: $e")); None }
    }
    var round = 0
    var churnSearches = 0
    def churnRound(tracer: Tracer): Seq[Span] = {
      round += 1
      val calls = mutable.ArrayBuffer.empty[Span]
      // a search right after a commit, the algorithm rotating
      def searchAfterCommit(): Unit = {
        val a = Metrics.Algorithms(churnSearches % Metrics.Algorithms.size)
        churnSearches += 1
        lib.setAlgorithm(a)
        calls ++= single(tracer, a, filtered = false, "churn-search")
      }
      (0 until WritesPerRound).foreach { i =>
        val added = DataGen.documents(r.nextLong(), AddDocs, firstId = 1000000L * round + 1000L * i)
        val addedDf = DataGen.documentsFrame(spark, added)
        calls ++= mutation(tracer, "add", () => live ++= added.map(d => d.docId -> d)) {
          lib.addDocuments(addedDf)
        }
      }
      searchAfterCommit()
      (0 until WritesPerRound).foreach { _ =>
        val victims = shuffled(live.keys.toSeq).take(DeleteDocs)
        val victimSet = victims.toSet
        val victimChunks = store.collect { case (id, s) if victimSet(s.docId) => id }
        calls ++= mutation(tracer, "delete", () => { deleted ++= victimChunks; live --= victims }) {
          lib.deleteDocuments(col("doc_id").isin(victims: _*))
        }
      }
      searchAfterCommit()
      calls ++= mutation(tracer, "compact", () => ())(lib.compactIndexes())
      calls.toSeq
    }

    // Traced, one round: the per-layer figures come from the same first
    // round that untraced runs time.
    val churned = mutable.ArrayBuffer.empty[Span]
    val t1 = System.nanoTime()
    val churnedT = if (o.trace) churnRound(tracer) else Nil
    if (!o.trace) do churned ++= churnRound(plain) while (System.nanoTime() - t1 < budgetNs)
    out.detail("serve_s") = serveS.toString
    out.detail("churn_s") = ((System.nanoTime() - t1) / 1e9).toString
    out.detail("churn_rounds") = round.toString

    // ---- end-to-end metrics ---------------------------------------------
    val singlesMs = served.filter(_.name.startsWith("search:")).map(_.wallS * 1e3).toSeq
    val kinds = (served ++ churned).groupBy(c => if (c.name.startsWith("churn-search")) "churn-search" else c.name)
    out.metrics("work_s") = kinds.values.map(cs => Stats.median(cs.map(_.wallS).toSeq)).sum
    out.metrics("work_cpu_s") = kinds.values.map(cs => Stats.median(cs.map(_.cpuS).toSeq)).sum
    out.metrics("call_ms") = Stats.geoMean(Metrics.Algorithms.flatMap { a =>
      val ms = served.filter(_.name == s"search:$a").map(_.wallS * 1e3).toSeq
      if (ms.isEmpty) None else Some(Stats.median(ms))
    })
    val tailP = Stats.tailPercentile(singlesMs.size)
    val (q1, q2, q3) = Stats.quartiles(singlesMs)
    out.detail("search_samples") = singlesMs.size.toString
    out.detail("search_ms_quartiles") = s"[$q1, $q2, $q3]"
    out.detail("search_tail") = s"{\"percentile\": $tailP, \"ms\": ${Stats.percentile(singlesMs, tailP)}}"
    out.detail("serve_passes") = passWalls.size.toString
    out.detail("kind_median_s") = kinds.toSeq.sortBy(_._1).map { case (k, cs) =>
      s"\"$k\": ${Stats.median(cs.map(_.wallS).toSeq)}" }.mkString("{", ", ", "}")

    // ---- traced pass: per-layer metrics -----------------------------------
    if (o.trace) {
      tracer.settle()
      out.metrics("trace.overhead_pct") =
        (servedT.filter(_.name.startsWith("search:")).map(_.wallS).sum /
          Stats.median(passWalls.toSeq) - 1) * 100
      def of(name: String) = (servedT ++ churnedT).filter(_.name == name)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Metrics.Algorithms.foreach { a =>
        val s = of(s"search:$a").map(c => (c, tracer.stats(c)))
        if (s.nonEmpty) {
          out.metrics(s"search.$a.p50_ms") = Stats.median(s.map(_._1.wallS * 1e3))
          out.metrics(s"search.$a.jobs") = mean(s.map(_._2.jobs.toDouble))
          out.metrics(s"search.$a.plan_ms") = mean(s.map(_._2.planMs))
          out.metrics(s"search.$a.driver_gap_ms") = mean(s.map(_._2.driverGapS * 1e3))
        }
        recalls.get(a).foreach(xs => out.metrics(s"search.$a.recall_at_10") = mean(xs.toSeq))
        val b = of(s"batch:$a").map(c => (c, tracer.stats(c)))
        if (b.nonEmpty) {
          out.metrics(s"batch.$a.ms_per_query") = Stats.median(b.map(_._1.wallS * 1e3)) / BatchSize
          out.metrics(s"batch.$a.jobs") = mean(b.map(_._2.jobs.toDouble))
        }
      }
      Metrics.ChurnOps.foreach { op =>
        val cs = of(op)
        if (cs.nonEmpty) {
          out.metrics(s"churn.$op.wall_s") = Stats.median(cs.map(_.wallS))
          out.metrics(s"churn.$op.jobs") = mean(cs.map(c => tracer.stats(c).jobs.toDouble))
          out.metrics(s"churn.$op.exec_cpu_s") = mean(cs.map(c => tracer.stats(c).execCpuS))
          out.metrics(s"churn.$op.driver_gap_s") = mean(cs.map(c => tracer.stats(c).driverGapS))
          Seq("bytes_written", "files_added", "generations").foreach { k =>
            out.metrics(s"churn.$op.$k") = mean(cs.map(_.counters.getOrElse(k, 0.0)))
          }
        }
      }
      val cs = churnedT.filter(_.name.startsWith("churn-search"))
      if (cs.nonEmpty) {
        out.metrics("churn.search.p50_ms") = Stats.median(cs.map(_.wallS * 1e3))
        out.metrics("churn.search.jobs") = mean(cs.map(c => tracer.stats(c).jobs.toDouble))
      }
      val storedBytes = fileSet().toSeq.map(Files.size).sum
      val userBytes = live.values.map(_.text.getBytes("UTF-8").length.toLong).sum
      out.metrics("churn.stored_bytes_per_user_byte") = storedBytes.toDouble / userBytes
    }
    (if (o.trace) tracer else plain).writeSpans(Paths.get(o.work, "..", "spans-library.jsonl"))
    tracer.close()
  }
}
