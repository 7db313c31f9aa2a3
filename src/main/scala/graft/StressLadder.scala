package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scale ladder for the PARTITIONED serving paths: IVF-PQ (cluster
 * dirs, codes-only phase 1), bucket-partitioned LSH (the
 * VectorLibrary index layout), and the binary store probe — measured
 * at 4M and 16M vectors in ONE run, with a flatness assertion.
 *
 * The builds follow the 100 TB discipline end to end:
 *  - geometry (coarse centroids + residual codebooks) fits on a
 *    bounded SAMPLE — constant cost in corpus size; the cell count
 *    scales ~sqrt(n) (the classic inverted-file rule, measured in
 *    round 5: fixed 64 cells re-grow linearly at 16M, 256 restore
 *    flat);
 *  - the FULL corpus encodes map-side under the frozen geometry and
 *    lands in one partitioned write (the streaming-append path);
 *  - the LSH index is the exact library layout: rows exploded per
 *    (tbl, bucket), embeddings duplicated numTables times (the
 *    classic LSH space/time trade).
 *
 * What must hold as the corpus quadruples: the PRUNED probes (ivfpq,
 * partitioned lsh) stay FLAT — I/O tracks the probed cells/buckets,
 * never the corpus — while the full scans (binary phase 1 at 8
 * bytes/row, flat float scan) grow linearly. Flatness requires the
 * PARTITION COUNT to scale with the corpus on BOTH layouts: cells
 * ~sqrt(n) for IVF (the inverted-file rule) and bucket bits with
 * log2(n) for LSH — at fixed 8-bit buckets a probe reads a constant
 * ~1.2% FRACTION of the index (24 of 2048 directories), which is
 * linear growth (measured x2.8 at 4M -> 16M before the bits step
 * 8 -> 10 restored flat). At 100 TB both are ingest-time knobs, not
 * code changes. The run ASSERTS the pruned probes grow < 2x across
 * the 4x corpus step and exits non-zero otherwise.
 *
 * Run: `sbt "runMain graft.StressLadder"` (4M then 16M; ~25 min), or
 *      `sbt "runMain graft.StressLadder 2000 64 8"` for one rung.
 */
object StressLadder {

  private case class Rung(n: Long, results: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)

    val rungs: Seq[(Int, Int, Int)] =
      if (args.nonEmpty)
        Seq((args(0).toInt,
          if (args.length > 1) args(1).toInt else 64,
          if (args.length > 2) args(2).toInt else 8))
      else Seq((2000, 64, 8), (8000, 256, 10))
    val measured = rungs.map { case (copies, nCells, lshBits) =>
      rung(spark, copies, nCells, lshBits) }

    if (measured.length >= 2) {
      val lo = measured.head; val hi = measured.last
      val growth = hi.n.toDouble / lo.n
      for (name <- Seq("ivfpq_probe", "ivfpq_batch16", "lsh_partitioned_probe")) {
        val ratio = hi.results(name) / math.max(lo.results(name), 1e-9)
        println(f"[ladder] FLATNESS $name: ${lo.results(name)}%.2fs -> " +
          f"${hi.results(name)}%.2fs (x$ratio%.2f over x$growth%.1f corpus)")
        assert(ratio < 2.0,
          f"$name grew x$ratio%.2f across a x$growth%.1f corpus step — pruned probe not flat")
      }
      val scanRatio = hi.results("knn_flat") / math.max(lo.results("knn_flat"), 1e-9)
      println(f"[ladder] reference full scan grew x$scanRatio%.2f (expected ~x$growth%.1f)")
    }
    spark.stop()
  }

  private def rung(spark: SparkSession, copies: Int, nCells: Int,
                   lshBits: Int): Rung = {
    import graft.GraftFunctions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ladder").toString
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    base.crossJoin(spark.range(copies))
      .select((col("id") * 1000000 + col("vec_id")).as("vec_id"), col("embedding"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/vectors")
    val corpus = spark.read.parquet(s"$tmp/vectors")
    val n = corpus.count()
    println(s"[ladder] ===== rung: $n vectors x 64 dims, $nCells cells, $lshBits lsh bits =====")

    val results = scala.collection.mutable.Map[String, Double]()
    def time(name: String)(body: => Long): Unit = {
      body // warmup
      val best = (1 to 2).map { _ =>
        val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
      }.min
      results(name) = best
      println(f"[ladder] $name: $best%.2fs")
    }

    // --- IVF-PQ: sample fit, fast bulk encode, partitioned write -----
    // One coarse fit serves the books fit AND the bulk encode; the
    // corpus encodes through encodeFast (native model assignment — the
    // interpreted exact fold is the library's oracle path, not the
    // backfill path; at 16M x 256 cells it was a ~2h stage).
    val t0 = System.nanoTime()
    val sample = corpus.sample(math.min(1.0, 500000.0 / n), 42L)
    val (model, _) = operators.IvfIndex.build(sample, "embedding", nCells)
    val geo = operators.IvfPq.trainFrom(model, sample, "embedding")
    println(f"[ladder] geometry fit (bounded sample): ${(System.nanoTime() - t0) / 1e9}%.1fs")
    val t1 = System.nanoTime()
    operators.IvfPq.writeIndex(
      operators.IvfPq.Index(geo.centers, geo.books,
        operators.IvfPq.encodeFast(corpus, "embedding", model, geo.books)),
      s"$tmp/ivfpq")
    println(f"[ladder] fast encode + partitioned write: ${(System.nanoTime() - t1) / 1e9}%.1fs")

    val q = base.filter(col("vec_id") === 0).select(col("embedding")).head.getSeq[Float](0).toArray
    val queries16 = base.filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val idx = operators.IvfPq.Index(
      operators.IvfPq.readCenters(spark, s"$tmp/ivfpq"),
      operators.IvfPq.readBooks(spark, s"$tmp/ivfpq"),
      spark.read.parquet(s"$tmp/ivfpq/encoded"))
    time("ivfpq_probe") {
      operators.IvfPq.search(idx, q, "vec_id", "embedding", 10, 4,
        metric = "cosine").count() }
    time("ivfpq_batch16") {
      operators.IvfPq.searchBatch(idx, queries16, "vec_id", "embedding", 10, 4,
        metric = "cosine").count() }
    val exactTop = operators.VectorSearch.knnFlat(corpus, q, "vec_id", "embedding",
      10, "cosine").collect().map(_.getLong(0)).toSet
    val pqTop = operators.IvfPq.search(idx, q, "vec_id", "embedding", 10, 4,
      metric = "cosine").collect().map(_.getLong(0))
    println(f"[ladder] ivfpq_recall@10 vs exact: ${pqTop.count(exactTop).toDouble / 10}%.2f")

    // --- partitioned LSH: the exact library index layout. Bucket
    // bits scale with the corpus (the LSH analog of the sqrt(n) cell
    // rule) so per-bucket occupancy — and therefore probe I/O — stays
    // constant across rungs.
    val t2 = System.nanoTime()
    corpus.select(col("vec_id"), col("embedding"),
        posexplode(lshBuckets(col("embedding"), 8, lshBits, 42L)).as(Seq("tbl", "bucket")))
      .repartition(col("tbl"), col("bucket"))
      .write.mode("overwrite").partitionBy("tbl", "bucket").parquet(s"$tmp/lsh")
    println(f"[ladder] lsh partitioned build (8 tables, $lshBits bits): ${(System.nanoTime() - t2) / 1e9}%.1fs")
    val lidx = spark.read.parquet(s"$tmp/lsh")
    time("lsh_partitioned_probe") {
      operators.VectorSearch.lshKnnPartitioned(lidx, q, "vec_id", "embedding", 10,
        bitsPerTable = lshBits).count() }

    // --- binary store probe: linear-but-narrow phase 1 ----------------
    val t3 = System.nanoTime()
    corpus.withColumn("bits", bitPack(col("embedding")))
      .write.mode("overwrite").parquet(s"$tmp/binary")
    println(f"[ladder] binary store build: ${(System.nanoTime() - t3) / 1e9}%.1fs")
    val bstore = spark.read.parquet(s"$tmp/binary")
    time("binary_indexed_probe") {
      operators.VectorSearch.knnBinaryIndexed(bstore, q, "vec_id", "embedding",
        "bits", 10).count() }

    // --- full-scan reference (linear by construction) -----------------
    time("knn_flat") {
      operators.VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10,
        "cosine").count() }

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Rung(n, results.toMap)
  }
}

/**
 * Scale ladder for the DEDUP family's 100 TB forms — the linear-output
 * operators a training-data pipeline actually runs at corpus scale:
 *  - [[operators.Dedup.minhashGroups]]: banded clustering with ONE
 *    row out per doc (never the quadratic pair list);
 *  - [[operators.Dedup.minhashIncremental]]: the nightly
 *    new-batch-vs-corpus probe, output linear in the NEW batch.
 *
 * Corpus: the sf0.1 `documents` table (5k docs) replicated `copies`
 * times with a per-copy text perturbation — every copy of one base
 * doc is a PLANTED near-duplicate cluster (Jaccard ~0.97: a few
 * trailing shingles differ out of ~300), so cluster structure, not
 * just row count, scales with the corpus. Defaults: 4M then 16M docs.
 *
 * Assertions (exit non-zero on violation):
 *  - output of minhashGroups is exactly one row per doc (linear), and
 *    the distinct cluster count tracks the ~5k planted clusters, not
 *    the corpus size;
 *  - incremental output is bounded by the new batch; planted matches
 *    resolve, novel docs stay unmatched;
 *  - wall growth across the x4 corpus step stays <= x6 (linear x1.5
 *    headroom) for BOTH operators.
 *
 * Run: `sbt "runMain graft.DedupLadder"` (4M then 16M), or
 *      `sbt "runMain graft.DedupLadder 200"` for one small rung.
 */
object DedupLadder {

  private case class Rung(n: Long, results: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)

    val copiesSeq: Seq[Int] =
      if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(800, 3200)
    val measured = copiesSeq.map(c => rung(spark, c))

    if (measured.length >= 2) {
      val lo = measured.head; val hi = measured.last
      val growth = hi.n.toDouble / lo.n
      for (name <- Seq("minhash_groups", "minhash_incremental")) {
        val ratio = hi.results(name) / math.max(lo.results(name), 1e-9)
        println(f"[dedup-ladder] WALL $name: ${lo.results(name)}%.1fs -> " +
          f"${hi.results(name)}%.1fs (x$ratio%.2f over x$growth%.1f corpus)")
        assert(ratio <= growth * 1.5,
          f"$name wall grew x$ratio%.2f across a x$growth%.1f corpus — superlinear")
      }
    }
    spark.stop()
  }

  private def rung(spark: SparkSession, copies: Int): Rung = {
    import operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-ladder").toString
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select(col("doc_id"), col("text"))
    val nBase = base.count()
    // copy i of base doc d: near-identical text (a trailing revision
    // token differs), fresh id. All copies of d form one planted
    // near-dup cluster.
    base.crossJoin(spark.range(copies))
      .select((col("id") * 1000000 + col("doc_id")).as("doc_id"),
        concat(col("text"), lit(" rev "), (col("id") % 97).cast("string")).as("text"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val docs = spark.read.parquet(s"$tmp/docs")
    val n = docs.count()
    println(s"[dedup-ladder] ===== rung: $n docs ($nBase base x $copies copies) =====")
    val results = scala.collection.mutable.Map[String, Double]()

    // --- linear-output clustering over the full corpus ---------------
    val t0 = System.nanoTime()
    val grouped = Dedup.minhashGroups(docs)
    val outRows = grouped.count()
    results("minhash_groups") = (System.nanoTime() - t0) / 1e9
    // cluster census from the same materialization window (cheap: the
    // pinned edges are still cached)
    val nClusters = grouped.agg(countDistinct(col("cluster_rep"))).head.getLong(0)
    val nDup = grouped.filter(col("is_duplicate")).count()
    println(f"[dedup-ladder] minhash_groups: ${results("minhash_groups")}%.1fs, " +
      s"$outRows rows out, $nClusters clusters, $nDup flagged duplicates")
    // Short docs are excluded from banding by design (no shingle
    // signal), so output is <= n but must track it 1:1 otherwise, and
    // the cluster count must track the ~5k PLANTED clusters (merged
    // base-doc pairs that were already near-dups at sf0.1 shrink it a
    // little), never scale with the corpus.
    assert(outRows <= n && outRows > (n * 9) / 10,
      s"minhash_groups output $outRows not linear in corpus $n")
    assert(nClusters < 2 * nBase,
      s"cluster count $nClusters scales with the corpus, not the planted ~$nBase")
    assert(nDup > (outRows * 8) / 10,
      s"only $nDup/$outRows flagged duplicate in a ~${copies}x-duplicated corpus")

    // --- incremental probe: new batch vs the corpus -------------------
    // New batch: one more perturbed copy of every base doc (planted
    // matches) + an equal count of novel docs (40 random hex tokens —
    // no shingle overlap with anything).
    val matchedNew = base.select((col("doc_id") + 900000000L).as("doc_id"),
      concat(col("text"), lit(" rev new")).as("text"))
    val novelNew = base.select((col("doc_id") + 950000000L).as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(40)),
        i => substring(md5(concat(col("doc_id").cast("string"), i.cast("string"))), 1, 8)))
        .as("text"))
    val newBatch = matchedNew.unionAll(novelNew)
    val t1 = System.nanoTime()
    val inc = Dedup.minhashIncremental(newBatch, docs)
    val incRows = inc.count()
    results("minhash_incremental") = (System.nanoTime() - t1) / 1e9
    val matchedHits = inc.filter(col("doc_id") < 950000000L).count()
    val novelHits = incRows - matchedHits
    println(f"[dedup-ladder] minhash_incremental: ${results("minhash_incremental")}%.1fs, " +
      s"$incRows rows out ($matchedHits planted matched, $novelHits novel false-positives)")
    assert(incRows <= 2 * nBase,
      s"incremental output $incRows exceeds the new batch ${2 * nBase} — not linear in the batch")
    assert(matchedHits > (nBase * 9) / 10,
      s"only $matchedHits/$nBase planted near-dups resolved")
    assert(novelHits < nBase / 20,
      s"$novelHits novel docs matched the corpus — false-positive storm")

    // drop this rung's pinned frames before the next one accumulates
    spark.sharedState.cacheManager.clearCache()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Rung(n, results.toMap)
  }
}

/**
 * High-dimension quantization ladder: the flat / int8 / binary / PQ /
 * IVF-PQ probe forms measured at PRODUCTION embedding width (512
 * dims vs the 64 every other bench/ladder number uses). The kernels
 * generalize by construction — `bitPack` emits `array<long>` (8
 * longs at 512 dims), PQ's subspace count m is a parameter — and
 * this run turns that from a shape claim into measured recall@10 +
 * latency per rung AT BOTH WIDTHS in one invocation.
 *
 * Corpus design (why not just embed the documents table): recall of
 * a 1-bit or ADC probe is a function of the NEIGHBOR COSINE ladder,
 * not just the kernel — short text queries against document
 * embeddings sit at cosine ~0.3-0.5 where 64 sign bits cannot beat a
 * 20k-row noise floor (measured recall 0.00 — at ANY width that
 * regime needs a wider shortlist, see the rerank sweep below). So
 * the ladder PLANTS its truth: per query, 10 variants of the query
 * document at a graded token-overlap ladder (cosine ~0.95 down to
 * ~0.5) inside a corpus of random-token noise docs. Exact top-10 =
 * the planted variants; what each rung recalls of them measures its
 * discrimination at that width honestly.
 *
 * The headline claim under test: higher dims discriminate MORE
 * sharply (sign-agreement separation grows ~sqrt(dim) for the same
 * cosine gap), so binary/PQ recall must RISE from 64 -> 512 dims.
 * Asserted, exit non-zero on violation.
 *
 * Run: `sbt "runMain graft.HighDimLadder"` (200k docs, dims 64+512),
 *      `sbt "runMain graft.HighDimLadder 20000 64,128"` (n, dims).
 */
object HighDimLadder {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)

    val n = if (args.nonEmpty) args(0).toInt else 200000
    val dims = (if (args.length > 1) args(1) else "64,512")
      .split(",").map(_.toInt).toSeq
    val measured = dims.map(d => d -> runDim(spark, n, d)).toMap

    if (dims.length >= 2) {
      val lo = measured(dims.min); val hi = measured(dims.max)
      for (name <- Seq("binary", "pq")) {
        println(f"[hidim] DISCRIMINATION $name: recall@10 " +
          f"${lo(name)._1}%.2f @${dims.min}d -> ${hi(name)._1}%.2f @${dims.max}d")
        assert(hi(name)._1 >= lo(name)._1 - 0.05,
          s"$name recall FELL from ${dims.min} to ${dims.max} dims — kernel not width-clean")
      }
      assert(hi("binary")._1 >= 0.8,
        f"binary recall ${hi("binary")._1}%.2f < 0.8 at ${dims.max} dims on planted neighbors")
    }
    spark.stop()
  }

  /** One width: build corpus + planted truth, measure every rung.
    * Returns name -> (recall@10, s/query). */
  private def runDim(spark: SparkSession, n: Int, dim: Int)
      : Map[String, (Double, Double)] = {
    import graft.GraftFunctions._
    import operators.{IvfIndex, IvfPq, PqIndex, VectorSearch}
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val k = 10
    val nQ = 8
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-hidim-$dim").toString

    // driver-side deterministic token pools (no RNG: md5 of position)
    def tokens(tag: String, cnt: Int): Seq[String] =
      (1 to cnt).map(i => org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$tag:$i").substring(0, 6))

    // noise corpus: random-token docs, embedded at `dim`
    spark.range(n)
      .select(col("id").as("vec_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(60)),
          i => substring(md5(concat(col("id").cast("string"), lit(":"), i.cast("string"))), 1, 6)))
          .as("text"))
      .select(col("vec_id"), embedText(col("text"), dim).as("embedding"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/noise")

    // planted truth: per query doc, 10 variants keeping the first
    // 60-4j of its 60 tokens (j=1..10): cosine ladder ~0.96 -> ~0.55
    val qTokens = (0 until nQ).map(d => tokens(s"q$d", 60))
    val planted = (0 until nQ).flatMap { d =>
      (1 to 10).map { j =>
        (800000000L + d * 100L + j, qTokens(d).take(60 - 4 * j).mkString(" "))
      }
    }.toDF("vec_id", "text")
      .select(col("vec_id"), embedText(col("text"), dim).as("embedding"))
    planted.write.mode("overwrite").parquet(s"$tmp/planted")

    val corpus = spark.read.parquet(s"$tmp/noise")
      .unionAll(spark.read.parquet(s"$tmp/planted")).persist()
    val total = corpus.count()
    println(s"[hidim] ===== $total vectors x $dim dims (${nQ}x10 planted) =====")

    val queries = (0 until nQ).map(d => (d.toLong, qTokens(d).mkString(" ")))
      .toDF("query_id", "text")
      .select(col("query_id"), embedText(col("text"), dim).as("qvec")).persist()
    queries.count()
    val qvs = queries.collect().map(r => r.getLong(0).toInt -> r.getSeq[Float](1).toArray).toMap
    def q1(i: Int): Array[Float] = qvs(i)

    // ground truth from the exact scan (the planted set by design;
    // measured, not assumed)
    val exact = (0 until nQ).map { i =>
      i -> VectorSearch.knnFlat(corpus, q1(i), "vec_id", "embedding", k, "cosine")
        .collect().map(_.getLong(0)).toSet
    }.toMap
    val plantedRecall = (0 until nQ)
      .map(i => exact(i).count(_ >= 800000000L).toDouble / k).sum / nQ
    println(f"[hidim] exact top-10 is $plantedRecall%.2f planted (sanity)")

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    def rung(name: String)(probe: Int => DataFrame): Unit = {
      probe(0).count() // warmup
      val t0 = System.nanoTime()
      val hits = (0 until nQ).map(i => probe(i).collect().map(_.getLong(0)))
      val wall = (System.nanoTime() - t0) / 1e9 / nQ
      val recall = (0 until nQ)
        .map(i => hits(i).count(exact(i)).toDouble / k).sum / nQ
      results(name) = (recall, wall)
      println(f"[hidim] $name%-14s recall@10=$recall%.2f  ${wall}%.2fs/query")
    }

    rung("flat")(i => VectorSearch.knnFlat(corpus, q1(i), "vec_id", "embedding", k, "cosine"))

    // int8 store codes (the `quant` column form)
    val int8Store = corpus.withColumn("quant",
      quantizeVec(l2Normalize(col("embedding")))).persist()
    int8Store.count()
    rung("int8")(i => VectorSearch.knnQuantizedIndexed(int8Store, q1(i),
      "vec_id", "embedding", "quant", k, "cosine"))

    // 1-bit packed signs: dim/64 longs per row
    val binStore = corpus.withColumn("bits", bitPack(col("embedding"))).persist()
    binStore.count()
    rung("binary")(i => VectorSearch.knnBinaryIndexed(binStore, q1(i),
      "vec_id", "embedding", "bits", k, "cosine"))

    // PQ over normalized vectors: m scales with dim (16 subspaces at
    // 512 dims = 32-dim slices), 16 codewords each
    val m = math.max(8, dim / 32)
    val normed = corpus.withColumn("embn", l2Normalize(col("embedding")))
    val books = PqIndex.train(
      normed.select(col("embn")).sample(math.min(1.0, 100000.0 / total), 42L),
      "embn", m, 16)
    val pqStore = PqIndex.encodeExact(normed, "embn", books).drop("embn").persist()
    pqStore.count()
    rung("pq")(i => PqIndex.search(pqStore, books, q1(i),
      "vec_id", "embedding", k, "cosine", normalized = true))

    // IVF-PQ: sample coarse fit + residual books, fast bulk encode
    val sample = normed.select(col("embn"))
      .sample(math.min(1.0, 100000.0 / total), 43L)
    val (model, _) = IvfIndex.build(sample, "embn", 64)
    val geo = IvfPq.trainFrom(model, sample, "embn", m = m)
    val ivfpqStore = IvfPq.encodeFast(normed, "embn", model, geo.books)
      .drop("embn").persist()
    ivfpqStore.count()
    val idx = IvfPq.Index(geo.centers, geo.books, ivfpqStore)
    rung("ivfpq")(i => IvfPq.search(idx, q1(i), "vec_id", "embedding", k,
      nProbe = 8, metric = "cosine", normalized = true))

    println(s"[hidim] PLANS.md rows (dim=$dim): | rung | recall@10 | s/query |")
    results.foreach { case (name, (r, w)) =>
      println(f"[hidim] | $dim | $name | $r%.2f | $w%.2f |") }

    assert(results("flat")._1 == 1.0, "exact path disagrees with itself")
    assert(results("int8")._1 >= 0.9,
      f"int8 recall ${results("int8")._1}%.2f < 0.9 at $dim dims")

    corpus.unpersist(); queries.unpersist(); int8Store.unpersist()
    binStore.unpersist(); pqStore.unpersist(); ivfpqStore.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    results.toMap
  }
}

/**
 * Scale ladder for the TEXT-ANALYSIS family's vocabulary-shaped
 * aggregates — the two ops whose shuffle payload grows with the
 * corpus's VOCABULARY, not just its row count:
 *  - [[operators.TextAnalysis.topNgrams]]: per-source top-k grams.
 *    The count shuffle is irreducible (exact document frequencies),
 *    but the top-k must stay a BOUNDED aggregate (graft_topk_str, k
 *    entries per source per partition) — the rank-window form would
 *    re-shuffle and sort the full gram vocabulary, which this rung
 *    grows linearly with the corpus (copy-unique tokens);
 *  - [[operators.TextAnalysis.unigramSurprise]]: corpus-LM quality
 *    scoring, whose vocabulary-sized count table joins per DISTINCT
 *    doc-token with multiplicities as counts.
 *
 * Corpus: sf0.1 `documents` x copies; each copy appends copy-unique
 * tokens so the gram vocabulary scales with the corpus (~nBase x
 * copies new trigrams) — the axis that breaks vocabulary-sorting
 * plans. Rungs default to 500k and 2M docs (the gram explode is
 * ~300 rows/doc, so these rungs already shuffle 0.15-0.6B gram
 * rows).
 *
 * Assertions (exit non-zero on violation):
 *  - top_ngrams output stays k x nSources rows at BOTH rungs
 *    (bounded, corpus-independent);
 *  - unigram_surprise output is exactly one row per doc;
 *  - wall growth across the x4 corpus step <= x6 for both.
 *
 * Run: `sbt "runMain graft.TextLadder"` (500k then 2M), or
 *      `sbt "runMain graft.TextLadder 20"` for one small rung.
 */
object TextLadder {

  private case class Rung(n: Long, results: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)

    val copiesSeq: Seq[Int] =
      if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(100, 400)
    val measured = copiesSeq.map(c => rung(spark, c))

    if (measured.length >= 2) {
      val lo = measured.head; val hi = measured.last
      val growth = hi.n.toDouble / lo.n
      for (name <- Seq("top_ngrams", "unigram_surprise")) {
        val ratio = hi.results(name) / math.max(lo.results(name), 1e-9)
        println(f"[text-ladder] WALL $name: ${lo.results(name)}%.1fs -> " +
          f"${hi.results(name)}%.1fs (x$ratio%.2f over x$growth%.1f corpus)")
        assert(ratio <= growth * 1.5,
          f"$name wall grew x$ratio%.2f across a x$growth%.1f corpus — superlinear")
      }
    }
    spark.stop()
  }

  private def rung(spark: SparkSession, copies: Int): Rung = {
    import operators.TextAnalysis
    val tmp = java.nio.file.Files.createTempDirectory("graft-text-ladder").toString
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // copy i of doc d appends tokens unique to (d, i): every copy
    // contributes fresh trigrams, so the gram vocabulary grows with
    // the corpus — exactly what a vocabulary-sorting plan chokes on
    base.crossJoin(spark.range(copies))
      .select((col("id") * 1000000 + col("doc_id")).as("doc_id"), col("source"),
        concat(col("text"), lit(" uniq "),
          md5(concat(col("doc_id").cast("string"), lit("_"), col("id").cast("string"))),
          lit(" mark"), (col("id") % 97).cast("string")).as("text"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val docs = spark.read.parquet(s"$tmp/docs")
    val n = docs.count()
    val nSources = docs.select(col("source")).distinct().count()
    println(s"[text-ladder] ===== rung: $n docs, $nSources sources =====")
    val results = scala.collection.mutable.Map[String, Double]()

    val t0 = System.nanoTime()
    val top = TextAnalysis.topNgrams(docs, n = 3, k = 10)
    val topRows = top.count()
    results("top_ngrams") = (System.nanoTime() - t0) / 1e9
    println(f"[text-ladder] top_ngrams: ${results("top_ngrams")}%.1fs, $topRows rows out")
    assert(topRows == nSources * 10,
      s"top_ngrams emitted $topRows rows, expected ${nSources * 10} — output not bounded")

    val t1 = System.nanoTime()
    val sup = TextAnalysis.unigramSurprise(docs)
    val supRows = sup.count()
    results("unigram_surprise") = (System.nanoTime() - t1) / 1e9
    println(f"[text-ladder] unigram_surprise: ${results("unigram_surprise")}%.1fs, $supRows rows out")
    assert(supRows == n,
      s"unigram_surprise emitted $supRows rows for $n docs — not one per doc")

    spark.sharedState.cacheManager.clearCache()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Rung(n, results.toMap)
  }
}

/**
 * Events scale ladder: the behavioral-analytics family (sessionize,
 * funnel, retention, windowed aggregation) measured at 2.5M and 10M
 * events — every published number for these operators is sf0.1
 * (100k rows). The corpus replicates sf0.1 events across FRESH USER
 * POPULATIONS (copy i shifts user_id; timestamps, types and values
 * keep their real temporal pattern), which is exactly how these
 * workloads grow in production: more users, same span. All four
 * operators are one-shuffle-on-a-compact-key plans, so wall growth
 * is ASSERTED <= corpus growth x1.5 across the x4 rung step (exit
 * non-zero otherwise), and output shapes are asserted to scale the
 * way each semantics dictates: sessionize/funnel linear in users,
 * retention/window_agg CONSTANT (fixed span x fixed type/offset
 * sets — the aggregate family a dashboard reads stays bounded no
 * matter the corpus).
 *
 * Run: `sbt "runMain graft.EventsLadder"` (25 and 100 copies),
 *      `sbt "runMain graft.EventsLadder 10,40"` (copies list).
 */
object EventsLadder {
  import org.apache.spark.sql.DataFrame

  private case class Rung(n: Long, results: Map[String, Double],
                          outRows: Map[String, Long])

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)

    val copiesSeq: Seq[Int] =
      if (args.nonEmpty) args.head.split(',').map(_.trim.toInt).toSeq
      else Seq(100, 400)
    // warm-up: one untimed pass of every operator over the raw sf0.1
    // table, so the first rung doesn't charge JVM/codegen warmup to
    // its wall (measured: cold-start made a x4 rung step read x0.6)
    locally {
      val w = Tables.load(spark, "/root/testdata/sf0.1", "events")
      operators.Events.sessionize(w).count()
      operators.Events.funnel(w).count()
      operators.Events.retention(w).count()
      operators.Events.windowAgg(w).count()
      operators.Events.asofJoin(w).count()
      operators.Events.rolling(w).count()
      operators.Events.valuePercentiles(w).count()
      spark.conf.set("spark.graft.percentiles", "approx")
      operators.Events.valuePercentiles(w).count()
      spark.conf.set("spark.graft.percentiles", "exact")
      ()
    }
    val measured = copiesSeq.map(c => rung(spark, c))

    if (measured.length >= 2) {
      val lo = measured.head; val hi = measured.last
      val growth = hi.n.toDouble / lo.n
      for (name <- Seq("sessionize", "funnel", "retention", "window_agg",
                       "asof", "rolling", "percentiles_exact",
                       "percentiles_approx")) {
        val ratio = hi.results(name) / math.max(lo.results(name), 1e-9)
        println(f"[events-ladder] WALL $name: ${lo.results(name)}%.1fs -> " +
          f"${hi.results(name)}%.1fs (x$ratio%.2f over x$growth%.1f corpus)")
        assert(ratio <= growth * 1.5,
          f"$name wall grew x$ratio%.2f across a x$growth%.1f corpus — superlinear")
      }
      // Output-shape law per semantics: the per-user/per-event
      // families scale with the user population, the fixed-span
      // aggregates do not.
      for (name <- Seq("sessionize", "funnel", "asof")) {
        val r = hi.outRows(name).toDouble / lo.outRows(name)
        assert(math.abs(r - growth) < growth * 0.2,
          s"$name output rows x$r across x$growth users — not linear")
      }
      for (name <- Seq("retention", "window_agg", "rolling",
                       "percentiles_exact", "percentiles_approx"))
        assert(hi.outRows(name) == lo.outRows(name),
          s"$name output grew ${lo.outRows(name)} -> ${hi.outRows(name)} — " +
            "a fixed-span aggregate must stay bounded")
      // the sketch must stay accurate as the per-type volume grows —
      // this is the number behind the documented exact->approx switch
      for (r <- measured)
        assert(r.results("pctl_max_rel_err") <= 0.01,
          f"approx percentiles drifted ${r.results("pctl_max_rel_err")}%.4f " +
            f"rel err at ${r.n} events — the 100 TB switch is not safe")
    }
    spark.stop()
  }

  private def rung(spark: SparkSession, copies: Int): Rung = {
    import operators.Events
    val tmp = java.nio.file.Files.createTempDirectory("graft-events-ladder").toString
    val base = Tables.load(spark, "/root/testdata/sf0.1", "events")
    // copy i = the same event stream replayed by a fresh user
    // population: ids offset per copy, timestamps untouched.
    base.crossJoin(spark.range(copies))
      .select(
        (col("id") * 10000000000L + col("event_id")).as("event_id"),
        col("ts"),
        (col("id") * 10000000L + col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/events")
    val events = spark.read.parquet(s"$tmp/events")
    val n = events.count()
    println(s"[events-ladder] ===== rung: $n events ($copies copies) =====")
    val results = scala.collection.mutable.Map[String, Double]()
    val outRows = scala.collection.mutable.Map[String, Long]()

    def measure(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = df.count()
      results(name) = (System.nanoTime() - t0) / 1e9
      outRows(name) = rows
      println(f"[events-ladder] $name: ${results(name)}%.1fs, $rows rows out")
    }
    measure("sessionize")(Events.sessionize(events))
    measure("funnel")(Events.funnel(events))
    measure("retention")(Events.retention(events))
    measure("window_agg")(Events.windowAgg(events))
    measure("asof")(Events.asofJoin(events))
    measure("rolling")(Events.rolling(events))

    // percentiles: exact (sorted per-type buffers — the oracle-parity
    // default) vs approx (bounded-memory sketch — the documented
    // 100 TB switch, spark.graft.percentiles=approx). Both walls are
    // on the record, and the sketch's error is MEASURED per rung, so
    // the documented trade carries numbers, not adjectives.
    def measureCollect(name: String)(df: => DataFrame): Array[org.apache.spark.sql.Row] = {
      val t0 = System.nanoTime()
      val rows = df.collect()
      results(name) = (System.nanoTime() - t0) / 1e9
      outRows(name) = rows.length.toLong
      println(f"[events-ladder] $name: ${results(name)}%.1fs, ${rows.length} rows out")
      rows
    }
    val exact = measureCollect("percentiles_exact")(Events.valuePercentiles(events))
    spark.conf.set("spark.graft.percentiles", "approx")
    val approx =
      try measureCollect("percentiles_approx")(Events.valuePercentiles(events))
      finally spark.conf.set("spark.graft.percentiles", "exact")
    val exactByType = exact.map(r => r.getString(0) -> r).toMap
    val relErr = approx.flatMap { a =>
      val e = exactByType(a.getString(0))
      Seq("p50_value", "p90_value", "p99_value").map { c =>
        val ev = e.getAs[Double](c); val av = a.getAs[Double](c)
        math.abs(av - ev) / math.max(math.abs(ev), 1e-9)
      }
    }.max
    results("pctl_max_rel_err") = relErr
    println(f"[events-ladder] percentile sketch max rel err: $relErr%.5f " +
      f"(approx ${results("percentiles_approx")}%.1fs vs exact " +
      f"${results("percentiles_exact")}%.1fs)")

    spark.sharedState.cacheManager.clearCache()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Rung(n, results.toMap, outRows.toMap)
  }
}
