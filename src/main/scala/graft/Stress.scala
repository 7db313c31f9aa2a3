package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.VectorSearch

/**
 * Scale probe: replicates the embeddings corpus to ~1M vectors on
 * parquet and measures search-operator throughput through the real
 * scan+compute path. Evidence for the 100 TB design claims in
 * SURVEY.md paragraph 4 — the same plans, three orders of magnitude more rows
 * than the sf tables.
 */
object Stress {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 500
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)

    val tmp = java.nio.file.Files.createTempDirectory("graft-stress").toString
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    // Library-store shape: index columns (LSH buckets, int8 codes)
    // materialized once at ingest, next to the vectors.
    base.crossJoin(spark.range(copies))
      .select((col("id") * 1000000 + col("vec_id")).as("vec_id"), col("embedding"))
      .withColumn("lsh_buckets", GraftFunctions.lshBuckets(col("embedding")))
      .withColumn("quant", GraftFunctions.quantizeVec(GraftFunctions.l2Normalize(col("embedding"))))
      .withColumn("bits", GraftFunctions.bitPack(col("embedding")))
      .repartition(32) // one scan split per core
      .write.mode("overwrite").parquet(s"$tmp/vectors")
    val corpus = spark.read.parquet(s"$tmp/vectors")
    val n = corpus.count()
    println(s"[stress] corpus: $n vectors x 64 dims (stored lsh_buckets + int8 codes)")

    val q = base.filter(col("vec_id") === 0).select(col("embedding")).head.getSeq[Float](0).toArray
    val queries16 = base.filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

    def time(name: String)(body: => Long): Unit = {
      body // warmup
      val best = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[stress] $name: $best%.2fs  (${n / best / 1e6}%.1fM vec/s)")
    }

    time("knn_flat_cosine") {
      VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10, "cosine").count() }
    time("knn_batch_16q") {
      VectorSearch.knnBatch(corpus, queries16, "vec_id", "embedding", 10, "cosine").count() }
    time("lsh_knn(ad-hoc: signatures recomputed)") {
      VectorSearch.lshKnn(corpus, q, "vec_id", "embedding", 10).count() }
    time("lsh_knn_indexed(stored buckets)") {
      VectorSearch.lshKnnIndexed(corpus, q, "vec_id", "embedding", "lsh_buckets", 10).count() }
    time("range_search") {
      VectorSearch.rangeSearch(corpus, q, "vec_id", "embedding", 0.2, "cosine").count() }

    // Bucket-partitioned exploded index: probe reads only the probed
    // (tbl, bucket) directories — I/O scales with the candidate set,
    // not the corpus.
    val ti0 = System.nanoTime()
    corpus.select(col("vec_id"), col("embedding"), col("quant"),
      posexplode(col("lsh_buckets")).as(Seq("tbl", "bucket")))
      .repartition(col("tbl"), col("bucket"))
      .write.mode("overwrite").partitionBy("tbl", "bucket").parquet(s"$tmp/lsh_part")
    val lshPart = spark.read.parquet(s"$tmp/lsh_part")
    println(f"[stress] lsh_partitioned_build(8x256 dirs): ${(System.nanoTime() - ti0) / 1e9}%.2fs")
    time("lsh_knn_partitioned(pruned dirs)") {
      VectorSearch.lshKnnPartitioned(lshPart, q, "vec_id", "embedding", 10).count() }
    time("lsh_knn_partitioned_quantized(codes phase 1)") {
      VectorSearch.lshKnnPartitionedQuantized(lshPart, q,
        "vec_id", "embedding", "quant", 10).count() }
    time("lsh_partitioned_batch_16q(one union-pruned scan)") {
      VectorSearch.lshKnnPartitionedBatch(lshPart, queries16,
        "vec_id", "embedding", 10).count() }

    // Persisted grid: fitted bounds + cell-partitioned rows. The
    // ad-hoc probe pays a bounds aggregate + a corpus cheb histogram
    // per query; the indexed probe's radius comes from per-cell
    // occupancy (partition-column stats) and its scan is pruned to the
    // probed cells.
    val tg0 = System.nanoTime()
    val (gLo, gHi) = VectorSearch.gridBounds(corpus, "embedding", 4)
    corpus.select(col("vec_id"), col("embedding"),
      VectorSearch.cellKeyCol(col("embedding"), gLo, gHi, 4).as("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/grid")
    val gridIdx = spark.read.parquet(s"$tmp/grid")
    println(f"[stress] grid_build(4^4 dirs): ${(System.nanoTime() - tg0) / 1e9}%.2fs")
    val gridCounts = VectorSearch.gridCellCounts(gridIdx)
    time("grid_knn_expanding(ad-hoc: bounds+histogram per query)") {
      VectorSearch.gridKnnExpanding(corpus, q, "vec_id", "embedding", 10).count() }
    time("grid_knn_indexed(pruned cells, cached histogram)") {
      VectorSearch.gridKnnIndexed(gridIdx, gLo, gHi, q, "vec_id", "embedding", 10,
        countsOpt = Some(gridCounts)).count() }

    time("knn_quantized(ad-hoc: codes recomputed)") {
      VectorSearch.knnQuantized(corpus, q, "vec_id", "embedding", 10).count() }
    time("knn_quantized_indexed(stored codes)") {
      VectorSearch.knnQuantizedIndexed(corpus, q, "vec_id", "embedding", "quant", 10).count() }
    time("knn_binary_indexed(stored sign bits, hamming phase 1)") {
      VectorSearch.knnBinaryIndexed(corpus, q, "vec_id", "embedding", "bits", 10).count() }
    time("knn_binary_batch_16q(one bits scan)") {
      VectorSearch.knnBinaryBatch(corpus, queries16, "vec_id", "embedding", "bits", 10).count() }

    // IVF: one-off distributed index build, then partition-pruned probes.
    val tb0 = System.nanoTime()
    val (model, assigned) = operators.IvfIndex.build(corpus, "embedding", nCentroids = 64)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(s"$tmp/ivf")
    val indexed = spark.read.parquet(s"$tmp/ivf")
    println(f"[stress] ivf_build(64 centroids + partitioned write): ${(System.nanoTime() - tb0) / 1e9}%.2fs")
    val centers = operators.IvfIndex.centersOf(model)
    time("ivf_probe(nProbe=4)") {
      operators.IvfIndex.search(indexed, centers, q, "vec_id", "embedding", 10, 4).count() }
    operators.IvfIndex.writeIndex(assigned, model, s"$tmp/ivf_disk")
    time("ivf_batch_16q(one union-pruned scan)") {
      operators.IvfIndex.searchIndexedBatch(spark, s"$tmp/ivf_disk", queries16,
        "vec_id", "embedding", 10, 4).count() }

    // Spilled IVF: boundary-replicated assignment probed at nProbe=1 —
    // recall from replication, I/O from a single Voronoi cell. Report
    // the replication premium and recall vs the exact scan alongside
    // the probe time.
    val ts0 = System.nanoTime()
    operators.IvfIndex.spillAssign(corpus, "embedding", centers, 1.2, 2)
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$tmp/ivf_spill")
    val spilled = spark.read.parquet(s"$tmp/ivf_spill")
    val nSpill = spilled.count()
    println(f"[stress] ivf_spill_build(reuse centroids): ${(System.nanoTime() - ts0) / 1e9}%.2fs  " +
      f"(${nSpill.toDouble / n}%.2fx rows)")
    val exactTop = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10, "cosine")
      .collect().map(_.getLong(0)).toSet
    val plainTop = operators.IvfIndex.search(indexed, centers, q,
      "vec_id", "embedding", 10, 1).collect().map(_.getLong(0))
    val spillTop = operators.IvfIndex.searchSpill(spilled, centers, q,
      "vec_id", "embedding", 10, 1).collect().map(_.getLong(0))
    println(f"[stress] ivf_recall@10 nProbe=1: plain ${plainTop.count(exactTop).toDouble / 10}%.2f " +
      f"spilled ${spillTop.count(exactTop).toDouble / 10}%.2f")
    time("ivf_spill_probe(nProbe=1)") {
      operators.IvfIndex.searchSpill(spilled, centers, q, "vec_id", "embedding", 10, 1).count() }

    // IVF-PQ: the composed two-phase index — cell pruning x codes-only
    // ADC. What to watch at 1M: probe time vs the flat scan (phase 1
    // reads ~m bytes/row over nProbe cells only, the float column's
    // pages stay closed until the re-rank fetch) and the recall
    // retained through the residual codes.
    val tp0 = System.nanoTime()
    val ivfpq = operators.IvfPq.train(
      corpus.select(col("vec_id"), col("embedding")), "embedding", nCentroids = 64)
    operators.IvfPq.writeIndex(ivfpq, s"$tmp/ivfpq")
    println(f"[stress] ivfpq_build(64 cells, residual codebooks, partitioned write): " +
      f"${(System.nanoTime() - tp0) / 1e9}%.2fs")
    time("ivfpq_probe(nProbe=4, codes-only phase 1)") {
      operators.IvfPq.searchIndexed(spark, s"$tmp/ivfpq", q,
        "vec_id", "embedding", 10, 4, metric = "cosine").count() }
    val ivfpqTop = operators.IvfPq.searchIndexed(spark, s"$tmp/ivfpq", q,
      "vec_id", "embedding", 10, 4, metric = "cosine").collect().map(_.getLong(0))
    println(f"[stress] ivfpq_recall@10 nProbe=4 vs exact: ${ivfpqTop.count(exactTop).toDouble / 10}%.2f")
    val ivfpqIdx = operators.IvfPq.Index(
      operators.IvfPq.readCenters(spark, s"$tmp/ivfpq"),
      operators.IvfPq.readBooks(spark, s"$tmp/ivfpq"),
      spark.read.parquet(s"$tmp/ivfpq/encoded"))
    time("ivfpq_batch_16q(one union-pruned codes scan)") {
      operators.IvfPq.searchBatch(ivfpqIdx, queries16,
        "vec_id", "embedding", 10, 4, metric = "cosine").count() }

    // ---- adversarial skew: 99%-duplicate corpus --------------------------
    // One boilerplate document dominates; every banded bucket it hashes
    // into is a single giant cluster. Pair-emitting dedup is inherently
    // quadratic here (~half-a-billion pairs at 100k dups); the linear
    // paths must complete without a straggler partition.
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val boiler = docs.filter(col("doc_id") === 0)
      .crossJoin(spark.range(99000))
      .select((col("id") + 1000000).as("doc_id"), col("text"), col("source"))
    val adversarial = docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(boiler)
      .repartition(32)
      .cache()
    println(s"[stress] adversarial corpus: ${adversarial.count()} docs, 99% one duplicate")
    val na = adversarial.count()
    def timeN(name: String, rows: Long)(body: => Long): Unit = {
      body
      val best = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[stress] $name: $best%.2fs  (${rows / best / 1e3}%.1fk docs/s)")
    }
    timeN("dedup_minhash_groups(99%-dup)", na) {
      operators.Dedup.minhashGroups(adversarial).count() }
    timeN("dedup_exact(99%-dup)", na) {
      operators.Dedup.exact(adversarial).count() }
    timeN("dedup_minhash(99%-dup, bucket cap 1000)", na) {
      operators.Dedup.minhashLsh(adversarial, maxBucketSize = Some(1000)).count() }
    timeN("dedup_ngram_jaccard(99%-dup, df cap 1000)", na) {
      operators.Dedup.ngramJaccard(adversarial, maxShingleDf = Some(1000)).count() }
    timeN("prepare_corpus(99%-dup)", na) {
      // the composed DAG's dedup rule puts all 99k duplicates into ONE
      // content-hash window partition — the min is linear, no pair
      // space, so the skew costs a single fat-but-linear task
      operators.Pipeline.prepareCorpus(adversarial).count() }
    timeN("source_overlap(99%-dup)", na) {
      // per-gram fan-out bounded by source count, immune to the dup skew
      operators.Pipeline.sourceOverlap(adversarial).count() }
    adversarial.unpersist()

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    spark.stop()
  }
}
