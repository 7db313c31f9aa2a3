package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftFunctions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md sections 2 and 7. */
object SparkEntry {

  /** Per-session setup: registers graft's native functions + configs. */
  def configure(spark: SparkSession): SparkSession = {
    // Older testdata generations carried events.ts as TIMESTAMP(NANOS),
    // unsupported natively; the flag makes those read as long (the
    // loader normalizes either generation, Tables.load).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Inferred generate guards (isnotnull/size>0 on the generator
    // input) re-substitute expensive signature expressions below their
    // projection and double their per-row cost; semantics without them
    // are identical (empty/null arrays simply generate no rows).
    spark.conf.set("spark.sql.optimizer.inferFiltersFromGenerate", "false")
    // Phase-2 point reads push a k*rerankFactor (~80) id shortlist into
    // the parquet scan as an In filter; above this threshold Spark
    // degrades In to a min/max range predicate, which on ids spread
    // across the id space prunes almost nothing. 1024 keeps per-value
    // row-group/dictionary filtering for every bounded shortlist we emit.
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
    GraftFunctions.register(spark)
    // Sessions not built with GraftExtensions still get the top-k
    // rewrite (idempotent: the rule object is a singleton).
    if (!spark.experimental.extraOptimizations.contains(graft.plans.TopKWindowRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.TopKWindowRewrite
    spark
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    Tables.load(spark, dir, name)
  }

  /** Flagship: full library-search pipeline (chunk -> embed -> k-NN). */
  def entry(spark: SparkSession): DataFrame =
    librarySearchE2E(spark, "/root/testdata/sf0.001")

  private def librarySearchE2E(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val chunks = TextAnalysis.chunksUnordered(docs, 32)
    val embedded = chunks.withColumn("emb", embedText(col("chunk_text"), 64))
    val qv = spark.range(1)
      .select(embedText(lit("spark join stream table filter"), 64).as("qvec"))
    embedded.crossJoin(broadcast(qv))
      .select(col("source"), col("doc_id"), col("chunk_idx"),
        round(cosineSim(col("emb"), col("qvec")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc, col("chunk_idx").asc)
      .limit(10)
  }

  /** The corpus of the single-query entries: every embedding but
    * vec_id 0's. */
  private def embCorpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").filter(col("vec_id") =!= 0)

  /** [[embCorpus]] and the single query, vec_id 0's vector, collected
    * once and scored as a literal. */
  private def embQuery(spark: SparkSession, dir: String): (DataFrame, Array[Float]) = {
    val q = t(spark, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).collect()
    require(q.length == 1, s"embeddings must hold exactly one vec_id 0, found ${q.length}")
    (embCorpus(spark, dir), q(0).getSeq[Float](0).toArray)
  }

  // Build-once on-disk IVF index per (session, dataset): the batch
  // probe measures serving, not the k-means fit (same split as the
  // cached in-memory path, but through the persisted layout). Rows are
  // assigned by IvfIndex.assignExact — replayable arithmetic — so the
  // probe results can be oracle-gated; the fitted centroids are
  // stashed for the oracle (Verify runs queries before oracleSql).
  private val ivfDiskIndexes = new scala.collection.concurrent.TrieMap[String, String]()
  private def ivfDiskIndexFor(s: SparkSession, d: String): String =
    ivfDiskIndexes.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      val emb = t(s, d, "embeddings").filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val path = java.nio.file.Files.createTempDirectory("graft-ivf-disk").toString
      val (model, _) = IvfIndex.build(emb, "embedding")
      val centers = IvfIndex.centersOf(model)
      ivfOracleCenters("batch") = centers
      IvfIndex.writeIndex(IvfIndex.assignExact(emb, "embedding", centers), model, path)
      path
    })

  // Build-once on-disk GRID index per (session, dataset): fitted
  // bounds + cell-partitioned rows, the serving layout buildGridIndex
  // writes for a library. The probe query measures the pruned scan,
  // not the fit — and returns results IDENTICAL to gridKnnExpanding
  // over the same corpus (same bounds, same radius rule), so it shares
  // that query's oracle.
  private val gridDiskIndexes = new scala.collection.concurrent
    .TrieMap[String, (String, Array[Double], Array[Double], Seq[(String, Long)])]()
  private def gridDiskIndexFor(s: SparkSession, d: String)
      : (String, Array[Double], Array[Double], Seq[(String, Long)]) =
    gridDiskIndexes.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      val emb = t(s, d, "embeddings").filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      val (lo, hi) = VectorSearch.gridBounds(emb, "embedding", 4)
      val path = java.nio.file.Files.createTempDirectory("graft-grid-disk").toString
      emb.withColumn("cell", VectorSearch.cellKeyCol(col("embedding"), lo, hi, 4))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      // The per-cell occupancy histogram is serving state, derived
      // ONCE at build exactly like the library's gridCounts cache —
      // without it every probe pays a full index aggregate before the
      // pruned scan (measured 3x the probe itself at sf0.1).
      (path, lo, hi, VectorSearch.gridCellCounts(s.read.parquet(path)))
    })

  // Exact-assignment in-memory IVF per (session, dataset, variant):
  // the k-means fit supplies centroids only; rows assign via the
  // replayable sequential-fold argmin. First call fits + pins, later
  // calls measure the pruned probe (build-once / probe-many).
  private val ivfExact = new scala.collection.concurrent
    .TrieMap[String, (Seq[(Int, Array[Double])], DataFrame)]()
  private def ivfExactFor(s: SparkSession, d: String,
                          corpus: DataFrame): (Seq[(Int, Array[Double])], DataFrame) =
    ivfExact.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      val (model, _) = IvfIndex.build(corpus, "embedding")
      val centers = IvfIndex.centersOf(model)
      (centers, IvfIndex.assignExact(corpus, "embedding", centers).persist())
    })
  private def ivfSpillExactFor(s: SparkSession, d: String,
                               corpus: DataFrame): (Seq[(Int, Array[Double])], DataFrame) =
    ivfExact.getOrElseUpdate(s"${System.identityHashCode(s)}|$d|spill", {
      val (model, _) = IvfIndex.build(corpus, "embedding")
      val centers = IvfIndex.centersOf(model)
      (centers,
        IvfIndex.spillAssign(corpus, "embedding", centers, 1.2, 2).persist())
    })

  // Build-once materialized document-pool table per (session, dataset):
  // the ingest-time layout docKnnPooled serves from. The 6-dp pool
  // values round-trip parquet exactly, so the pooled probe shares
  // doc_knn's oracle verbatim.
  private val docPoolDisk = new scala.collection.concurrent.TrieMap[String, String]()
  private def docPoolDiskFor(s: SparkSession, d: String): String =
    docPoolDisk.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      val path = java.nio.file.Files.createTempDirectory("graft-docpool").toString
      operators.TextAnalysis.docPooledEmbedding(t(s, d, "documents"))
        .write.mode("overwrite").parquet(path)
      path
    })

  /** Fitted centroids by oracle variant ("single"|"batch"|"spill"),
    * recorded when the corresponding query runs. oracleSql inlines
    * them as exact literals — the assignment, probe and re-rank then
    * replay in DuckDB, upgrading the IVF family from rows-only to
    * hash-verified (same trick as the hyperplane literals). */
  private val ivfOracleCenters =
    new scala.collection.concurrent.TrieMap[String, Seq[(Int, Array[Double])]]()

  // Train-once / probe-many PQ per (session, dataset, variant): the
  // codebook fit and corpus encode pin on first call; later calls
  // measure the codes-only ADC probe. Fitted codebooks stash for the
  // oracle exactly like the IVF centroids.
  private val pqExact = new scala.collection.concurrent
    .TrieMap[String, (PqIndex.Codebooks, DataFrame)]()
  private def pqFor(s: SparkSession, d: String, corpus: DataFrame,
                    variant: String): (PqIndex.Codebooks, DataFrame) =
    pqExact.getOrElseUpdate(s"${System.identityHashCode(s)}|$d|$variant", {
      val books = PqIndex.train(corpus, "embedding")
      (books, PqIndex.encodeExact(corpus, "embedding", books).persist())
    })
  private val pqOracleBooks =
    new scala.collection.concurrent.TrieMap[String, PqIndex.Codebooks]()

  // Train-once / probe-many IVF-PQ per (session, dataset, variant):
  // coarse centroids + residual codebooks fit once, encoded corpus
  // pins; later calls measure the cell-pruned codes-only ADC probe.
  // Centers AND books stash together for the oracle replay.
  private val ivfpqExact = new scala.collection.concurrent
    .TrieMap[String, IvfPq.Index]()
  private def ivfpqFor(s: SparkSession, d: String, corpus: DataFrame,
                       variant: String): IvfPq.Index =
    ivfpqExact.getOrElseUpdate(s"${System.identityHashCode(s)}|$d|$variant", {
      val idx = IvfPq.train(corpus, "embedding")
      idx.copy(encoded = idx.encoded.persist())
    })
  // On-disk twin: the cached in-memory index written once in its
  // serving layout (cluster-partitioned parquet + side tables); the
  // indexed query measures the partition- AND column-pruned probe.
  private val ivfpqDiskIndexes =
    new scala.collection.concurrent.TrieMap[String, String]()
  private def ivfpqDiskIndexFor(s: SparkSession, d: String,
                                corpus: DataFrame): String =
    ivfpqDiskIndexes.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-disk").toString
      IvfPq.writeIndex(ivfpqFor(s, d, corpus, "single"), path)
      path
    })
  private val ivfpqOracle = new scala.collection.concurrent
    .TrieMap[String, (Seq[(Int, Array[Double])], PqIndex.Codebooks)]()

  // Fit-once k-means per (session, dataset) shared by the cluster
  // card and the SemDeDup pass — the same fit artifact the IVF index
  // is built from; centroids stash for the oracle like IVF's.
  private val kmeansFits = new scala.collection.concurrent
    .TrieMap[String, Seq[(Int, Array[Double])]]()
  private def kmeansCentersFor(s: SparkSession, d: String): Seq[(Int, Array[Double])] =
    kmeansFits.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val (model, _) = IvfIndex.build(emb, "embedding", nCentroids = 8)
      IvfIndex.centersOf(model)
    })
  private val kmeansOracleCenters =
    new scala.collection.concurrent.TrieMap[String, Seq[(Int, Array[Double])]]()

  // Fit-once PCA components per (session, dataset); the projection
  // query measures the map-side fold, and the components inline as
  // oracle literals exactly like every other fitted parameter here.
  private val pcaFits = new scala.collection.concurrent
    .TrieMap[String, Seq[Array[Double]]]()
  private def pcaCompsFor(s: SparkSession, d: String, emb: DataFrame): Seq[Array[Double]] =
    pcaFits.getOrElseUpdate(s"${System.identityHashCode(s)}|$d",
      Pca.fit(emb, "embedding", 8))
  private val pcaOracleComps =
    new scala.collection.concurrent.TrieMap[String, Seq[Array[Double]]]()

  /** Fitted per-source rate_bp of the temperature mix, stashed when
    * the query runs (rates are derived from a tiny per-source count
    * aggregate — fitted parameters, same replay contract). */
  private val mixTempOracleRates =
    new scala.collection.concurrent.TrieMap[String, Map[String, Int]]()

  // Fit-once corpus BPE merge table per (session, dataset). The fitted
  // merges stash as oracle literals (the k-means-centroid replay
  // contract): the encoder replays in DuckDB as a chain of REPLACEs
  // and the FIT replays rank by rank — each merge re-derived as the
  // argmax adjacent pair under the first i-1 merges.
  private val bpeFits = new scala.collection.concurrent
    .TrieMap[String, Seq[Bpe.Merge]]()
  private val bpeOracleMerges =
    new java.util.concurrent.atomic.AtomicReference[Seq[Bpe.Merge]](Nil)
  private def bpeFor(s: SparkSession, d: String): Seq[Bpe.Merge] =
    bpeFits.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      val m = Bpe.fit(t(s, d, "documents"), "text", nMerges = 10)
      bpeOracleMerges.set(m)
      m
    })

  /** Cluster-occupancy histogram of the cached IVF-PQ index — the
    * observability view (LSH buckets / grid cells / IVF clusters /
    * IVF-PQ cells all expose the same triad shape). One aggregate
    * over the encoded table's partition column. */
  private def ivfpqLibraryInfo(s: SparkSession, d: String): DataFrame = {
    val idx = ivfpqFor(s, d, embCorpus(s, d), "single")
    ivfpqOracle("single") = (idx.centers, idx.books)
    val occ = idx.encoded.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    occ.agg(
      count(lit(1)).cast("int").as("occupied"),
      TextAnalysis.quant6(sum(col("n")).cast("double") / count(lit(1))).as("avg_cluster_size"),
      max(col("n")).as("max_cluster_size"))
      .select(lit(idx.centers.size).as("total_clusters"), col("occupied"),
        col("avg_cluster_size"), col("max_cluster_size"),
        (lit(idx.centers.size) - col("occupied")).as("empty_clusters"))
  }

  /** One entry per implemented operator from SURVEY.md section 2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- A. core relational -------------------------------------------
    "q1_agg" -> ((s, d) => Relational.q1(t(s, d, "lineitem"))),
    "q2_join_agg" -> ((s, d) =>
      Relational.q2(t(s, d, "customer"), t(s, d, "orders"), t(s, d, "nation"))),
    "q3_topk" -> ((s, d) => Relational.q3(t(s, d, "orders"))),
    "q4_window" -> ((s, d) => Relational.q4(t(s, d, "orders"))),
    "q5_distinct" -> ((s, d) => Relational.q5(t(s, d, "lineitem"))),
    "q6_exists_join" -> ((s, d) =>
      Relational.q6(t(s, d, "customer"), t(s, d, "orders"), t(s, d, "nation"))),
    "q7_rollup" -> ((s, d) => Relational.q7(t(s, d, "lineitem"))),
    "q8_pivot" -> ((s, d) => Relational.q8Pivot(t(s, d, "events"))),
    "chunk_stats" -> ((s, d) => TextAnalysis.chunkStats(t(s, d, "documents"))),
    // --- B. vector engine ---------------------------------------------
    "knn_cosine" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.knnFlat(c, q, "vec_id", "embedding", 10, "cosine") }),
    "knn_dot" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.knnFlat(c, q, "vec_id", "embedding", 10, "dot_product") }),
    "knn_euclidean" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.knnFlat(c, q, "vec_id", "embedding", 10, "euclidean") }),
    "knn_manhattan" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.knnFlat(c, q, "vec_id", "embedding", 10, "manhattan") }),
    "knn_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      VectorSearch.knnBatch(emb.filter(col("vec_id") >= 5), qs,
        "vec_id", "embedding", 5, "cosine") }),
    "vector_stats" -> ((s, d) => VectorSearch.vectorStats(t(s, d, "embeddings"))),
    "vector_normalize" -> ((s, d) => VectorSearch.normalized(t(s, d, "embeddings"))),
    "vector_quantize" -> ((s, d) => VectorSearch.quantizeInt8(t(s, d, "embeddings"))),
    "index_info" -> ((s, d) => VectorSearch.gridIndexInfo(t(s, d, "embeddings"))),
    "hybrid_search" -> ((s, d) => { configure(s)
      // dense side scores the STORED embedding column (materialized
      // once per dataset, as a library store would at ingest) — only
      // the query text is embedded per search.
      TextSearch.hybrid(Tables.documentsEmbedded(s, d), "spark join stream window") }),
    "hybrid_search_batch" -> ((s, d) => { configure(s)
      // N hybrid queries in one corpus pass: all terms share a single
      // tokenizer scan, stats aggregate once, vectors ride as literals.
      TextSearch.hybridBatch(Tables.documentsEmbedded(s, d),
        Seq("spark join stream window", "table scan filter hash",
          "sort merge partition key"), topN = 10) }),
    "hybrid_search_rrf" -> ((s, d) => { configure(s)
      // rank-based fusion twin of hybrid_search: 1/(60+rank) from each
      // retriever's top-100 list, no score normalization needed.
      TextSearch.hybridRrf(Tables.documentsEmbedded(s, d),
        "spark join stream window") }),
    "lsh_knn" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.lshKnn(c, q, "vec_id", "embedding", 10) }),
    "lsh_knn_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      VectorSearch.lshKnnBatch(emb.filter(col("vec_id") >= 5), qs,
        "vec_id", "embedding", 10) }),
    "grid_knn" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.gridKnn(c, q, "vec_id", "embedding", 10) }),
    "grid_knn_expanding" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // the reference's expanding-radius probe: widen the cell
      // neighborhood until >= 2k candidates, then exact re-rank.
      VectorSearch.gridKnnExpanding(c, q, "vec_id", "embedding", 10) }),
    "grid_knn_indexed" -> ((s, d) => { val (_, q) = embQuery(s, d)
      // expanding probe served from the PERSISTED fitted grid: radius
      // from per-cell occupancy (partition-column aggregate), probe
      // scan partition-pruned — no per-query corpus bounds pass.
      val (path, lo, hi, counts) = gridDiskIndexFor(s, d)
      VectorSearch.gridKnnIndexed(s.read.parquet(path), lo, hi, q,
        "vec_id", "embedding", 10, countsOpt = Some(counts)) }),
    "grid_knn_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      VectorSearch.gridKnnBatch(emb.filter(col("vec_id") >= 3), qs,
        "vec_id", "embedding", 10) }),
    "grid_knn_expanding_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      VectorSearch.gridKnnExpandingBatch(emb.filter(col("vec_id") >= 3), qs,
        "vec_id", "embedding", 10) }),
    "ivf_knn" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // build-once / probe-many: the first call fits + pins the index,
      // every later call measures the partition-pruned probe only.
      // Exact-assignment variant: hash-verified against the DuckDB
      // replay of the same fitted centroids.
      val (centers, assigned) = ivfExactFor(s, d, c)
      ivfOracleCenters("single") = centers
      IvfIndex.search(assigned, centers, q, "vec_id", "embedding", 10) }),
    "ivf_knn_spill" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // spilled (boundary-replicated) index probed at nProbe=1: the
      // index-side multi-probe trick — recall from replication, I/O
      // from a single Voronoi cell.
      val (centers, assigned) = ivfSpillExactFor(s, d, c)
      ivfOracleCenters("spill") = centers
      IvfIndex.searchSpill(assigned, centers, q,
        "vec_id", "embedding", 10, nProbe = 1) }),
    "ivf_knn_batch" -> ((s, d) => {
      // batch probe of the build-once ON-DISK index: one pruned scan
      // of the union of all queries' cells serves every query.
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.searchIndexedBatch(s, ivfDiskIndexFor(s, d), qs,
        "vec_id", "embedding", 5) }),
    "ann_recall_sweep" -> ((s, d) => {
      // index accuracy self-audit: recall@10 of the persisted IVF
      // probe vs the exact scan at depths 1/2/4 — one scan of the
      // deepest depth's cells + one exact pass serves the whole sweep.
      val path = ivfDiskIndexFor(s, d)
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.recallSweep(s.read.parquet(s"$path/assigned"),
        IvfIndex.readCentroids(s, s"$path/centroids"), qs,
        "vec_id", "embedding", 10) }),
    "index_advisor" -> ((s, d) =>
      // ingest-time strategy advisory (the Spark reframing of the
      // reference's silent per-query auto selection — see Advisor).
      Advisor.indexAdvisor(t(s, d, "embeddings"))),
    "pq_knn" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // train-once / probe-many: first call fits the subspace
      // codebooks + pins the encoded corpus; later calls measure the
      // codes-only ADC shortlist + exact re-rank.
      val (books, enc) = pqFor(s, d, c, "single")
      pqOracleBooks("single") = books
      PqIndex.search(enc, books, q, "vec_id", "embedding", 10) }),
    "pq_knn_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val (books, enc) = pqFor(s, d, corpus, "batch")
      pqOracleBooks("batch") = books
      PqIndex.searchBatch(enc, books, qs, "vec_id", "embedding", 5) }),
    "ivfpq_knn" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // composed index: IVF cell pruning + residual-PQ codes-only ADC
      // + exact re-rank — train-once / probe-many like its parents.
      val idx = ivfpqFor(s, d, c, "single")
      ivfpqOracle("single") = (idx.centers, idx.books)
      IvfPq.search(idx, q, "vec_id", "embedding", 10) }),
    "ivfpq_knn_indexed" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // the SAME fitted index probed from its on-disk serving layout:
      // partition pruning (nProbe cells) + column pruning (codes-only
      // phase 1) on one parquet table; results — and the oracle —
      // are identical to ivfpq_knn by construction.
      val idx = ivfpqFor(s, d, c, "single")
      ivfpqOracle("single") = (idx.centers, idx.books)
      IvfPq.searchIndexed(s, ivfpqDiskIndexFor(s, d, c), q,
        "vec_id", "embedding", 10) }),
    "ivfpq_knn_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val idx = ivfpqFor(s, d, corpus, "batch")
      ivfpqOracle("batch") = (idx.centers, idx.books)
      IvfPq.searchBatch(idx, qs, "vec_id", "embedding", 5) }),
    "ivfpq_recall_sweep" -> ((s, d) => {
      // accuracy self-audit of the COMPOSED index: recall@10 vs the
      // exact scan at probe depths 1/2/4, measuring cell pruning AND
      // the ADC shortlist together — one deep codes scan serves every
      // depth (see IvfPq.recallSweep).
      val emb = t(s, d, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val idx = ivfpqFor(s, d, corpus, "batch")
      ivfpqOracle("batch") = (idx.centers, idx.books)
      IvfPq.recallSweep(idx, qs, "vec_id", "embedding", 10) }),
    "cluster_sample" -> ((s, d) => {
      // diversity cap: at most 40 vectors per k-means cluster, kept by
      // the deterministic splitmix64 rank (cap chosen so the synthetic
      // corpus exercises both kept and dropped rows).
      val cents = kmeansCentersFor(s, d)
      kmeansOracleCenters("kmeans") = cents
      Clustering.clusterSample(t(s, d, "embeddings"), cents, cap = 40) }),
    "embedding_outliers" -> ((s, d) => {
      // embedding-space quality gate: distance-to-centroid vs the
      // cluster's mean + 2 sigma threshold.
      val cents = kmeansCentersFor(s, d)
      kmeansOracleCenters("kmeans") = cents
      Clustering.embeddingOutliers(t(s, d, "embeddings"), cents) }),
    "embedding_drift" -> ((s, d) => {
      // per-dimension mean shift between two snapshot carvings (even
      // vs odd vec_id) — the distribution-shift monitor.
      val emb = t(s, d, "embeddings")
      Clustering.embeddingDrift(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1)) }),
    "pca_knn" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // two-phase dimension-reduction search: 8-dim PCA shortlist,
      // exact re-rank (the projection rung of the ANN ladder).
      val comps = pcaCompsFor(s, d, t(s, d, "embeddings"))
      pcaOracleComps("pca") = comps
      Pca.knn(c, comps, q, "vec_id", "embedding", 10) }),
    "knn_quantized" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.knnQuantized(c, q, "vec_id", "embedding", 10) }),
    "knn_quantized_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val store = emb.filter(col("vec_id") >= 3).withColumn("codes",
        quantizeVec(l2Normalize(col("embedding"))))
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      VectorSearch.knnQuantizedBatch(store, qs,
        "vec_id", "embedding", "codes", 10) }),
    "mmr_rerank" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // diversity-aware top-k (Carbonell & Goldstein MMR): distributed
      // relevance shortlist, greedy lambda-blend selection.
      VectorSearch.mmrRerank(c, q, "vec_id", "embedding", 10) }),
    "mmr_rerank_batch" -> ((s, d) => {
      // batch twin: N queries share ONE shortlist scan (bounded
      // per-query heap, vectors fetched once via In-filter); greedy
      // selection identical to the single-query form per query.
      val emb = t(s, d, "embeddings")
      VectorSearch.mmrRerankBatch(emb.filter(col("vec_id") >= 3),
        emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
        "vec_id", "embedding", 10) }),
    "knn_binary" -> ((s, d) => { val (c, q) = embQuery(s, d)
      // 1-bit rung of the quantization ladder: packed sign bits,
      // XOR+popcount phase 1 (8 bytes/row at 64 dims), exact re-rank.
      VectorSearch.knnBinary(c, q, "vec_id", "embedding", 10) }),
    "knn_binary_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val store = emb.filter(col("vec_id") >= 3)
        .withColumn("bits", bitPack(col("embedding")))
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      VectorSearch.knnBinaryBatch(store, qs, "vec_id", "embedding", "bits", 10) }),
    "binary_recall_sweep" -> ((s, d) => {
      // accuracy self-audit of the 1-bit rung: recall@10 vs exact at
      // rerank factors 2/4/8 through ONE deepest-factor codes scan.
      val emb = t(s, d, "embeddings")
      val store = emb.filter(col("vec_id") >= 5)
        .withColumn("bits", bitPack(col("embedding")))
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      VectorSearch.binaryRecallSweep(store, qs, "vec_id", "embedding", "bits", 10) }),
    "binary_index_info" -> ((s, d) =>
      // bit-balance audit: per-dimension sign density of the corpus
      // codes (stuck dims contribute nothing to Hamming distance).
      VectorSearch.binaryIndexInfo(t(s, d, "embeddings"))),
    "knn_filtered" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.knnFiltered(c, q, col("label") === 3,
        "vec_id", "embedding", 10, "cosine") }),
    "vector_range_search" -> ((s, d) => { val (c, q) = embQuery(s, d)
      VectorSearch.rangeSearch(c, q, "vec_id", "embedding", 0.2, "cosine") }),
    // --- C. embedding + chunking pipeline -----------------------------
    "embed_documents" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        posexplode(embedText(col("text"), 64)).as(Seq("pos", "emb_val")))
        // widen to double BEFORE rounding: the cross-engine contract is
        // "round the float's exact double value", not float-typed round
        .select(col("doc_id"), col("pos"),
          round(col("emb_val").cast("double"), 6).as("emb_val"))
        .orderBy(col("doc_id").asc, col("pos").asc)),
    "chunk_sentences" -> ((s, d) => TextAnalysis.chunkWords(t(s, d, "documents"))),
    "chunk_sliding" -> ((s, d) => TextAnalysis.chunkSliding(t(s, d, "documents"))),
    "library_search_e2e" -> ((s, d) => librarySearchE2E(s, d)),
    "library_search_chunks" -> ((s, d) => { configure(s)
      // the reference's SearchResponse: each hit carries its chunk
      // payload — k-row broadcast semi-join back into the store scan.
      VectorLibrary.forDataset(s, d)
        .searchWithChunks("spark join stream table filter", 10) }),
    "library_lsh_partitioned" -> ((s, d) => { configure(s)
      // probe of the bucket-partitioned on-disk LSH index of a
      // build-once library (the 100 TB serving layout: I/O scales with
      // the candidate set, not the corpus).
      VectorLibrary.forDataset(s, d).searchApprox("spark join stream table filter", 10) }),
    "library_lsh_quantized" -> ((s, d) => { configure(s)
      // two-phase probe served ENTIRELY from the partitioned index:
      // int8 phase-1 over the stored codes in the pruned directories,
      // exact float re-rank of the survivors from the same directories.
      VectorLibrary.forDataset(s, d)
        .searchApproxQuantized("spark join stream table filter", 10) }),
    "library_lsh_batch" -> ((s, d) => { configure(s)
      // N query texts against the SAME partitioned index in one pass:
      // the scan reads the union of all queries' probe partitions once.
      VectorLibrary.forDataset(s, d).searchApproxBatch(Seq(
        "spark join stream table filter",
        "vector index search embedding",
        "window aggregate partition shuffle"), 5) }),
    "library_search_filtered" -> ((s, d) => { configure(s)
      // metadata-scoped probe (the reference's per-library search
      // scoping generalized to arbitrary predicates): the source
      // filter is applied INSIDE the pruned (tbl, bucket) directories
      // of the partitioned LSH index — partition pruning x pushed
      // row-group predicate — never post-hoc on the shortlist.
      VectorLibrary.forDataset(s, d).searchApprox(
        "spark join stream table filter", 10,
        filter = Some(col("source").isin("src1", "src4", "src7"))) }),
    // --- D. dedup suite ------------------------------------------------
    "contamination" -> ((s, d) => {
      // benchmark decontamination: eval = the low-id slice standing in
      // for a held-out benchmark; train = the rest of the corpus.
      val docs = t(s, d, "documents")
      Pipeline.contamination(docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50)) }),
    "dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"))),
    "dedup_minhash" -> ((s, d) => Dedup.minhashLsh(t(s, d, "documents"))),
    "dedup_simhash" -> ((s, d) => Dedup.simhashDedup(t(s, d, "documents"))),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(t(s, d, "documents"))),
    "dedup_embedding" -> ((s, d) => Dedup.embeddingNearDup(t(s, d, "embeddings"))),
    "cluster_embeddings" -> ((s, d) => {
      // embedding-space dataset card: fit-once k-means (the IVF fit
      // artifact), map-side exact assignment, one cluster-keyed agg.
      val cents = kmeansCentersFor(s, d)
      kmeansOracleCenters("kmeans") = cents
      Clustering.clusterCard(t(s, d, "embeddings"), cents) }),
    "dedup_semantic" -> ((s, d) => {
      // SemDeDup: near-dups blocked by k-means cluster (the cluster
      // plays the LSH bucket's role); linear best-match output.
      val cents = kmeansCentersFor(s, d)
      kmeansOracleCenters("kmeans") = cents
      Clustering.semanticDedup(t(s, d, "embeddings"), cents) }),
    "embedding_pca" -> ((s, d) => {
      // fit-once PCA, map-side fold projection onto the broadcast
      // component literals (never model.transform — see Pca).
      val emb = t(s, d, "embeddings")
      val comps = pcaCompsFor(s, d, emb)
      pcaOracleComps("pca") = comps
      Pca.project(emb, comps) }),
    "dedup_normalized" -> ((s, d) => Dedup.normalized(t(s, d, "documents"))),
    "dedup_substring" -> ((s, d) =>
      // duplicated-span audit (Lee et al. 2022): fraction of each
      // doc's 20-token windows that also appear in another doc.
      Dedup.substringDup(t(s, d, "documents"))),
    "dedup_embedding_lsh" -> ((s, d) => Dedup.embeddingNearDupLsh(t(s, d, "embeddings"))),
    "dedup_minhash_groups" -> ((s, d) => Dedup.minhashGroups(t(s, d, "documents"))),
    "dedup_incremental" -> ((s, d) => {
      // nightly-crawl shape: docs with doc_id % 10 = 7 play the new
      // batch, the rest the already-deduped corpus — candidates are
      // new×old only, output one best match per new doc.
      val docs = t(s, d, "documents")
      Dedup.minhashIncremental(docs.filter(pmod(col("doc_id"), lit(10)) === 7),
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)) }),
    "minhash_accuracy" -> ((s, d) =>
      // estimate-vs-exact Jaccard audit over banded candidate pairs —
      // the dedup family's recall-sweep analog.
      Dedup.minhashAccuracy(t(s, d, "documents"))),
    "dedup_keep_best" -> ((s, d) =>
      // keep-best clustering: representative = longest member (token
      // count as the pluggable quality score), lowest id on ties.
      Dedup.minhashGroupsBest(t(s, d, "documents"),
        textStats(col("text")).getField("n_tokens"))),
    "source_overlap" -> ((s, d) => Pipeline.sourceOverlap(t(s, d, "documents"))),
    "shard_manifest" -> ((s, d) =>
      // per-shard reproducibility manifest with an order-independent
      // membership checksum.
      Pipeline.shardManifest(t(s, d, "documents"))),
    "prepare_corpus" -> ((s, d) => Pipeline.prepareCorpus(t(s, d, "documents"))),
    "dedup_components" -> ((s, d) => Dedup.minhashComponents(t(s, d, "documents"))),
    // --- E. text analysis ----------------------------------------------
    "text_tokens" -> ((s, d) => TextAnalysis.tokenStats(t(s, d, "documents"))),
    "text_repetition" -> ((s, d) => TextAnalysis.repetition(t(s, d, "documents"))),
    "corpus_stats" -> ((s, d) => TextAnalysis.corpusStats(t(s, d, "documents"))),
    "text_quality" -> ((s, d) => TextAnalysis.qualityScore(t(s, d, "documents"))),
    "text_langid" -> ((s, d) => TextAnalysis.langId(t(s, d, "documents"))),
    "text_langid_multi" -> ((s, d) => TextAnalysis.langIdMulti(t(s, d, "documents"))),
    "text_fingerprint" -> ((s, d) => TextAnalysis.contentFingerprint(t(s, d, "documents"))),
    "text_pii" -> ((s, d) => {
      // The synthetic corpus carries no PII, so the query plants a
      // deterministic contact block per document (pure function of
      // doc_id + source) and verifies the scrubber end to end —
      // detection counts AND the redacted text round-trip through the
      // oracle.
      val docs = t(s, d, "documents")
      Pipeline.piiScrub(docs.select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via https://"),
          col("source"), lit(".org/doc/"), col("doc_id"),
          lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")).as("text")))
    }),
    "text_vocab" -> ((s, d) => TextAnalysis.vocabulary(t(s, d, "documents"))),
    "vocab_coverage" -> ((s, d) =>
      // OOV-rate dataset card against the corpus's own top-20 vocab
      // (20 of 31 synthetic tokens, so both paths exercise).
      TextAnalysis.vocabCoverage(t(s, d, "documents"))),
    "winnow_matches" -> ((s, d) =>
      // pair view of the winnowing sketch: local-overlap detection via
      // an inverted-index join on sketch hashes.
      Dedup.winnowMatches(t(s, d, "documents"))),
    "winnow_sketch" -> ((s, d) =>
      // MOSS winnowing fingerprint: distinct sliding-window minima of
      // positional shingle hashes — local-similarity sketch.
      t(s, d, "documents").select(col("doc_id"),
        posexplode(winnowSketch(col("text"))).as(Seq("sk_idx", "sketch_hash")))
        .orderBy(col("doc_id").asc, col("sk_idx").asc)),
    "tokenize_ids" -> ((s, d) =>
      // vocab-id encoding (UNK=0): the (doc, pos, id) layout a
      // training loader consumes; same fitted vocab as vocab_coverage.
      TextAnalysis.tokenizeIds(t(s, d, "documents"))),
    "bpe_fit" -> ((s, d) =>
      // corpus BPE merge table: one corpus aggregate, then vocab-scale
      // iterative pair-count argmaxes; merges stash as oracle literals
      Bpe.mergesDf(s, bpeFor(s, d))),
    "tokenize_bpe" -> ((s, d) =>
      // per-doc subword budget under the fitted merges: the REPLACE
      // chain encoder, whole-stage codegen, no UDF
      Bpe.tokenCounts(t(s, d, "documents"), "doc_id", "text", bpeFor(s, d))
        .orderBy(col("doc_id").asc)),
    "pack_sequences_bpe" -> ((s, d) =>
      // pack_sequences re-expressed over ENCODED lengths — the budget
      // a training loader actually packs with
      Bpe.packSequencesBpe(t(s, d, "documents"), bpeFor(s, d))),
    "doc_knn" -> ((s, d) =>
      // document-level retrieval over the pooled vectors: exploded-form
      // cosine with decimal-summed dot, top-10 docs. AUDIT form —
      // re-pools the chunks per query; doc_knn_pooled is the serving
      // twin over the materialized pool.
      TextAnalysis.docKnn(t(s, d, "documents"),
        embedLit("spark join stream table filter").map(_.toDouble))),
    "doc_knn_pooled" -> ((s, d) =>
      // SERVING form: the pooled table is materialized once per
      // dataset (the ingest-time layout a real deployment persists);
      // the probe is one scan of ndocs*dim exploded rows + a doc_id
      // roll-up — the chunk-level embed/pool never re-runs per query.
      TextAnalysis.docKnnPooled(
        s.read.parquet(docPoolDiskFor(s, d)),
        embedLit("spark join stream table filter").map(_.toDouble))),
    "doc_pool" -> ((s, d) =>
      // chunk -> embed -> mean-pool to one vector per document,
      // exploded (doc_id, pos, pool_val); decimal-sum discipline.
      TextAnalysis.docPooledEmbedding(t(s, d, "documents"))),
    "keyword_bm25" -> ((s, d) => TextSearch.bm25(t(s, d, "documents"),
      Seq("spark", "join", "stream", "window"))),
    "sample_split" -> ((s, d) => Pipeline.sampleSplit(t(s, d, "documents"))),
    "mix_sample" -> ((s, d) => Pipeline.mixSample(t(s, d, "documents"),
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0),
      defaultRate = 0.75)),
    "mix_sample_exact" -> ((s, d) => Pipeline.mixSampleExact(t(s, d, "documents"),
      Map("src0" -> 50, "src1" -> 25, "src2" -> 0), defaultQuota = 100)),
    "mix_temperature" -> ((s, d) => {
      // temperature-scaled source mixing: rates fit from the tiny
      // per-source count aggregate, membership is the same replayable
      // splitmix64 gate mix_sample uses.
      val (rates, out) = Curation.mixTemperature(t(s, d, "documents"))
      mixTempOracleRates("rates") = rates
      out }),
    "gopher_quality" -> ((s, d) =>
      // Gopher-rule format/repetition gates; minWords lowered to 20 so
      // the synthetic corpus exercises both sides of every rule.
      Curation.gopherQuality(t(s, d, "documents"), minWords = 20)),
    "quality_classifier" -> ((s, d) =>
      // model-based quality tier: fixed-coefficient linear classifier
      // over one-pass features; keep = sign of the logit.
      Curation.qualityClassifier(t(s, d, "documents"))),
    "corpus_diff" -> ((s, d) => {
      // snapshot diff over two deterministic carvings of the corpus:
      // old drops doc_id%7=3 (-> added), new drops doc_id%5=2
      // (-> removed) and rewrites doc_id%11=5 (-> changed).
      val docs = t(s, d, "documents")
      Curation.corpusDiff(
        docs.filter(col("doc_id") % 7 =!= 3),
        docs.filter(col("doc_id") % 5 =!= 2)
          .withColumn("text", when(col("doc_id") % 11 === 5,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))) }),
    "shard_pack" -> ((s, d) => Pipeline.shardPack(t(s, d, "documents"))),
    "pack_sequences" -> ((s, d) => Pipeline.packSequences(t(s, d, "documents"))),
    "clean_corpus" -> ((s, d) => Pipeline.cleanCorpus(t(s, d, "documents"))),
    // --- F. events ------------------------------------------------------
    "events_window_agg" -> ((s, d) => Events.windowAgg(t(s, d, "events"))),
    "events_sessionize" -> ((s, d) => Events.sessionize(t(s, d, "events"))),
    "events_funnel" -> ((s, d) => Events.funnel(t(s, d, "events"))),
    "events_retention" -> ((s, d) => Events.retention(t(s, d, "events"))),
    "events_anomaly" -> ((s, d) => Events.anomalies(t(s, d, "events"))),
    "events_asof" -> ((s, d) => Events.asofJoin(t(s, d, "events"))),
    "events_range_join" -> ((s, d) => Events.rangeJoin(t(s, d, "events"))),
    "events_rolling" -> ((s, d) => Events.rolling(t(s, d, "events"))),
    "events_percentiles" -> ((s, d) => Events.valuePercentiles(t(s, d, "events"))),
    "text_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(t(s, d, "documents"))),
    "text_surprise" -> ((s, d) => TextAnalysis.unigramSurprise(t(s, d, "documents"))),
    "text_bigram_surprise" -> ((s, d) => TextAnalysis.bigramSurprise(t(s, d, "documents"))),
    "top_ngrams" -> ((s, d) => TextAnalysis.topNgrams(t(s, d, "documents"))),
    "ivfpq_index_info" -> ((s, d) => {
      // library-side observability for the composed index: cluster
      // occupancy + assignment drift vs the build baseline (the
      // IVF/LSH/grid triad's fourth member)
      ivfpqLibraryInfo(s, d) }),
    // --- G. multimodal --------------------------------------------------
    "multimodal_features" -> ((s, d) => Multimodal.features(t(s, d, "documents"))),
    "multimodal_framesample" -> ((s, d) => Multimodal.frameSample(t(s, d, "documents"))),
    "multimodal_neardup" -> ((s, d) =>
      // pHash-shaped perceptual dedup: stub feature vector -> sign
      // fingerprint -> group on the 8-byte code.
      Multimodal.nearDup(t(s, d, "documents")))
  )

  // --- DuckDB oracle SQL (see SURVEY.md paragraph 5 for parity rules) -----
  private val toksCte =
    "SELECT doc_id, source, list_filter(string_split_regex(lower(text)," +
      "'[^a-z0-9]+'), x -> x <> '') toks FROM documents"
  private val stopList =
    TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString("[", ",", "]")
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
  private val embD = "CAST(e.embedding AS DOUBLE[])"

  // ---- LSH oracle machinery --------------------------------------------
  // The hyperplane matrix is seeded-deterministic, so it can ride into
  // the oracle as SQL literals: Double.toString is shortest-round-trip
  // (DuckDB parses it back to the identical double), and DuckDB's
  // list_dot_product is a sequential fold — bit-identical to the
  // HyperplaneBuckets kernel. That upgrades the LSH queries from
  // rows-only to hash-verified.
  private val lshTables = 8
  private val lshBits = 8
  private val lshDim = 64
  /** [p0, p1, ...] literal for hyperplane (t, b). */
  private def planeLit(t: Int, b: Int): String = {
    val planes = graft.functions.TextHash.planesFor(lshTables, lshBits, lshDim, 42L)
    val off = (t * lshBits + b) * lshDim
    (0 until lshDim).map(j => planes(off + j).toString).mkString("[", ", ", "]")
  }
  /** SELECT-list fragment: one dot product per (table, bit), named d{t}_{b}. */
  private def lshDotsSql(v: String, prefix: String): String =
    (for (t <- 0 until lshTables; b <- 0 until lshBits)
      yield s"list_dot_product($v, ${planeLit(t, b)}) AS $prefix${t}_$b").mkString(", ")
  /** Bucket id of table t from the named dots: sign bits packed. */
  private def lshBucketFromDots(prefix: String, t: Int): String =
    (0 until lshBits).map(b =>
      s"(CASE WHEN $prefix${t}_$b >= 0e0 THEN ${1 << b} ELSE 0 END)")
      .mkString("(", " + ", ")")

  // ---- IVF oracle machinery --------------------------------------------
  // The fitted centroids inline as exact double literals (stashed when
  // the query runs); assignment is the sequential-fold squared distance
  // argmin with lowest-cluster tie-break — the same left fold DuckDB's
  // list_reduce computes, so assignment, probe and re-rank all replay
  // bit-identically.
  private def ivfSqdSql(v: String, c: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> " +
      s"($v[CAST(i AS INT)]-$c[CAST(i AS INT)])*($v[CAST(i AS INT)]-$c[CAST(i AS INT)])), " +
      "(a, b) -> a + b)"
  private def ivfCentsCte(centers: Seq[(Int, Array[Double])]): String =
    "cents(cluster, c) AS (SELECT * FROM (VALUES " +
      centers.map { case (i, arr) =>
        s"($i, ${arr.map(_.toString).mkString("[", ", ", "]")})"
      }.mkString(", ") + ") AS _cents(cluster, c))"
  /** corpus + exact nearest-centroid assignment CTEs (e, ad, a). */
  private def ivfAssignCtes(corpusPred: String): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE $corpusPred),
       | ad AS (SELECT vec_id, v, cluster, ${ivfSqdSql("v", "c")} AS d FROM e, cents),
       | a AS (SELECT vec_id, v, cluster FROM (
       |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS arn FROM ad)
       |  WHERE arn = 1)""".stripMargin

  /** Expanding-radius grid oracle, shared by the ad-hoc and indexed
    * probes (identical semantics; see the map entries). */
  private lazy val gridExpandingOracleSql: String = {
    def cell(src: String, d: Int): String =
      s"CAST(least(greatest(floor((CAST($src[${d + 1}] AS DOUBLE) - lo$d) / rg$d * 4), 0), 3) AS INT)"
    s"""WITH e AS (SELECT vec_id, embedding ef, CAST(embedding AS DOUBLE[]) v
       |           FROM embeddings WHERE vec_id <> 0),
       | q0 AS (SELECT embedding qef, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
       | b AS (SELECT ${(0 until 4).map(d =>
                s"CAST(MIN(ef[${d + 1}]) AS DOUBLE) lo$d, " +
                s"greatest(CAST(MAX(ef[${d + 1}]) AS DOUBLE) - CAST(MIN(ef[${d + 1}]) AS DOUBLE), 1.0e-12) rg$d")
                .mkString(", ")} FROM e),
       | qc AS (SELECT ${(0 until 4).map(d => s"${cell("qef", d)} AS qc$d").mkString(", ")}, qv
       |        FROM q0, b),
       | ch AS (SELECT vec_id, v, qv, greatest(${(0 until 4).map(d =>
                  s"abs(${cell("ef", d)} - qc$d)").mkString(", ")}) AS cheb
       |        FROM e, b, qc),
       | rads AS (SELECT unnest([0, 1, 2, 3]) AS rr),
       | pick AS (SELECT COALESCE(MIN(rr), 3) AS radius FROM rads
       |          WHERE (SELECT COUNT(*) FROM ch WHERE cheb <= rr) >= 20)
       |SELECT vec_id, ROUND(1.0/(1.0 + list_distance(v, qv)), 6) AS score
       |FROM ch, pick WHERE cheb <= radius
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  /** The IVF oracle entries — present only once the queries have run
    * and stashed their fitted centroids (Verify's order); absent
    * entries degrade to the driver's rows-only check, never to a wrong
    * oracle. */
  private def ivfOracleSql: Map[String, String] = {
    val single = ivfOracleCenters.get("single").map { cents =>
      "ivf_knn" ->
        s"""WITH ${ivfCentsCte(cents)},
           | ${ivfAssignCtes("vec_id <> 0")},
           | q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
           | probe AS (SELECT cluster FROM cents, q0
           |           ORDER BY ${ivfSqdSql("qv", "c")}, cluster LIMIT 4)
           |SELECT vec_id, ROUND(${cosSql("v", "qv")}, 6) AS score
           |FROM a, q0 WHERE a.cluster IN (SELECT cluster FROM probe)
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    }
    val spill = ivfOracleCenters.get("spill").map { cents =>
      "ivf_knn_spill" ->
        s"""WITH ${ivfCentsCte(cents)},
           | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id <> 0),
           | ad AS (SELECT vec_id, v, cluster, ${ivfSqdSql("v", "c")} AS d FROM e, cents),
           | am AS (SELECT *, min(d) OVER (PARTITION BY vec_id) AS dmin,
           |          row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS arn FROM ad),
           | a AS (SELECT vec_id, v, cluster FROM am WHERE arn <= 2 AND d <= dmin * 1.2),
           | q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
           | probe AS (SELECT cluster FROM cents, q0
           |           ORDER BY ${ivfSqdSql("qv", "c")}, cluster LIMIT 1),
           | sc AS (SELECT vec_id, ROUND(${cosSql("v", "qv")}, 6) AS score
           |        FROM a, q0 WHERE a.cluster IN (SELECT cluster FROM probe))
           |SELECT vec_id, MAX(score) AS score FROM sc GROUP BY vec_id
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    }
    val batch = ivfOracleCenters.get("batch").map { cents =>
      "ivf_knn_batch" ->
        s"""WITH ${ivfCentsCte(cents)},
           | ${ivfAssignCtes("vec_id >= 5")},
           | q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
           |        FROM embeddings WHERE vec_id < 5),
           | pd AS (SELECT query_id, qv, cluster, ${ivfSqdSql("qv", "c")} AS qd FROM q0, cents),
           | probe AS (SELECT query_id, cluster FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qd, cluster) AS prn
           |    FROM pd) WHERE prn <= 4),
           | sc AS (SELECT probe.query_id, a.vec_id,
           |          ROUND(${cosSql("a.v", "q0.qv")}, 6) AS score
           |        FROM a JOIN probe ON a.cluster = probe.cluster
           |               JOIN q0 ON q0.query_id = probe.query_id),
           | r AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
           |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM sc)
           |SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
    }
    // Same stashed centroids as the batch probe; the sweep replays the
    // per-query cluster ranking once at the deepest depth, tags each
    // candidate with its cell's probe rank, and evaluates every depth
    // against the exact top-10 — the same single-deep-scan shape the
    // Spark operator plans.
    val recall = ivfOracleCenters.get("batch").map { cents =>
      "ann_recall_sweep" ->
        s"""WITH ${ivfCentsCte(cents)},
           | ${ivfAssignCtes("vec_id >= 5")},
           | q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
           |        FROM embeddings WHERE vec_id < 5),
           | sweep AS (SELECT unnest([1, 2, 4]) AS n_probe),
           | pd AS (SELECT query_id, cluster, ${ivfSqdSql("qv", "c")} AS qd FROM q0, cents),
           | probe AS (SELECT query_id, cluster, prn FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qd, cluster) AS prn
           |    FROM pd) WHERE prn <= 4),
           | sc AS (SELECT probe.query_id, probe.prn, a.vec_id,
           |          ROUND(${cosSql("a.v", "q0.qv")}, 6) AS score
           |        FROM a JOIN probe ON a.cluster = probe.cluster
           |               JOIN q0 ON q0.query_id = probe.query_id),
           | ax AS (SELECT query_id, n_probe, vec_id FROM (
           |    SELECT sc.query_id, sweep.n_probe, sc.vec_id, row_number() OVER (
           |      PARTITION BY sc.query_id, sweep.n_probe
           |      ORDER BY sc.score DESC, sc.vec_id) AS rnk
           |    FROM sc JOIN sweep ON sweep.n_probe >= sc.prn) WHERE rnk <= 10),
           | ex AS (SELECT query_id, vec_id FROM (
           |    SELECT q0.query_id, e.vec_id, row_number() OVER (
           |      PARTITION BY q0.query_id
           |      ORDER BY ROUND(${cosSql("e.v", "q0.qv")}, 6) DESC, e.vec_id) AS rnk
           |    FROM e, q0) WHERE rnk <= 10),
           | hits AS (SELECT ax.query_id, ax.n_probe, COUNT(*) AS nh
           |          FROM ax JOIN ex ON ax.query_id = ex.query_id AND ax.vec_id = ex.vec_id
           |          GROUP BY 1, 2)
           |SELECT q0.query_id, sweep.n_probe,
           |  ROUND(COALESCE(nh, 0) / 10.0, 6) AS recall
           |FROM q0 CROSS JOIN sweep
           |  LEFT JOIN hits ON hits.query_id = q0.query_id AND hits.n_probe = sweep.n_probe
           |ORDER BY q0.query_id, sweep.n_probe""".stripMargin
    }
    (single.toSeq ++ spill.toSeq ++ batch.toSeq ++ recall.toSeq).toMap
  }

  // ---- clustering / PCA / mix-temperature oracle machinery -------------
  // Same replay contract as the IVF family: fitted parameters inline
  // as exact double literals; assignment and projection are the
  // sequential folds DuckDB computes identically.
  private def fitOracleSql: Map[String, String] = {
    val km = kmeansOracleCenters.get("kmeans")
    val card = km.map { cents =>
      "cluster_embeddings" ->
        s"""WITH ${ivfCentsCte(cents)},
           | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
           | ad AS (SELECT vec_id, cluster, ${ivfSqdSql("v", "c")} AS d FROM e, cents),
           | a AS (SELECT vec_id, cluster, d FROM (
           |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS arn
           |   FROM ad) WHERE arn = 1),
           | r AS (SELECT *, row_number() OVER (
           |        PARTITION BY cluster ORDER BY d, vec_id) AS crn FROM a)
           |SELECT cluster, COUNT(*) AS n_vectors,
           | ROUND(CAST(SUM(CAST(round(d, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
           |   AS avg_sqdist,
           | MIN(CASE WHEN crn = 1 THEN vec_id END) AS exemplar_id
           |FROM r GROUP BY cluster ORDER BY cluster""".stripMargin
    }
    val sem = km.map { cents =>
      "dedup_semantic" ->
        s"""WITH ${ivfCentsCte(cents)},
           | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
           | ad AS (SELECT vec_id, v, cluster, ${ivfSqdSql("v", "c")} AS d FROM e, cents),
           | a AS (SELECT vec_id, v, cluster FROM (
           |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS arn
           |   FROM ad) WHERE arn = 1),
           | p AS (SELECT hi.vec_id AS vec_id, lo.vec_id AS dup_of,
           |        ROUND(${cosSql("lo.v", "hi.v")}, 6) AS cos_sim
           |       FROM a lo JOIN a hi
           |         ON lo.cluster = hi.cluster AND lo.vec_id < hi.vec_id),
           | f AS (SELECT * FROM p WHERE cos_sim >= 0.3),
           | r AS (SELECT *, row_number() OVER (
           |        PARTITION BY vec_id ORDER BY cos_sim DESC, dup_of) AS rn FROM f)
           |SELECT vec_id, dup_of, cos_sim FROM r WHERE rn = 1
           |ORDER BY vec_id""".stripMargin
    }
    val samp = km.map { cents =>
      "cluster_sample" ->
        s"""WITH ${ivfCentsCte(cents)},
           | ${ivfAssignCtes("TRUE")},
           | m AS (SELECT vec_id, cluster,
           |        ${HashSql.mix("CAST(vec_id + 42 AS UBIGINT)")} >> 1 AS rk FROM a),
           | r AS (SELECT vec_id, cluster, CAST(row_number() OVER (
           |        PARTITION BY cluster ORDER BY rk, vec_id) AS INT) AS sample_rank FROM m)
           |SELECT vec_id, cluster, sample_rank, sample_rank <= 40 AS kept
           |FROM r ORDER BY vec_id""".stripMargin
    }
    def pcaWCte(comps: Seq[Array[Double]]): String =
      "w(comp, wv) AS (SELECT * FROM (VALUES " +
        comps.zipWithIndex.map { case (c, j) =>
          s"($j, ${c.map(_.toString).mkString("[", ", ", "]")})"
        }.mkString(", ") + ") AS _w(comp, wv))"
    val pca = pcaOracleComps.get("pca").map { comps =>
      "embedding_pca" ->
        s"""WITH ${pcaWCte(comps)},
           | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
           |SELECT vec_id, comp, ROUND(list_dot_product(v, wv), 6) AS pc_val
           |FROM e, w ORDER BY vec_id, comp""".stripMargin
    }
    // Two-phase PCA shortlist: projections fold in component order on
    // BOTH sides (list built with ORDER BY comp, distance folded by
    // the same left-assoc reduce the Spark aggregate computes).
    val pcaKnn = pcaOracleComps.get("pca").map { comps =>
      val nc = comps.size
      "pca_knn" ->
        s"""WITH ${pcaWCte(comps)},
           | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id <> 0),
           | q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
           | pj AS (SELECT vec_id, list(pv ORDER BY comp) AS pl FROM (
           |    SELECT vec_id, comp, list_dot_product(v, wv) AS pv FROM e, w) GROUP BY vec_id),
           | qj AS (SELECT list(qpv ORDER BY comp) AS ql FROM (
           |    SELECT comp, list_dot_product(qv, wv) AS qpv FROM q0, w)),
           | pd AS (SELECT vec_id, list_reduce(list_transform(range(1, ${nc + 1}),
           |          i -> (pl[CAST(i AS INT)]-ql[CAST(i AS INT)])*(pl[CAST(i AS INT)]-ql[CAST(i AS INT)])),
           |          (x, y) -> x + y) AS pdist FROM pj, qj),
           | cand AS (SELECT vec_id FROM pd ORDER BY pdist, vec_id LIMIT 50)
           |SELECT e.vec_id, ROUND(${cosSql("e.v", "q0.qv")}, 6) AS score
           |FROM e JOIN cand USING (vec_id), q0
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    }
    val mixT = mixTempOracleRates.get("rates").map { rates =>
      val cases = rates.toSeq.sortBy(_._1).map { case (s0, bp) =>
        s"WHEN '$s0' THEN $bp" }.mkString(" ")
      "mix_temperature" ->
        s"""WITH m AS (SELECT doc_id, source,
           |  CAST((${HashSql.mix("CAST(doc_id + 42 AS UBIGINT)")} >> 1) % 10000 AS INT) AS bucket,
           |  CASE source $cases ELSE 0 END AS rate_bp
           | FROM documents)
           |SELECT doc_id, source, bucket, rate_bp, bucket < rate_bp AS kept
           |FROM m ORDER BY doc_id""".stripMargin
    }
    // Outlier gate: exact-assignment chain, per-cluster mean/std from
    // DECIMAL sums of the quantized distances (d6^2 is 12-dp exact);
    // the threshold floor-quantizes to 6 dp on both engines.
    val outl = km.map { cents =>
      "embedding_outliers" ->
        s"""WITH ${ivfCentsCte(cents)},
           | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
           | ad AS (SELECT vec_id, cluster, ${ivfSqdSql("v", "c")} AS d FROM e, cents),
           | a AS (SELECT vec_id, cluster, round(d, 6) AS d6 FROM (
           |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS arn
           |   FROM ad) WHERE arn = 1),
           | st AS (SELECT cluster, COUNT(*) AS n,
           |          CAST(SUM(CAST(d6 AS DECIMAL(28,6))) AS DOUBLE) AS s1,
           |          CAST(SUM(CAST(d6 * d6 AS DECIMAL(38,12))) AS DOUBLE) AS s2
           |        FROM a GROUP BY cluster),
           | th AS (SELECT cluster,
           |          floor((s1/n + 2.0e0 * sqrt(greatest(s2/n - (s1/n)*(s1/n), 0.0e0)))
           |            * 1.0e6 + 0.5e0) / 1.0e6 AS threshold
           |        FROM st)
           |SELECT a.vec_id, a.cluster, a.d6 AS sqd, th.threshold,
           | a.d6 > th.threshold AS is_outlier
           |FROM a JOIN th USING (cluster) ORDER BY a.vec_id""".stripMargin
    }
    (card.toSeq ++ sem.toSeq ++ samp.toSeq ++ pca.toSeq ++ pcaKnn.toSeq ++
      mixT.toSeq ++ outl.toSeq).toMap
  }

  // --- PQ oracle: fitted codebooks replayed as literals ------------------
  private def pqBooksCte(books: PqIndex.Codebooks): String =
    "books(s, j, c) AS (SELECT * FROM (VALUES " +
      books.flatMap { case (s, words) => words.map { case (j, c) =>
        s"($s, $j, ${c.map(_.toString).mkString("[", ", ", "]")})" } }
        .mkString(", ") + ") AS _b(s, j, c))"
  /** Subspace squared-L2 as the same sequential fold the Spark encode
    * computes; `off` is the 0-based slice offset expression. */
  private def pqSqdSql(v: String, c: String, off: String, ds: Int): String =
    s"list_reduce(list_transform(range(1, ${ds + 1}), i -> " +
      s"($v[CAST($off + i AS INT)]-$c[CAST(i AS INT)])*" +
      s"($v[CAST($off + i AS INT)]-$c[CAST(i AS INT)])), (a, b) -> a + b)"
  /** Corpus encode + query LUT + left-assoc ADC chain CTEs (e, asn,
    * q0, qd, adc) over `books`. */
  private def pqAdcCtes(books: PqIndex.Codebooks, corpusPred: String,
                        qCte: String): String = {
    val ds = books.head._2.head._2.length
    val chain = books.map { case (s, _) =>
      s"MAX(CASE WHEN s = $s THEN qdist END)" }.mkString(" + ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE $corpusPred),
       | sd AS (SELECT vec_id, s, j, ${pqSqdSql("v", "c", s"s*$ds", ds)} AS d FROM e, books),
       | asn AS (SELECT vec_id, s, j FROM (
       |   SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn FROM sd)
       |  WHERE rn = 1),
       | $qCte,
       | qd AS (SELECT q.*, s, j, ${pqSqdSql("qv", "c", s"s*$ds", ds)} AS qdist FROM books, q0 q),
       | adc AS (SELECT vec_id, qd.* EXCLUDE (s, j, qdist), $chain AS adc
       |         FROM asn JOIN qd USING (s, j)
       |         GROUP BY ALL)""".stripMargin
  }
  // ---- BPE oracle machinery --------------------------------------------
  // The fitted merges inline as exact string literals (stashed when
  // the fit query runs — Verify's order). Encoding replays VERBATIM:
  // a word's segmentation is '|'-separated symbols and each merge is
  // one REPLACE('|l|r' → '|lr'), leftmost non-overlapping — the same
  // scan BPE merging performs and the same scan DuckDB's REPLACE
  // executes. The FIT replays rank by rank: merge i must be the
  // argmax adjacent pair (freq desc, pair asc) of the vocab encoded
  // under merges 0..i-1.
  private def bpeEncSql(wordExpr: String,
                        merges: Seq[Bpe.Merge]): String =
    merges.foldLeft(s"regexp_replace($wordExpr, '(.)', '|\\1', 'g')") {
      (acc, m) =>
        s"replace($acc, '|${m.left}|${m.right}', '|${m.left}${m.right}')"
    }

  private val bpeWordsCte =
    "w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), " +
      s"'${Bpe.WordRe}')) AS word FROM documents)"

  private def bpeOracleSql: Map[String, String] = {
    val ms = bpeOracleMerges.get()
    if (ms.isEmpty) Map.empty
    else {
      val fit = {
        val wf = "wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq " +
          "FROM (SELECT unnest(regexp_extract_all(lower(text), " +
          s"'${Bpe.WordRe}')) AS word FROM documents) GROUP BY word)"
        val ranks = ms.map { m =>
          val enc = bpeEncSql("word", ms.take(m.rank))
          s"""(SELECT ${m.rank} AS rank, l, r, cnt AS freq FROM (
             |  SELECT a[i] AS l, a[i + 1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
             |  FROM (SELECT freq, string_split(substr($enc, 2), '|') AS a FROM wf) s,
             |       UNNEST(range(1, len(a))) AS t(i)
             |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1))""".stripMargin
        }
        s"WITH $wf\n" + ranks.mkString("", "\nUNION ALL\n", "\nORDER BY rank")
      }
      val tok =
        s"""WITH $bpeWordsCte,
           | enc AS (SELECT doc_id, ${bpeEncSql("word", ms)} AS seg FROM w),
           | agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           |          CAST(SUM(len(string_split(seg, '|')) - 1) AS BIGINT) AS n_bpe_tokens
           |         FROM enc GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
           | COALESCE(n_bpe_tokens, 0) AS n_bpe_tokens
           |FROM documents d LEFT JOIN agg USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      val pack =
        s"""WITH $bpeWordsCte,
           | enc AS (SELECT doc_id, ${bpeEncSql("word", ms)} AS seg FROM w),
           | agg AS (SELECT doc_id,
           |          CAST(SUM(len(string_split(seg, '|')) - 1) AS BIGINT) AS n
           |         FROM enc GROUP BY doc_id),
           | c AS (SELECT d.doc_id, d.source, COALESCE(agg.n, 0) AS n_tokens
           |       FROM documents d LEFT JOIN agg USING (doc_id)),
           | wd AS (SELECT doc_id, source, n_tokens,
           |   CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |     ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_start FROM c)
           |SELECT doc_id, source, n_tokens, tok_start,
           | CASE WHEN n_tokens > 0 THEN tok_start // 1024 END AS seq_first,
           | CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 1024 END AS seq_last,
           | CAST(CASE WHEN n_tokens > 0
           |   THEN (tok_start + n_tokens - 1) // 1024 - tok_start // 1024 + 1
           |   ELSE 0 END AS BIGINT) AS n_seqs
           |FROM wd ORDER BY doc_id""".stripMargin
      Map("bpe_fit" -> fit, "tokenize_bpe" -> tok,
        "pack_sequences_bpe" -> pack)
    }
  }

  private def pqOracleSql: Map[String, String] = {
    val single = pqOracleBooks.get("single").map { books =>
      "pq_knn" ->
        s"""WITH ${pqBooksCte(books)},
           | ${pqAdcCtes(books, "vec_id <> 0",
              "q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0)")},
           | cand AS (SELECT vec_id, qv FROM adc ORDER BY adc, vec_id LIMIT 50)
           |SELECT e.vec_id, ROUND(1.0/(1.0 + list_distance(e.v, cand.qv)), 6) AS score
           |FROM e JOIN cand USING (vec_id)
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    }
    val batch = pqOracleBooks.get("batch").map { books =>
      "pq_knn_batch" ->
        s"""WITH ${pqBooksCte(books)},
           | ${pqAdcCtes(books, "vec_id >= 5",
              "q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv " +
                "FROM embeddings WHERE vec_id < 5)")},
           | cand AS (SELECT query_id, vec_id, qv FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS crn
           |    FROM adc) WHERE crn <= 25),
           | sc AS (SELECT query_id, e.vec_id,
           |          ROUND(1.0/(1.0 + list_distance(e.v, cand.qv)), 6) AS score
           |        FROM e JOIN cand USING (vec_id)),
           | r AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
           |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM sc)
           |SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
    }
    (single.toSeq ++ batch.toSeq).toMap
  }

  // --- IVF-PQ oracle: centroids + residual codebooks as literals --------
  // Every step of the composed index is fold arithmetic over literals:
  // exact coarse assignment (ivfAssignCtes), residual = elementwise
  // subtraction, residual-PQ encode / query LUT (pqSqdSql), the
  // left-assoc ADC chain, and the exact re-rank. One SQL statement
  // replays the full two-phase probe bit-identically.
  private def ivfpqCorpusCtes(books: PqIndex.Codebooks, corpusPred: String): String = {
    val ds = books.head._2.head._2.length
    s"""${ivfAssignCtes(corpusPred)},
       | r AS (SELECT a.vec_id, a.cluster,
       |         list_transform(range(1, 65), i -> v[CAST(i AS INT)] - c[CAST(i AS INT)]) AS res
       |       FROM a JOIN cents USING (cluster)),
       | sd2 AS (SELECT vec_id, s, j, ${pqSqdSql("res", "c", s"s*$ds", ds)} AS d FROM r, books),
       | asn AS (SELECT vec_id, s, j FROM (
       |   SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn FROM sd2)
       |  WHERE rn = 1)""".stripMargin
  }
  private def ivfpqChain(books: PqIndex.Codebooks): String =
    books.map { case (s, _) => s"MAX(CASE WHEN qd.s = $s THEN qdist END)" }
      .mkString(" + ")
  private def ivfpqOracleSql: Map[String, String] = {
    def dsOf(b: PqIndex.Codebooks) = b.head._2.head._2.length
    val single = ivfpqOracle.get("single").map { case (cents, books) =>
      val ds = dsOf(books)
      val sql =
        s"""WITH ${ivfCentsCte(cents)},
           | ${pqBooksCte(books)},
           | ${ivfpqCorpusCtes(books, "vec_id <> 0")},
           | q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
           | probe AS (SELECT cluster, c FROM cents, q0
           |           ORDER BY ${ivfSqdSql("qv", "c")}, cluster LIMIT 4),
           | qr AS (SELECT cluster,
           |          list_transform(range(1, 65), i -> qv[CAST(i AS INT)] - c[CAST(i AS INT)]) AS qres
           |        FROM probe, q0),
           | qd AS (SELECT cluster, s, j, ${pqSqdSql("qres", "c", s"s*$ds", ds)} AS qdist FROM books, qr),
           | adc AS (SELECT asn.vec_id, ${ivfpqChain(books)} AS adc
           |         FROM asn JOIN a ON a.vec_id = asn.vec_id
           |              JOIN qd ON qd.cluster = a.cluster AND qd.s = asn.s AND qd.j = asn.j
           |         GROUP BY asn.vec_id),
           | cand AS (SELECT vec_id, qv FROM adc, q0 ORDER BY adc, vec_id LIMIT 50)
           |SELECT e.vec_id, ROUND(1.0/(1.0 + list_distance(e.v, cand.qv)), 6) AS score
           |FROM e JOIN cand USING (vec_id)
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
      val info =
        s"""WITH ${ivfCentsCte(cents)},
           | ${ivfAssignCtes("vec_id <> 0")},
           | occ AS (SELECT cluster, COUNT(*) n FROM a GROUP BY cluster)
           |SELECT ${cents.size} AS total_clusters,
           | CAST(COUNT(*) AS INT) AS occupied,
           | floor(CAST(SUM(n) AS DOUBLE) / COUNT(*) * 1.0e6 + 0.5e0) / 1.0e6 AS avg_cluster_size,
           | MAX(n) AS max_cluster_size,
           | ${cents.size} - CAST(COUNT(*) AS INT) AS empty_clusters
           |FROM occ""".stripMargin
      Seq("ivfpq_knn" -> sql, "ivfpq_knn_indexed" -> sql, "ivfpq_index_info" -> info)
    }
    val batch = ivfpqOracle.get("batch").map { case (cents, books) =>
      val ds = dsOf(books)
      Seq("ivfpq_knn_batch" ->
        s"""WITH ${ivfCentsCte(cents)},
           | ${pqBooksCte(books)},
           | ${ivfpqCorpusCtes(books, "vec_id >= 5")},
           | q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
           |        FROM embeddings WHERE vec_id < 5),
           | pd AS (SELECT query_id, cluster, c, qv, ${ivfSqdSql("qv", "c")} AS qdc FROM q0, cents),
           | probe AS (SELECT query_id, cluster, c, qv FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdc, cluster) AS prn
           |    FROM pd) WHERE prn <= 4),
           | qr AS (SELECT query_id, cluster,
           |          list_transform(range(1, 65), i -> qv[CAST(i AS INT)] - c[CAST(i AS INT)]) AS qres
           |        FROM probe),
           | qd AS (SELECT query_id, cluster, s, j, ${pqSqdSql("qres", "c", s"s*$ds", ds)} AS qdist
           |        FROM books, qr),
           | adc AS (SELECT qd.query_id, asn.vec_id, ${ivfpqChain(books)} AS adc
           |         FROM asn JOIN a ON a.vec_id = asn.vec_id
           |              JOIN qd ON qd.cluster = a.cluster AND qd.s = asn.s AND qd.j = asn.j
           |         GROUP BY qd.query_id, asn.vec_id),
           | cand AS (SELECT query_id, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS crn
           |    FROM adc) WHERE crn <= 25),
           | sc AS (SELECT cand.query_id, e.vec_id,
           |          ROUND(1.0/(1.0 + list_distance(e.v, q0.qv)), 6) AS score
           |        FROM e JOIN cand ON e.vec_id = cand.vec_id
           |               JOIN q0 ON q0.query_id = cand.query_id),
           | rr AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
           |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM sc)
           |SELECT query_id, vec_id, score, rank FROM rr WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin,
      // Sweep: the same replay at every probe depth at once — ADC per
      // candidate computed once at the deepest depth (the LUT is
      // per-cell, not per-depth), candidates fan to the depths their
      // cell's probe rank admits, per-(query, depth) shortlist +
      // re-rank, recall against the exact top-10.
      "ivfpq_recall_sweep" ->
        s"""WITH ${ivfCentsCte(cents)},
           | ${pqBooksCte(books)},
           | ${ivfpqCorpusCtes(books, "vec_id >= 5")},
           | q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
           |        FROM embeddings WHERE vec_id < 5),
           | sweep AS (SELECT unnest([1, 2, 4]) AS n_probe),
           | pd AS (SELECT query_id, cluster, c, qv, ${ivfSqdSql("qv", "c")} AS qdc FROM q0, cents),
           | probe AS (SELECT query_id, cluster, c, qv, prn FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdc, cluster) AS prn
           |    FROM pd) WHERE prn <= 4),
           | qr AS (SELECT query_id, cluster, prn,
           |          list_transform(range(1, 65), i -> qv[CAST(i AS INT)] - c[CAST(i AS INT)]) AS qres
           |        FROM probe),
           | qd AS (SELECT query_id, cluster, prn, s, j, ${pqSqdSql("qres", "c", s"s*$ds", ds)} AS qdist
           |        FROM books, qr),
           | adc AS (SELECT qd.query_id, MIN(qd.prn) AS prn, asn.vec_id,
           |           ${ivfpqChain(books)} AS adc
           |         FROM asn JOIN a ON a.vec_id = asn.vec_id
           |              JOIN qd ON qd.cluster = a.cluster AND qd.s = asn.s AND qd.j = asn.j
           |         GROUP BY qd.query_id, asn.vec_id),
           | cand AS (SELECT query_id, n_probe, vec_id FROM (
           |    SELECT adc.query_id, sweep.n_probe, adc.vec_id, row_number() OVER (
           |      PARTITION BY adc.query_id, sweep.n_probe ORDER BY adc.adc, adc.vec_id) AS crn
           |    FROM adc JOIN sweep ON sweep.n_probe >= adc.prn) WHERE crn <= 50),
           | sc AS (SELECT cand.query_id, cand.n_probe, e.vec_id,
           |          ROUND(1.0/(1.0 + list_distance(e.v, q0.qv)), 6) AS score
           |        FROM e JOIN cand ON e.vec_id = cand.vec_id
           |               JOIN q0 ON q0.query_id = cand.query_id),
           | ax AS (SELECT query_id, n_probe, vec_id FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY query_id, n_probe ORDER BY score DESC, vec_id) AS rnk
           |    FROM sc) WHERE rnk <= 10),
           | ex AS (SELECT query_id, vec_id FROM (
           |    SELECT q0.query_id, e.vec_id, row_number() OVER (
           |      PARTITION BY q0.query_id
           |      ORDER BY ROUND(1.0/(1.0 + list_distance(e.v, q0.qv)), 6) DESC, e.vec_id) AS rnk
           |    FROM e, q0) WHERE rnk <= 10),
           | hits AS (SELECT ax.query_id, ax.n_probe, COUNT(*) AS nh
           |          FROM ax JOIN ex ON ax.query_id = ex.query_id AND ax.vec_id = ex.vec_id
           |          GROUP BY 1, 2)
           |SELECT q0.query_id, sweep.n_probe,
           |  ROUND(COALESCE(nh, 0) / 10.0, 6) AS recall
           |FROM q0 CROSS JOIN sweep
           |  LEFT JOIN hits ON hits.query_id = q0.query_id AND hits.n_probe = sweep.n_probe
           |ORDER BY q0.query_id, sweep.n_probe""".stripMargin)
    }
    (single.getOrElse(Nil) ++ batch.getOrElse(Nil)).toMap
  }

  // ---- 64-bit wrapping-hash oracle machinery ---------------------------
  // DuckDB integer ops ERROR on overflow instead of wrapping, but the
  // splitmix64/FNV-1a chains are still expressible exactly: keep values
  // as UBIGINT, do each multiply in HUGEINT split into 32-bit halves
  // (products stay < 2^96 < HUGEINT max) mod 2^64, and emulate
  // let-bindings with single-element list_transform so every
  // intermediate evaluates once. Verified bit-exact against the
  // TextHash kernels; upgrades dedup_simhash to hash-verified.
  private object HashSql {
    private var n = 0
    private def let(expr: String)(body: String => String): String = {
      n += 1; val v = s"v$n"
      s"list_transform([$expr], $v -> ${body(v)})[1]"
    }
    private def wrapMulConst(a: String, c: BigInt): String = {
      val lo = c & 0xffffffffL
      val hi = c >> 32
      s"CAST((CAST($a AS HUGEINT) * $lo % 18446744073709551616 + " +
        s"(CAST($a AS HUGEINT) * $hi % 4294967296) * 4294967296) " +
        "% 18446744073709551616 AS UBIGINT)"
    }
    /** splitmix64 finalizer over a UBIGINT expression. */
    def mix(x: String): String =
      let(s"CAST((CAST($x AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT)") { z1 =>
        let(s"xor($z1, $z1 >> 30)") { a2 =>
          let(wrapMulConst(a2, BigInt("bf58476d1ce4e5b9", 16))) { z2 =>
            let(s"xor($z2, $z2 >> 27)") { a3 =>
              let(wrapMulConst(a3, BigInt("94d049bb133111eb", 16))) { z3 =>
                s"xor($z3, $z3 >> 31)"
              }
            }
          }
        }
      }
    /** FNV-1a 64 over the chars of token variable `tok`. */
    val fnvTok: String =
      "list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT), " +
        "list_transform(range(1, length(tok)+1), i -> " +
        "CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS UBIGINT))), " +
        "(h, c) -> CAST((CAST(xor(h, c) AS HUGEINT) * 1099511628211) " +
        "% 18446744073709551616 AS UBIGINT))"
    /** 3-token shingle hash at offset variable `p` over hash list `hs`. */
    val shingle: String =
      mix("xor(" +
        mix("xor(" +
          mix("xor(CAST(2870177450012600261 AS UBIGINT), hs[CAST(p+1 AS INT)])") +
          ", hs[CAST(p+2 AS INT)])") +
        ", hs[CAST(p+3 AS INT)])")

    /** Per-token-hash embed contribution: DOUBLE[dim] from the seeded
      * PRNG chain state = mix^j(mix(h ^ seed)), each component
      * (state >>> 11)/2^52-1, uniform [-1,1) — must track the kernel
      * (TextHashExpressions.embed) exactly. Fold carries {state,
      * values} struct. */
    def tokVec(dim: Int): String = {
      val step = let(mix("acc.st")) { st =>
        s"{'st': $st, 'vs': list_append(acc.vs, " +
          s"CAST($st >> 11 AS DOUBLE)/4503599627370496.0 - 1.0)}"
      }
      "list_reduce(list_prepend(" +
        s"{'st': ${mix("xor(h, CAST(42 AS UBIGINT))")}, 'vs': CAST([] AS DOUBLE[])}, " +
        s"list_transform(range(0, $dim), j -> {'st': CAST(0 AS UBIGINT), 'vs': CAST([] AS DOUBLE[])})), " +
        s"(acc, ignored) -> $step).vs"
    }

    /** Raw (unnormalized) embed vector of a token-hash list expression:
      * elementwise sum of per-token contributions; zeros when empty. */
    def embedRaw(hsExpr: String, dim: Int = 64): String =
      s"CASE WHEN len($hsExpr) = 0 THEN list_transform(range(0, $dim), j -> 0.0) " +
        s"ELSE list_reduce(list_transform($hsExpr, h -> ${tokVec(dim)}), " +
        s"(a, b) -> list_transform(range(0, $dim), j -> a[CAST(j+1 AS INT)] + b[CAST(j+1 AS INT)])) END"

    /** zlib CRC32 table as a literal (computed here, standard polynomial). */
    val crcTableLit: String = {
      val tbl = (0 until 256).map { n =>
        var c = n.toLong
        for (_ <- 0 until 8)
          c = if ((c & 1L) == 1L) 0xEDB88320L ^ (c >>> 1) else c >>> 1
        c
      }
      tbl.mkString("[", ",", "]")
    }

    /** The FakeEmbed output: L2-normalize in double, then narrow each
      * component to FLOAT (the kernel emits float32), re-widened to
      * DOUBLE for downstream math — over a raw-vector variable `v`. */
    val normFloats: String =
      let("sqrt(list_dot_product(v, v))") { nrm =>
        s"list_transform(v, x -> CAST(CAST(CASE WHEN $nrm > 0.0 THEN x / $nrm ELSE 0.0 END AS REAL) AS DOUBLE))"
      }

    /** Exact double literal of a float array (qvec of a literal query
      * text, embedded at build time — Double.toString round-trips). */
    def vecLit(v: Array[Float]): String =
      v.map(f => f.toDouble.toString).mkString("[", ", ", "]")
  }

  /** Quantized form of a literal query vector through the REAL kernels
    * (VectorOps.l2Normalize then QuantOps.quantize — the same chain
    * `quantizeVec(l2Normalize(qvec))` runs at query time), so the
    * oracle's phase-1 scores use the engine's exact scale and codes. */
  private def quantLit(qf: Array[Float]): (Double, Array[Int]) = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val nv = graft.functions.VectorOps.l2Normalize(new GenericArrayData(qf), true)
    val row = graft.functions.QuantOps.quantize(nv, isFloat = false)
    (row.getDouble(0), row.getBinary(1).map(_.toInt))
  }

  /** Embedding of a literal query text through the real kernel (for
    * inlining into oracles as an exact literal). */
  private def embedLit(text: String): Array[Float] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    graft.functions.TextHash
      .embed(org.apache.spark.unsafe.types.UTF8String.fromString(text), 64, 42L)
      .asInstanceOf[ArrayData].toFloatArray()
  }

  /** Shared CTE prefix: tokens -> FNV hashes -> raw embed vector `v`
    * per document (docs with zero tokens keep v = zeros). */
  private def embedDocsCtes: String =
    s"""t AS ($toksCte),
       | th AS (SELECT doc_id, source, toks, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
       | ev AS (SELECT doc_id, source, toks, hs, ${HashSql.embedRaw("hs")} AS v FROM th),
       | ef AS (SELECT doc_id, source, toks, hs, ${HashSql.normFloats} AS fv FROM ev)""".stripMargin

  // Shared by doc_knn (audit form — pools per query) and
  // doc_knn_pooled (serving form — probes the materialized pool):
  // chunk-embed, 6-dp pool, exploded-form cosine with the pool*query
  // products floor-quantized to 12 dp and DECIMAL-summed; pool^2 is
  // 12-dp exact by construction. qnorm inlines as an exact literal.
  private def docKnnOracleSql: String = {
    val qv = embedLit("spark join stream table filter").map(_.toDouble)
    val qnorm = math.sqrt(qv.map(x => x * x).sum)
    val qlit = qv.map(_.toString).mkString("[", ", ", "]")
    s"""WITH $embedDocsCtes,
       | c AS (SELECT doc_id, unnest(list_transform(
       |          range(0, (len(toks)+31)//32),
       |          i -> {'chunk_idx': CAST(i AS INT), 'chs': hs[i*32+1 : i*32+32]}),
       |          recursive := true)
       |        FROM th WHERE len(toks) > 0),
       | cv AS (SELECT doc_id, chunk_idx, ${HashSql.embedRaw("chs")} AS v FROM c),
       | cf AS (SELECT doc_id, chunk_idx, ${HashSql.normFloats} AS fv FROM cv),
       | u AS (SELECT doc_id, unnest(list_transform(fv, (x, i) ->
       |          {'pos': CAST(i-1 AS INT),
       |           'x6': CAST(floor(x * 1.0e6 + 0.5e0) / 1.0e6 AS DECIMAL(28,6))}),
       |          recursive := true) FROM cf),
       | pool AS (SELECT doc_id, pos,
       |            floor((CAST(SUM(x6) AS DOUBLE) / COUNT(*)) * 1.0e6 + 0.5e0) / 1.0e6
       |              AS pv
       |          FROM u GROUP BY doc_id, pos),
       | sc AS (SELECT doc_id,
       |          CAST(SUM(CAST(floor(pv * ($qlit)[pos+1] * 1.0e12 + 0.5e0) / 1.0e12
       |            AS DECIMAL(38,12))) AS DOUBLE) AS dot,
       |          CAST(SUM(CAST(pv * pv AS DECIMAL(38,12))) AS DOUBLE) AS nn
       |        FROM pool GROUP BY doc_id)
       |SELECT doc_id,
       | floor((CASE WHEN nn > 0e0 THEN dot / (sqrt(nn) * $qnorm)
       |        ELSE 0.0e0 END) * 1.0e6 + 0.5e0) / 1.0e6 AS score
       |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  def oracleSql: Map[String, String] =
    ivfOracleSql ++ pqOracleSql ++ ivfpqOracleSql ++ fitOracleSql ++
    bpeOracleSql ++ Map(
    // Deterministic embedder, fully replicated: FNV token hash seeds a
    // per-token splitmix64 chain, 64 components summed over tokens,
    // L2-normalized in double, narrowed to float32 (the kernel's
    // output type), re-widened and rounded.
    "embed_documents" ->
      s"""WITH $embedDocsCtes
         |SELECT doc_id, pos, emb_val FROM (
         | SELECT doc_id, unnest(list_transform(fv, (x, i) ->
         |   {'pos': CAST(i-1 AS INT), 'emb_val': ROUND(x, 6)}), recursive := true)
         | FROM ef)
         |ORDER BY doc_id, pos""".stripMargin,
    // Document-level retrieval over the pooled vectors: the pool CTE
    // chain as in doc_pool, then an exploded-form cosine — pool*query
    // products floor-quantized to 12 dp and DECIMAL-summed; pool^2 is
    // 12-dp exact by construction. qnorm inlines as an exact literal.
    "doc_knn" -> docKnnOracleSql,
    // The serving twin probes a MATERIALIZED pool with identical
    // arithmetic (6-dp pool values round-trip parquet exactly), so the
    // oracle is doc_knn's verbatim.
    "doc_knn_pooled" -> docKnnOracleSql,
    // Chunk -> embed -> mean-pool: per-chunk float vectors replayed by
    // the same CTE chain as library_search_e2e, each component
    // 6-dp-quantized and summed as DECIMAL (order-independent on both
    // engines — the embedding_drift float-sum discipline).
    "doc_pool" ->
      s"""WITH $embedDocsCtes,
         | c AS (SELECT doc_id, unnest(list_transform(
         |          range(0, (len(toks)+31)//32),
         |          i -> {'chunk_idx': CAST(i AS INT), 'chs': hs[i*32+1 : i*32+32]}),
         |          recursive := true)
         |        FROM th WHERE len(toks) > 0),
         | cv AS (SELECT doc_id, chunk_idx, ${HashSql.embedRaw("chs")} AS v FROM c),
         | cf AS (SELECT doc_id, chunk_idx, ${HashSql.normFloats} AS fv FROM cv),
         | u AS (SELECT doc_id, unnest(list_transform(fv, (x, i) ->
         |          {'pos': CAST(i-1 AS INT),
         |           'x6': CAST(floor(x * 1.0e6 + 0.5e0) / 1.0e6 AS DECIMAL(28,6))}),
         |          recursive := true) FROM cf)
         |SELECT doc_id, pos, COUNT(*) AS n_chunks,
         | floor((CAST(SUM(x6) AS DOUBLE) / COUNT(*)) * 1.0e6 + 0.5e0) / 1.0e6
         |   AS pool_val
         |FROM u GROUP BY doc_id, pos ORDER BY doc_id, pos""".stripMargin,
    // Flagship end-to-end: 32-token window chunks, per-chunk embedding
    // from the token-hash slice, cosine against the query text's
    // embedding (a literal — the query is constant, so its float
    // vector is computed by the real kernel at build time).
    "library_search_e2e" -> {
      val q = HashSql.vecLit(embedLit("spark join stream table filter"))
      s"""WITH $embedDocsCtes,
         | c AS (SELECT doc_id, source, unnest(list_transform(
         |          range(0, (len(toks)+31)//32),
         |          i -> {'chunk_idx': CAST(i AS INT), 'chs': hs[i*32+1 : i*32+32]}),
         |          recursive := true)
         |        FROM th WHERE len(toks) > 0),
         | cv AS (SELECT doc_id, source, chunk_idx, ${HashSql.embedRaw("chs")} AS v FROM c),
         | cf AS (SELECT doc_id, source, chunk_idx, ${HashSql.normFloats} AS fv FROM cv)
         |SELECT source, doc_id, chunk_idx,
         | ROUND(${cosSql("fv", q)}, 6) AS score
         |FROM cf ORDER BY score DESC, doc_id, chunk_idx LIMIT 10""".stripMargin
    },
    // library_search_e2e plus the chunk payload each hit carries
    // (chunk_id, text, token count): the chunk text is reconstructed
    // from the same token list the engine chunks — a space-joined
    // slice — so the payload round-trips exactly.
    "library_search_chunks" -> {
      val q = HashSql.vecLit(embedLit("spark join stream table filter"))
      s"""WITH $embedDocsCtes,
         | c AS (SELECT doc_id, source, unnest(list_transform(
         |          range(0, (len(toks)+31)//32),
         |          i -> {'chunk_idx': CAST(i AS INT), 'chs': hs[i*32+1 : i*32+32],
         |                'chunk_text': array_to_string(toks[i*32+1 : i*32+32], ' '),
         |                'n_tokens': CAST(LEAST(32, len(toks) - i*32) AS INT)}),
         |          recursive := true)
         |        FROM th WHERE len(toks) > 0),
         | cv AS (SELECT doc_id, source, chunk_idx, chunk_text, n_tokens,
         |          ${HashSql.embedRaw("chs")} AS v FROM c),
         | cf AS (SELECT doc_id, source, chunk_idx, chunk_text, n_tokens,
         |          ${HashSql.normFloats} AS fv FROM cv)
         |SELECT 'bench#' || CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_idx AS VARCHAR) AS chunk_id,
         | doc_id, source, chunk_idx, chunk_text, n_tokens,
         | ROUND(${cosSql("fv", q)}, 6) AS score
         |FROM cf ORDER BY score DESC, chunk_id LIMIT 10""".stripMargin
    },
    // Partitioned-index library probe, fully replicated: chunk
    // embeddings from the token-hash slices (as library_search_e2e),
    // per-chunk LSH buckets from the literal hyperplane matrix, query
    // probes resolved AT ORACLE BUILD TIME by the same kernel the
    // engine uses (the query text is constant, so its multi-probe
    // bucket lists inline as integer literals), exact cosine re-rank.
    "library_lsh_partitioned" -> {
      val qf = embedLit("spark join stream table filter")
      val q = HashSql.vecLit(qf)
      val perTable = 3 // 1 main bucket + 2 extra probes
      val flat = graft.functions.TextHash.hyperplaneProbesArr(
        qf.map(_.toDouble), lshTables, lshBits, 2, 42L)
      val probes = Array.tabulate(lshTables)(t =>
        flat.slice(t * perTable, (t + 1) * perTable).distinct)
      val cBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("cd", t)} AS cb$t").mkString(", ")
      val candidate = (0 until lshTables).map(t =>
        s"list_contains([${probes(t).mkString(",")}], cb$t)").mkString(" OR ")
      s"""WITH $embedDocsCtes,
         | c AS (SELECT doc_id, unnest(list_transform(
         |          range(0, (len(toks)+31)//32),
         |          i -> {'chunk_idx': CAST(i AS INT), 'chs': hs[i*32+1 : i*32+32]}),
         |          recursive := true)
         |        FROM th WHERE len(toks) > 0),
         | cv AS (SELECT doc_id, chunk_idx, ${HashSql.embedRaw("chs")} AS v FROM c),
         | cf AS MATERIALIZED (SELECT doc_id, chunk_idx, ${HashSql.normFloats} AS fv FROM cv),
         | cd AS MATERIALIZED (SELECT doc_id, chunk_idx, fv, ${lshDotsSql("fv", "cd")} FROM cf),
         | cb AS (SELECT doc_id, chunk_idx, fv, $cBuckets FROM cd)
         |SELECT 'bench#' || CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_idx AS VARCHAR) AS chunk_id,
         | ROUND(${cosSql("fv", q)}, 6) AS score
         |FROM cb WHERE $candidate
         |ORDER BY score DESC, chunk_id LIMIT 10""".stripMargin
    },
    // library_lsh_partitioned with the quantized phase 1: candidates
    // from the bucket predicate rank by (s_c*s_q)*int_dot over
    // floor(nv/s + 0.5) codes (the exact QuantOps chain; the query's
    // scale and codes inline as literals computed by the real
    // kernels), top 40 survive, exact cosine ranks the final 10.
    "library_lsh_quantized" -> {
      val qf = embedLit("spark join stream table filter")
      val q = HashSql.vecLit(qf)
      val (qScale, qCodes) = quantLit(qf)
      val qCodesLit = qCodes.map(c => s"$c.0e0").mkString("[", ", ", "]")
      val perTable = 3 // 1 main bucket + 2 extra probes
      val flat = graft.functions.TextHash.hyperplaneProbesArr(
        qf.map(_.toDouble), lshTables, lshBits, 2, 42L)
      val probes = Array.tabulate(lshTables)(t =>
        flat.slice(t * perTable, (t + 1) * perTable).distinct)
      val cBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("cd", t)} AS cb$t").mkString(", ")
      val candidate = (0 until lshTables).map(t =>
        s"list_contains([${probes(t).mkString(",")}], cb$t)").mkString(" OR ")
      s"""WITH $embedDocsCtes,
         | c AS (SELECT doc_id, unnest(list_transform(
         |          range(0, (len(toks)+31)//32),
         |          i -> {'chunk_idx': CAST(i AS INT), 'chs': hs[i*32+1 : i*32+32]}),
         |          recursive := true)
         |        FROM th WHERE len(toks) > 0),
         | cv AS (SELECT doc_id, chunk_idx, ${HashSql.embedRaw("chs")} AS v FROM c),
         | cf AS MATERIALIZED (SELECT doc_id, chunk_idx, ${HashSql.normFloats} AS fv FROM cv),
         | cd AS MATERIALIZED (SELECT doc_id, chunk_idx, fv, ${lshDotsSql("fv", "cd")} FROM cf),
         | cb AS (SELECT doc_id, chunk_idx, fv, $cBuckets FROM cd),
         | cand AS (SELECT 'bench#' || CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_idx AS VARCHAR) AS chunk_id,
         |            fv FROM cb WHERE $candidate),
         | cn AS (SELECT chunk_id, fv, CASE WHEN sqrt(list_dot_product(fv, fv)) > 0
         |          THEN list_transform(fv, x -> x / sqrt(list_dot_product(fv, fv)))
         |          ELSE fv END AS nv FROM cand),
         | cs AS (SELECT chunk_id, fv, nv, CASE WHEN list_max(list_transform(nv, y -> abs(y))) > 0
         |          THEN list_max(list_transform(nv, y -> abs(y))) / 127.0e0
         |          ELSE 1.0e0 END AS s FROM cn),
         | cqc AS (SELECT chunk_id, fv, s, list_transform(nv, x -> floor(x / s + 0.5e0)) AS qc FROM cs),
         | p1 AS (SELECT chunk_id, fv, s * $qScale * list_dot_product(qc, $qCodesLit) AS ascore
         |        FROM cqc ORDER BY ascore DESC, chunk_id LIMIT 40)
         |SELECT chunk_id, ROUND(${cosSql("fv", q)}, 6) AS score
         |FROM p1 ORDER BY score DESC, chunk_id LIMIT 10""".stripMargin
    },
    // Batch twin of library_lsh_partitioned: the chunk/bucket CTEs are
    // shared (computed once, MATERIALIZED); each query contributes its
    // own probe predicate + rank window, unioned.
    "library_lsh_batch" -> {
      val texts = Seq("spark join stream table filter",
        "vector index search embedding",
        "window aggregate partition shuffle")
      val perTable = 3 // 1 main bucket + 2 extra probes
      val cBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("cd", t)} AS cb$t").mkString(", ")
      val perQueryCtes = texts.zipWithIndex.map { case (txt, i) =>
        val qf = embedLit(txt)
        val q = HashSql.vecLit(qf)
        val flat = graft.functions.TextHash.hyperplaneProbesArr(
          qf.map(_.toDouble), lshTables, lshBits, 2, 42L)
        val probes = Array.tabulate(lshTables)(t =>
          flat.slice(t * perTable, (t + 1) * perTable).distinct)
        val candidate = (0 until lshTables).map(t =>
          s"list_contains([${probes(t).mkString(",")}], cb$t)").mkString(" OR ")
        s""" s$i AS (SELECT 'bench#' || CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_idx AS VARCHAR) AS chunk_id,
           |   ROUND(${cosSql("fv", q)}, 6) AS score FROM cb WHERE $candidate),
           | r$i AS (SELECT CAST($i AS BIGINT) AS query_id, chunk_id, score,
           |   CAST(row_number() OVER (ORDER BY score DESC, chunk_id) AS INT) AS rank
           |  FROM s$i)""".stripMargin
      }
      val unionAll = texts.indices
        .map(i => s"SELECT * FROM r$i WHERE rank <= 5").mkString(" UNION ALL ")
      s"""WITH $embedDocsCtes,
         | c AS (SELECT doc_id, unnest(list_transform(
         |          range(0, (len(toks)+31)//32),
         |          i -> {'chunk_idx': CAST(i AS INT), 'chs': hs[i*32+1 : i*32+32]}),
         |          recursive := true)
         |        FROM th WHERE len(toks) > 0),
         | cv AS (SELECT doc_id, chunk_idx, ${HashSql.embedRaw("chs")} AS v FROM c),
         | cf AS MATERIALIZED (SELECT doc_id, chunk_idx, ${HashSql.normFloats} AS fv FROM cv),
         | cd AS MATERIALIZED (SELECT doc_id, chunk_idx, fv, ${lshDotsSql("fv", "cd")} FROM cf),
         | cb AS MATERIALIZED (SELECT doc_id, chunk_idx, fv, $cBuckets FROM cd),
         |${perQueryCtes.mkString(",\n")}
         |SELECT query_id, chunk_id, score, rank FROM ($unionAll)
         |ORDER BY query_id, rank""".stripMargin
    },
    // library_lsh_partitioned scoped by a source predicate: the
    // candidate set is (bucket predicate AND source filter) — exactly
    // what the engine's pruned-scan filter produces — then the same
    // exact cosine re-rank.
    "library_search_filtered" -> {
      val qf = embedLit("spark join stream table filter")
      val q = HashSql.vecLit(qf)
      val perTable = 3 // 1 main bucket + 2 extra probes
      val flat = graft.functions.TextHash.hyperplaneProbesArr(
        qf.map(_.toDouble), lshTables, lshBits, 2, 42L)
      val probes = Array.tabulate(lshTables)(t =>
        flat.slice(t * perTable, (t + 1) * perTable).distinct)
      val cBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("cd", t)} AS cb$t").mkString(", ")
      val candidate = (0 until lshTables).map(t =>
        s"list_contains([${probes(t).mkString(",")}], cb$t)").mkString(" OR ")
      s"""WITH $embedDocsCtes,
         | c AS (SELECT doc_id, source, unnest(list_transform(
         |          range(0, (len(toks)+31)//32),
         |          i -> {'chunk_idx': CAST(i AS INT), 'chs': hs[i*32+1 : i*32+32]}),
         |          recursive := true)
         |        FROM th WHERE len(toks) > 0),
         | cv AS (SELECT doc_id, source, chunk_idx, ${HashSql.embedRaw("chs")} AS v FROM c),
         | cf AS MATERIALIZED (SELECT doc_id, source, chunk_idx, ${HashSql.normFloats} AS fv FROM cv),
         | cd AS MATERIALIZED (SELECT doc_id, source, chunk_idx, fv, ${lshDotsSql("fv", "cd")} FROM cf),
         | cb AS (SELECT doc_id, source, chunk_idx, fv, $cBuckets FROM cd)
         |SELECT 'bench#' || CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_idx AS VARCHAR) AS chunk_id,
         | ROUND(${cosSql("fv", q)}, 6) AS score
         |FROM cb WHERE ($candidate) AND source IN ('src1', 'src4', 'src7')
         |ORDER BY score DESC, chunk_id LIMIT 10""".stripMargin
    },
    // Hybrid = 0.5 * dense cosine over stored embeddings + 0.5 *
    // max-normalized BM25 (same 4 terms as keyword_bm25), blended
    // before the single rounding.
    "hybrid_search" -> {
      val q = HashSql.vecLit(embedLit("spark join stream window"))
      s"""WITH $embedDocsCtes,
         | f AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) dl,
         |   CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) tf0,
         |   CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) tf1,
         |   CAST(len(list_filter(toks, x -> x = 'stream')) AS DOUBLE) tf2,
         |   CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) tf3 FROM th),
         | st AS (SELECT CAST(COUNT(*) AS DOUBLE) n_docs, CAST(SUM(dl) AS DOUBLE) sum_dl,
         |   CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df0,
         |   CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df1,
         |   CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df2,
         |   CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df3 FROM f),
         | bm AS (SELECT doc_id, ROUND(
         |   ln(1.0e0 + (n_docs - df0 + 0.5e0)/(df0 + 0.5e0)) * (tf0 * (1.2e0 + 1.0e0)) / (tf0 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
         | + ln(1.0e0 + (n_docs - df1 + 0.5e0)/(df1 + 0.5e0)) * (tf1 * (1.2e0 + 1.0e0)) / (tf1 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
         | + ln(1.0e0 + (n_docs - df2 + 0.5e0)/(df2 + 0.5e0)) * (tf2 * (1.2e0 + 1.0e0)) / (tf2 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
         | + ln(1.0e0 + (n_docs - df3 + 0.5e0)/(df3 + 0.5e0)) * (tf3 * (1.2e0 + 1.0e0)) / (tf3 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs))), 6) AS bm25
         |  FROM f, st),
         | lex AS (SELECT doc_id, bm25 FROM bm WHERE bm25 > 0.0e0),
         | mx AS (SELECT MAX(bm25) m FROM lex),
         | dense AS (SELECT doc_id,
         |   CASE WHEN len(toks) = 0 THEN 0.0e0 ELSE ${cosSql("fv", q)} END AS ds
         |  FROM ef)
         |SELECT d.doc_id,
         | ROUND(0.5e0 * ds + 0.5e0 * COALESCE(l.bm25 / mx.m, 0.0e0), 6) AS score
         |FROM mx, dense d LEFT JOIN lex l ON d.doc_id = l.doc_id
         |ORDER BY score DESC, d.doc_id LIMIT 20""".stripMargin
    },
    // RRF hybrid: 1/(60 + rank) from the BM25 top-100 and the dense
    // top-100 (both ranked score DESC, doc_id tie-break), summed in
    // fixed dense-then-lexical order and rounded once — integer ranks
    // make the fusion exactly replayable.
    "hybrid_search_rrf" -> {
      val q = HashSql.vecLit(embedLit("spark join stream window"))
      s"""WITH $embedDocsCtes,
         | f AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) dl,
         |   CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) tf0,
         |   CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) tf1,
         |   CAST(len(list_filter(toks, x -> x = 'stream')) AS DOUBLE) tf2,
         |   CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) tf3 FROM th),
         | st AS (SELECT CAST(COUNT(*) AS DOUBLE) n_docs, CAST(SUM(dl) AS DOUBLE) sum_dl,
         |   CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df0,
         |   CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df1,
         |   CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df2,
         |   CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df3 FROM f),
         | bm AS (SELECT doc_id, ROUND(
         |   ln(1.0e0 + (n_docs - df0 + 0.5e0)/(df0 + 0.5e0)) * (tf0 * (1.2e0 + 1.0e0)) / (tf0 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
         | + ln(1.0e0 + (n_docs - df1 + 0.5e0)/(df1 + 0.5e0)) * (tf1 * (1.2e0 + 1.0e0)) / (tf1 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
         | + ln(1.0e0 + (n_docs - df2 + 0.5e0)/(df2 + 0.5e0)) * (tf2 * (1.2e0 + 1.0e0)) / (tf2 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
         | + ln(1.0e0 + (n_docs - df3 + 0.5e0)/(df3 + 0.5e0)) * (tf3 * (1.2e0 + 1.0e0)) / (tf3 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs))), 6) AS bm25
         |  FROM f, st),
         | lex AS (SELECT doc_id, bm25 FROM bm WHERE bm25 > 0.0e0),
         | lexr AS (SELECT doc_id,
         |   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lr FROM lex),
         | lexp AS (SELECT doc_id, lr FROM lexr WHERE lr <= 100),
         | dense AS (SELECT doc_id,
         |   CASE WHEN len(toks) = 0 THEN 0.0e0 ELSE ${cosSql("fv", q)} END AS ds
         |  FROM ef),
         | denser AS (SELECT doc_id,
         |   row_number() OVER (ORDER BY ds DESC, doc_id) AS dr FROM dense),
         | densep AS (SELECT doc_id, dr FROM denser WHERE dr <= 100)
         |SELECT COALESCE(d.doc_id, l.doc_id) AS doc_id,
         | ROUND(COALESCE(1.0e0/(60 + d.dr), 0.0e0)
         |     + COALESCE(1.0e0/(60 + l.lr), 0.0e0), 6) AS score
         |FROM densep d FULL OUTER JOIN lexp l ON d.doc_id = l.doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    // Batch hybrid: the single-query CTE chain templated per query
    // over the shared embedded-docs CTEs, unioned with rank windows.
    "hybrid_search_batch" -> {
      val queries = Seq("spark join stream window", "table scan filter hash",
        "sort merge partition key")
      def bmTerm(j: Int): String =
        s"ln(1.0e0 + (n_docs - df$j + 0.5e0)/(df$j + 0.5e0)) * (tf$j * (1.2e0 + 1.0e0))" +
          s" / (tf$j + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))"
      val blocks = queries.zipWithIndex.map { case (qt, i) =>
        val terms = qt.split(" ").toSeq
        val q = HashSql.vecLit(embedLit(qt))
        val tfCols = terms.indices.map(j =>
          s"CAST(len(list_filter(toks, x -> x = '${terms(j)}')) AS DOUBLE) tf$j").mkString(", ")
        val dfCols = terms.indices.map(j =>
          s"CAST(SUM(CASE WHEN tf$j > 0 THEN 1 ELSE 0 END) AS DOUBLE) df$j").mkString(", ")
        val bmSum = terms.indices.map(bmTerm).mkString("\n |   + ")
        s""" f$i AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) dl, $tfCols FROM th),
           | st$i AS (SELECT CAST(COUNT(*) AS DOUBLE) n_docs,
           |   CAST(SUM(dl) AS DOUBLE) sum_dl, $dfCols FROM f$i),
           | bm$i AS (SELECT doc_id, ROUND($bmSum, 6) AS bm25 FROM f$i, st$i),
           | lex$i AS (SELECT doc_id, bm25 FROM bm$i WHERE bm25 > 0.0e0),
           | mx$i AS (SELECT MAX(bm25) m FROM lex$i),
           | dn$i AS (SELECT doc_id,
           |   CASE WHEN len(toks) = 0 THEN 0.0e0 ELSE ${cosSql("fv", q)} END AS ds
           |  FROM ef),
           | sc$i AS (SELECT CAST($i AS BIGINT) AS query_id, d.doc_id,
           |   ROUND(0.5e0 * ds + 0.5e0 * COALESCE(l.bm25 / mx$i.m, 0.0e0), 6) AS score
           |  FROM mx$i, dn$i d LEFT JOIN lex$i l ON d.doc_id = l.doc_id),
           | r$i AS (SELECT query_id, doc_id, score, CAST(row_number() OVER (
           |   ORDER BY score DESC, doc_id) AS INT) AS rank FROM sc$i)""".stripMargin
      }
      val unionAll = queries.indices
        .map(i => s"SELECT * FROM r$i WHERE rank <= 10").mkString(" UNION ALL ")
      s"""WITH $embedDocsCtes,
         |${blocks.mkString(",\n")}
         |SELECT query_id, doc_id, score, rank FROM ($unionAll)
         |ORDER BY query_id, rank""".stripMargin
    },
    // Multimodal stub pipeline, fully replicated: payload = UTF-8
    // bytes of text; media_bytes = byte length; media_checksum = zlib
    // CRC32 (literal-table fold over hex-derived byte values); feature
    // vector = the seeded embedder over the lowercased hex string,
    // which tokenizes to a single [0-9a-f] run.
    "multimodal_features" -> {
      val byteList =
        "list_transform(range(0, length(hx)//2), i -> " +
          "16*(strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) " +
          "+ (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1))"
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
         | b AS (SELECT doc_id, hx, length(hx)//2 AS media_bytes, $byteList AS bs FROM t),
         | cr AS (SELECT doc_id, hx, media_bytes,
         |   xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), bs),
         |     (c, byt) -> xor(list_extract(${HashSql.crcTableLit},
         |       CAST((xor(c, byt) & 255) + 1 AS INT)), c >> 8)), 4294967295) AS media_checksum
         |  FROM b),
         | hv AS (SELECT doc_id, media_bytes, media_checksum,
         |   CASE WHEN length(hx) = 0 THEN CAST([] AS UBIGINT[])
         |        ELSE [list_transform([lower(hx)], tok -> ${HashSql.fnvTok})[1]] END AS hs
         |  FROM cr),
         | ev AS (SELECT doc_id, media_bytes, media_checksum,
         |          ${HashSql.embedRaw("hs", 16)} AS v FROM hv),
         | ef AS (SELECT doc_id, media_bytes, media_checksum,
         |          ${HashSql.normFloats} AS fv FROM ev)
         |SELECT doc_id, media_bytes, media_checksum, pos, feat FROM (
         | SELECT doc_id, media_bytes, media_checksum,
         |   unnest(list_transform(fv, (x, i) ->
         |     {'pos': CAST(i-1 AS INT), 'feat': ROUND(x, 6)}), recursive := true)
         | FROM ef)
         |ORDER BY doc_id, pos""".stripMargin
    },
    // Perceptual near-dup: the stub feature chain (hex payload ->
    // FNV/splitmix embed -> REAL normalize) replays as in
    // multimodal_features; the sign fingerprint is a small-int bit sum.
    "multimodal_neardup" ->
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
         | hv AS (SELECT doc_id,
         |   CASE WHEN length(hx) = 0 THEN CAST([] AS UBIGINT[])
         |        ELSE [list_transform([lower(hx)], tok -> ${HashSql.fnvTok})[1]] END AS hs
         |  FROM t),
         | ev AS (SELECT doc_id, ${HashSql.embedRaw("hs", 16)} AS v FROM hv),
         | ef AS (SELECT doc_id, ${HashSql.normFloats} AS fv FROM ev),
         | sg AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 17), i ->
         |          CASE WHEN fv[CAST(i AS INT)] > 0e0
         |            THEN (CAST(1 AS BIGINT) << CAST(i-1 AS INT)) ELSE 0 END))
         |          AS BIGINT) AS sig FROM ef)
         |SELECT sig, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
         |FROM sg GROUP BY sig ORDER BY sig""".stripMargin,
    // Frame sampling + stride-2 downsample, fully replicated: 4 evenly
    // spaced byte windows per payload (hex-space slicing), zlib CRC32
    // of each frame and of its every-second-byte view via the literal
    // CRC table fold. An empty byte list folds to CRC 0, matching
    // Spark's crc32 of empty binary.
    "multimodal_framesample" -> {
      def bytesOf(hxExpr: String): String =
        s"list_transform(range(0, length($hxExpr)//2), i -> " +
          s"16*(strpos('0123456789ABCDEF', substr($hxExpr, CAST(2*i+1 AS INT), 1)) - 1) " +
          s"+ (strpos('0123456789ABCDEF', substr($hxExpr, CAST(2*i+2 AS INT), 1)) - 1))"
      def crcOf(bsExpr: String): String =
        s"xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), $bsExpr), " +
          s"(c, byt) -> xor(list_extract(${HashSql.crcTableLit}, " +
          "CAST((xor(c, byt) & 255) + 1 AS INT)), c >> 8)), 4294967295)"
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
         | b AS (SELECT doc_id, hx, (length(hx)//2)//4 AS flen FROM t),
         | f AS (SELECT doc_id, hx, flen, CAST(unnest(range(0, 4)) AS INT) AS frame_idx
         |        FROM b WHERE flen > 0),
         | fr AS (SELECT doc_id, frame_idx, flen,
         |          substr(hx, frame_idx*flen*2 + 1, flen*2) AS fhx FROM f),
         | ds AS (SELECT doc_id, frame_idx, flen, fhx,
         |          array_to_string(list_transform(range(0, flen//2),
         |            j -> substr(fhx, CAST(4*j+1 AS INT), 2)), '') AS dshx FROM fr)
         |SELECT doc_id, frame_idx,
         | CAST(frame_idx*flen AS BIGINT) AS frame_offset,
         | CAST(flen AS INT) AS frame_len,
         | ${crcOf(bytesOf("fhx"))} AS frame_checksum,
         | CAST(flen//2 AS INT) AS ds_len,
         | ${crcOf(bytesOf("dshx"))} AS ds_checksum
         |FROM ds ORDER BY doc_id, frame_idx""".stripMargin
    },
    // MinHash+LSH near-dup pairs, fully replicated: FNV token hashes
    // -> 3-shingle mix chains -> 64 multiply-shift permutation minima
    // (kept in sign-bias form: signed compare == unsigned compare of
    // x^2^63, and equality/banding are bias-invariant) -> 16 bands of
    // 4 rows joined on the raw slice (Spark buckets by xxhash64 of the
    // slice; equal modulo 2^-64 collisions) -> signature-agreement
    // Jaccard >= 0.5. k/64 is dyadic with exactly 6 decimal digits, so
    // ROUND(.,6) is the identity on both engines.
    "dedup_minhash" -> {
      import graft.functions.TextHash.mix64
      val pa = (0 until 64).map(i => mix64(42L + 2L * i) | 1L)
      val pb = (0 until 64).map(i => mix64(42L + 2L * i + 1L))
      def u(x: Long): String = java.lang.Long.toUnsignedString(x)
      val palo = pa.map(v => s"CAST(${u(v & 0xffffffffL)} AS HUGEINT)").mkString("[", ",", "]")
      val pahi = pa.map(v => s"CAST(${u(v >>> 32)} AS HUGEINT)").mkString("[", ",", "]")
      val pbl = pb.map(v => s"CAST(${u(v)} AS HUGEINT)").mkString("[", ",", "]")
      val perm =
        s"xor(CAST((list_extract($palo, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 18446744073709551616 + " +
          s"(list_extract($pahi, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 4294967296) * 4294967296 + " +
          s"list_extract($pbl, CAST(i+1 AS INT))) % 18446744073709551616 AS UBIGINT), " +
          "CAST(9223372036854775808 AS UBIGINT))"
      s"""WITH t AS ($toksCte),
         | th AS (SELECT doc_id, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | sigs AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 64), i ->
         |            list_min(list_transform(shs, s -> $perm))) AS sig
         |          FROM shx WHERE len(shs) > 0),
         | banded AS (SELECT doc_id, sig, unnest(list_transform(range(0, 16), b2 ->
         |   {'band': CAST(b2 AS INT), 'key': sig[CAST(b2*4+1 AS INT):CAST(b2*4+4 AS INT)]}),
         |   recursive := true) FROM sigs),
         | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |          FROM banded a JOIN banded b
         |            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         | j AS (SELECT da AS doc_a, db AS doc_b,
         |         ROUND(CAST(len(list_filter(range(0, 64),
         |           i -> sa.sig[CAST(i+1 AS INT)] = sb.sig[CAST(i+1 AS INT)])) AS DOUBLE)
         |           / 64, 6) AS jaccard_est
         |       FROM cand JOIN sigs sa ON da = sa.doc_id JOIN sigs sb ON db = sb.doc_id)
         |SELECT doc_a, doc_b, jaccard_est FROM j WHERE jaccard_est >= 0.5e0
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // Estimate-vs-exact accuracy audit: same signature/banding chain
    // as dedup_minhash (threshold 0.3 for a spread of agreement
    // levels); the exact side intersects STRING shingle sets (the
    // engine intersects hash sets — equal counts barring collision,
    // the standing discipline).
    "minhash_accuracy" -> {
      import graft.functions.TextHash.mix64
      val pa = (0 until 64).map(i => mix64(42L + 2L * i) | 1L)
      val pb = (0 until 64).map(i => mix64(42L + 2L * i + 1L))
      def u(x: Long): String = java.lang.Long.toUnsignedString(x)
      val palo = pa.map(v => s"CAST(${u(v & 0xffffffffL)} AS HUGEINT)").mkString("[", ",", "]")
      val pahi = pa.map(v => s"CAST(${u(v >>> 32)} AS HUGEINT)").mkString("[", ",", "]")
      val pbl = pb.map(v => s"CAST(${u(v)} AS HUGEINT)").mkString("[", ",", "]")
      val perm =
        s"xor(CAST((list_extract($palo, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 18446744073709551616 + " +
          s"(list_extract($pahi, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 4294967296) * 4294967296 + " +
          s"list_extract($pbl, CAST(i+1 AS INT))) % 18446744073709551616 AS UBIGINT), " +
          "CAST(9223372036854775808 AS UBIGINT))"
      s"""WITH t AS ($toksCte),
         | th AS (SELECT doc_id, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | sigs AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 64), i ->
         |            list_min(list_transform(shs, s -> $perm))) AS sig
         |          FROM shx WHERE len(shs) > 0),
         | banded AS (SELECT doc_id, sig, unnest(list_transform(range(0, 16), b2 ->
         |   {'band': CAST(b2 AS INT), 'key': sig[CAST(b2*4+1 AS INT):CAST(b2*4+4 AS INT)]}),
         |   recursive := true) FROM sigs),
         | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |          FROM banded a JOIN banded b
         |            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         | j AS (SELECT da AS doc_a, db AS doc_b,
         |         ROUND(CAST(len(list_filter(range(0, 64),
         |           i -> sa.sig[CAST(i+1 AS INT)] = sb.sig[CAST(i+1 AS INT)])) AS DOUBLE)
         |           / 64, 6) AS jaccard_est
         |       FROM cand JOIN sigs sa ON da = sa.doc_id JOIN sigs sb ON db = sb.doc_id),
         | jf AS (SELECT * FROM j WHERE jaccard_est >= 0.3e0),
         | s AS (SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(toks)-2, 0)),
         |   i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) sh FROM t),
         | ex AS (SELECT jf.doc_a, jf.doc_b, jf.jaccard_est,
         |          ROUND(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
         |            / (len(a.sh) + len(b.sh)
         |               - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 6)
         |            AS jaccard_exact
         |        FROM jf JOIN s a ON jf.doc_a = a.doc_id
         |               JOIN s b ON jf.doc_b = b.doc_id)
         |SELECT doc_a, doc_b, jaccard_est, jaccard_exact,
         | ROUND(abs(jaccard_est - jaccard_exact), 6) AS abs_err
         |FROM ex ORDER BY doc_a, doc_b""".stripMargin
    },
    // Incremental variant: identical signature chain; candidates are
    // new-batch × corpus band collisions only (doc_id % 10 = 7 plays
    // the new batch), best match per new doc = highest agreement,
    // smallest existing doc_id on ties — the Spark side's struct
    // argmax replayed as a rank window.
    "dedup_incremental" -> {
      import graft.functions.TextHash.mix64
      val pa = (0 until 64).map(i => mix64(42L + 2L * i) | 1L)
      val pb = (0 until 64).map(i => mix64(42L + 2L * i + 1L))
      def u(x: Long): String = java.lang.Long.toUnsignedString(x)
      val palo = pa.map(v => s"CAST(${u(v & 0xffffffffL)} AS HUGEINT)").mkString("[", ",", "]")
      val pahi = pa.map(v => s"CAST(${u(v >>> 32)} AS HUGEINT)").mkString("[", ",", "]")
      val pbl = pb.map(v => s"CAST(${u(v)} AS HUGEINT)").mkString("[", ",", "]")
      val perm =
        s"xor(CAST((list_extract($palo, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 18446744073709551616 + " +
          s"(list_extract($pahi, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 4294967296) * 4294967296 + " +
          s"list_extract($pbl, CAST(i+1 AS INT))) % 18446744073709551616 AS UBIGINT), " +
          "CAST(9223372036854775808 AS UBIGINT))"
      s"""WITH t AS ($toksCte),
         | th AS (SELECT doc_id, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | sigs AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 64), i ->
         |            list_min(list_transform(shs, s -> $perm))) AS sig
         |          FROM shx WHERE len(shs) > 0),
         | banded AS (SELECT doc_id, unnest(list_transform(range(0, 16), b2 ->
         |   {'band': CAST(b2 AS INT), 'key': sig[CAST(b2*4+1 AS INT):CAST(b2*4+4 AS INT)]}),
         |   recursive := true) FROM sigs),
         | cand AS (SELECT DISTINCT n.doc_id AS dn, o.doc_id AS dob
         |          FROM banded n JOIN banded o
         |            ON n.band = o.band AND n.key = o.key
         |          WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7),
         | j AS (SELECT dn, dob,
         |         ROUND(CAST(len(list_filter(range(0, 64),
         |           i -> sa.sig[CAST(i+1 AS INT)] = sb.sig[CAST(i+1 AS INT)])) AS DOUBLE)
         |           / 64, 6) AS jaccard_est
         |       FROM cand JOIN sigs sa ON dn = sa.doc_id JOIN sigs sb ON dob = sb.doc_id),
         | best AS (SELECT dn AS doc_id, dob AS dup_of, jaccard_est, row_number() OVER (
         |            PARTITION BY dn ORDER BY jaccard_est DESC, dob ASC) AS rn
         |          FROM j WHERE jaccard_est >= 0.5e0)
         |SELECT doc_id, dup_of, jaccard_est FROM best WHERE rn = 1
         |ORDER BY doc_id""".stripMargin
    },
    // Same signature/banding construction; one-step min-representative
    // clustering (Spark keys buckets by xxhash64(band, slice-hash);
    // grouping on (band, raw slice) is identical modulo collisions).
    "dedup_minhash_groups" -> {
      import graft.functions.TextHash.mix64
      val pa = (0 until 64).map(i => mix64(42L + 2L * i) | 1L)
      val pb = (0 until 64).map(i => mix64(42L + 2L * i + 1L))
      def u(x: Long): String = java.lang.Long.toUnsignedString(x)
      val palo = pa.map(v => s"CAST(${u(v & 0xffffffffL)} AS HUGEINT)").mkString("[", ",", "]")
      val pahi = pa.map(v => s"CAST(${u(v >>> 32)} AS HUGEINT)").mkString("[", ",", "]")
      val pbl = pb.map(v => s"CAST(${u(v)} AS HUGEINT)").mkString("[", ",", "]")
      val perm =
        s"xor(CAST((list_extract($palo, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 18446744073709551616 + " +
          s"(list_extract($pahi, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 4294967296) * 4294967296 + " +
          s"list_extract($pbl, CAST(i+1 AS INT))) % 18446744073709551616 AS UBIGINT), " +
          "CAST(9223372036854775808 AS UBIGINT))"
      s"""WITH t AS ($toksCte),
         | th AS (SELECT doc_id, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | sigs AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 64), i ->
         |            list_min(list_transform(shs, s -> $perm))) AS sig
         |          FROM shx WHERE len(shs) > 0),
         | banded AS (SELECT doc_id, unnest(list_transform(range(0, 16), b2 ->
         |   {'band': CAST(b2 AS INT), 'key': sig[CAST(b2*4+1 AS INT):CAST(b2*4+4 AS INT)]}),
         |   recursive := true) FROM sigs),
         | reps AS (SELECT band, key, MIN(doc_id) AS rep FROM banded GROUP BY band, key),
         | g AS (SELECT banded.doc_id, MIN(rep) AS cluster_rep
         |       FROM banded JOIN reps USING (band, key) GROUP BY banded.doc_id)
         |SELECT doc_id, cluster_rep, cluster_rep < doc_id AS is_duplicate
         |FROM g ORDER BY doc_id""".stripMargin
    },
    // Keep-best variant: identical signature/banding chain; the bucket
    // representative is the member with the highest score (token
    // count), lowest doc_id on ties, and each doc adopts the
    // best-scoring rep among its buckets.
    "dedup_keep_best" -> {
      import graft.functions.TextHash.mix64
      val pa = (0 until 64).map(i => mix64(42L + 2L * i) | 1L)
      val pb = (0 until 64).map(i => mix64(42L + 2L * i + 1L))
      def u(x: Long): String = java.lang.Long.toUnsignedString(x)
      val palo = pa.map(v => s"CAST(${u(v & 0xffffffffL)} AS HUGEINT)").mkString("[", ",", "]")
      val pahi = pa.map(v => s"CAST(${u(v >>> 32)} AS HUGEINT)").mkString("[", ",", "]")
      val pbl = pb.map(v => s"CAST(${u(v)} AS HUGEINT)").mkString("[", ",", "]")
      val perm =
        s"xor(CAST((list_extract($palo, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 18446744073709551616 + " +
          s"(list_extract($pahi, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 4294967296) * 4294967296 + " +
          s"list_extract($pbl, CAST(i+1 AS INT))) % 18446744073709551616 AS UBIGINT), " +
          "CAST(9223372036854775808 AS UBIGINT))"
      s"""WITH t AS ($toksCte),
         | th AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS score,
         |          list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, score, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | sigs AS MATERIALIZED (SELECT doc_id, score, list_transform(range(0, 64), i ->
         |            list_min(list_transform(shs, s -> $perm))) AS sig
         |          FROM shx WHERE len(shs) > 0),
         | banded AS (SELECT doc_id, score, unnest(list_transform(range(0, 16), b2 ->
         |   {'band': CAST(b2 AS INT), 'key': sig[CAST(b2*4+1 AS INT):CAST(b2*4+4 AS INT)]}),
         |   recursive := true) FROM sigs),
         | reps AS (SELECT band, key, doc_id AS rep, score AS rep_score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY band, key
         |      ORDER BY score DESC, doc_id ASC) AS rn FROM banded) WHERE rn = 1),
         | g AS (SELECT banded.doc_id, rep, row_number() OVER (
         |        PARTITION BY banded.doc_id ORDER BY rep_score DESC, rep ASC) AS rn2
         |       FROM banded JOIN reps USING (band, key))
         |SELECT doc_id, rep AS cluster_rep, doc_id <> rep AS is_duplicate
         |FROM g WHERE rn2 = 1 ORDER BY doc_id""".stripMargin
    },
    // FULL transitive duplicate components over the same banding
    // chain: undirected co-bucket pairs (self-pairs keep singletons),
    // recursive-CTE reachability closure, component label = min doc_id
    // of the reachable set — the fixed point Spark's min-label
    // propagation + pointer jumping converges to. (Spark keys buckets
    // by xxhash64(band, slice-hash); grouping on (band, raw slice) is
    // identical modulo 64-bit collisions, as for the group oracles.)
    "dedup_components" -> {
      import graft.functions.TextHash.mix64
      val pa = (0 until 64).map(i => mix64(42L + 2L * i) | 1L)
      val pb = (0 until 64).map(i => mix64(42L + 2L * i + 1L))
      def u(x: Long): String = java.lang.Long.toUnsignedString(x)
      val palo = pa.map(v => s"CAST(${u(v & 0xffffffffL)} AS HUGEINT)").mkString("[", ",", "]")
      val pahi = pa.map(v => s"CAST(${u(v >>> 32)} AS HUGEINT)").mkString("[", ",", "]")
      val pbl = pb.map(v => s"CAST(${u(v)} AS HUGEINT)").mkString("[", ",", "]")
      val perm =
        s"xor(CAST((list_extract($palo, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 18446744073709551616 + " +
          s"(list_extract($pahi, CAST(i+1 AS INT)) * CAST(s AS HUGEINT) % 4294967296) * 4294967296 + " +
          s"list_extract($pbl, CAST(i+1 AS INT))) % 18446744073709551616 AS UBIGINT), " +
          "CAST(9223372036854775808 AS UBIGINT))"
      s"""WITH RECURSIVE t AS ($toksCte),
         | th AS (SELECT doc_id, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | sigs AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 64), i ->
         |            list_min(list_transform(shs, s -> $perm))) AS sig
         |          FROM shx WHERE len(shs) > 0),
         | banded AS (SELECT doc_id, unnest(list_transform(range(0, 16), b2 ->
         |   {'band': CAST(b2 AS INT), 'key': sig[CAST(b2*4+1 AS INT):CAST(b2*4+4 AS INT)]}),
         |   recursive := true) FROM sigs),
         | cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |          FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key),
         | reach AS (SELECT da, db FROM cand
         |           UNION
         |           SELECT r.da, c.db FROM reach r JOIN cand c ON r.db = c.da)
         |SELECT da AS doc_id, MIN(db) AS comp, MIN(db) < da AS is_duplicate
         |FROM reach GROUP BY da ORDER BY da""".stripMargin
    },
    // Cross-source n-gram containment matrix: distinct (source, 8-gram)
    // rows, gram-keyed self-join, one count per ordered source pair;
    // containment = shared / grams_a.
    "source_overlap" ->
      s"""WITH t AS ($toksCte),
         | g AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(
         |          range(0, len(toks) - 7),
         |          i -> array_to_string(toks[i+1 : i+8], ' ')))) AS ngram
         |       FROM t WHERE len(toks) >= 8),
         | c AS (SELECT source, COUNT(*) AS grams_a FROM g GROUP BY source),
         | p AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_grams
         |       FROM g a JOIN g b ON a.ngram = b.ngram AND a.source <> b.source
         |       GROUP BY 1, 2)
         |SELECT source_a, source_b, grams_a, shared_grams,
         | ROUND(CAST(shared_grams AS DOUBLE) / grams_a, 6) AS containment
         |FROM p JOIN c ON c.source = p.source_a
         |ORDER BY source_a, source_b""".stripMargin,
    // SimHash near-dup pairs, fully replicated: FNV token hashes ->
    // 3-shingle mix chains -> seeded per-shingle hash -> majority-vote
    // 64-bit fingerprint -> 8x8-bit segment blocking -> Hamming <= 7.
    "dedup_simhash" -> {
      val hmix = HashSql.mix("xor(s, CAST(42 AS UBIGINT))")
      s"""WITH t AS ($toksCte),
         | th AS (SELECT doc_id, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | hx AS (SELECT doc_id, len(shs) AS n, list_transform(shs, s -> $hmix) AS hv FROM shx),
         | fp AS MATERIALIZED (SELECT doc_id, list_sum(list_transform(range(0, 64), b ->
         |   CASE WHEN 2*COALESCE(list_sum(list_transform(hv,
         |          h -> CAST((h >> CAST(b AS UBIGINT)) & 1 AS BIGINT))), 0) > n
         |   THEN CAST(1 AS UBIGINT) << CAST(b AS INT) ELSE CAST(0 AS UBIGINT) END)) AS fp
         |  FROM hx),
         | seg AS (SELECT doc_id, fp, unnest(list_transform(range(0, 8), s ->
         |   {'sg': CAST(s AS INT), 'sv': CAST((fp >> CAST(8*s AS UBIGINT)) & 255 AS INT)}),
         |   recursive := true) FROM fp),
         | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM seg a JOIN seg b
         |   ON a.sg = b.sg AND a.sv = b.sv AND a.doc_id < b.doc_id),
         | hm AS (SELECT da AS doc_a, db AS doc_b,
         |          CAST(bit_count(xor(fa.fp, fb.fp)) AS INT) AS hamming
         |        FROM cand JOIN fp fa ON da = fa.doc_id JOIN fp fb ON db = fb.doc_id)
         |SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= 7
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // LSH top-k: corpus bucket per table from stored-index semantics;
    // query probes = main bucket + the 2 lowest-|margin| bit flips per
    // table (list_sort on (margin, bit) structs = the kernel's
    // earliest-index-on-tie selection sort); candidate = any table's
    // bucket among that table's probes; exact cosine re-rank.
    "lsh_knn" -> {
      val qBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("qd", t)} AS qb$t").mkString(", ")
      val qSorts = (0 until lshTables).map { t =>
        val pairs = (0 until lshBits).map(b =>
          s"{'m': abs(qd${t}_$b), 'bit': $b}").mkString("[", ", ", "]")
        s"list_sort($pairs) AS ms$t"
      }.mkString(", ")
      val qProbes = (0 until lshTables).map(t =>
        s"[qb$t, xor(qb$t, 1 << struct_extract(ms$t[1], 'bit')), " +
          s"xor(qb$t, 1 << struct_extract(ms$t[2], 'bit'))] AS p$t").mkString(", ")
      val eBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("ed", t)} AS c$t").mkString(", ")
      val candidate = (0 until lshTables).map(t =>
        s"list_contains(p$t, c$t)").mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id <> 0),
         | q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
         | qd AS (SELECT qv, ${lshDotsSql("qv", "qd")} FROM q0),
         | qb AS (SELECT *, $qBuckets FROM qd),
         | qs AS (SELECT *, $qSorts FROM qb),
         | qp AS (SELECT qv, $qProbes FROM qs),
         | ed AS (SELECT vec_id, v, ${lshDotsSql("v", "ed")} FROM e),
         | ec AS (SELECT vec_id, v, $eBuckets FROM ed)
         |SELECT vec_id, ROUND(${cosSql("v", "qv")}, 6) AS score
         |FROM ec, qp WHERE $candidate
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    // Batch variant of the same machinery: 5 query rows each derive
    // their buckets + 2-probe lists; candidates per (query, corpus)
    // pair; exact cosine re-rank and per-query row_number <= 10.
    "lsh_knn_batch" -> {
      val qBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("qd", t)} AS qb$t").mkString(", ")
      val qSorts = (0 until lshTables).map { t =>
        val pairs = (0 until lshBits).map(b =>
          s"{'m': abs(qd${t}_$b), 'bit': $b}").mkString("[", ", ", "]")
        s"list_sort($pairs) AS ms$t"
      }.mkString(", ")
      val qProbes = (0 until lshTables).map(t =>
        s"[qb$t, xor(qb$t, 1 << struct_extract(ms$t[1], 'bit')), " +
          s"xor(qb$t, 1 << struct_extract(ms$t[2], 'bit'))] AS p$t").mkString(", ")
      val eBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("ed", t)} AS c$t").mkString(", ")
      val candidate = (0 until lshTables).map(t =>
        s"list_contains(p$t, c$t)").mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id >= 5),
         | q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
         |        FROM embeddings WHERE vec_id < 5),
         | qd AS (SELECT query_id, qv, ${lshDotsSql("qv", "qd")} FROM q0),
         | qb AS (SELECT *, $qBuckets FROM qd),
         | qs AS (SELECT *, $qSorts FROM qb),
         | qp AS (SELECT query_id, qv, $qProbes FROM qs),
         | ed AS (SELECT vec_id, v, ${lshDotsSql("v", "ed")} FROM e),
         | ec AS MATERIALIZED (SELECT vec_id, v, $eBuckets FROM ed),
         | sc AS (SELECT query_id, vec_id, ROUND(${cosSql("v", "qv")}, 6) AS score
         |        FROM ec, qp WHERE $candidate),
         | r AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank
         |       FROM sc)
         |SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    // LSH-blocked near-dup pairs: same bucket construction over the
    // full embeddings table; candidate pairs share any table's bucket;
    // cosine-verified at threshold 0.3.
    "dedup_embedding_lsh" -> {
      val eBuckets = (0 until lshTables).map(t =>
        s"${lshBucketFromDots("ed", t)} AS c$t").mkString(", ")
      val bucketStructs = (0 until lshTables).map(t =>
        s"{'t': $t, 'b': c$t}").mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         | ed AS (SELECT vec_id, v, ${lshDotsSql("v", "ed")} FROM e),
         | ec AS (SELECT vec_id, $eBuckets FROM ed),
         | eb AS (SELECT vec_id, unnest($bucketStructs, recursive := true) FROM ec),
         | cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |          FROM eb a JOIN eb b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
         | sc AS (SELECT vec_a, vec_b,
         |          ROUND(${cosSql("ea.v", "eb2.v")}, 6) AS cos_sim
         |        FROM cand JOIN e ea ON cand.vec_a = ea.vec_id
         |                  JOIN e eb2 ON cand.vec_b = eb2.vec_id)
         |SELECT vec_a, vec_b, cos_sim FROM sc WHERE cos_sim >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin
    },
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue,
        | COUNT(DISTINCT c_custkey) AS n_customers
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q3_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4_window" ->
      """WITH r AS (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER w AS INT) AS rk,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
        | FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
        |SELECT o_custkey, rk, o_orderkey, o_totalprice, running_spend
        |FROM r WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q5_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps,
        | COUNT(DISTINCT l_orderkey) AS n_orders,
        | COUNT(*) AS n_rows FROM lineitem""".stripMargin,
    "q6_exists_join" ->
      """WITH oc AS (SELECT DISTINCT o_custkey FROM orders),
        | w AS (SELECT c_nationkey, COUNT(*) AS n_with FROM customer
        |        WHERE c_custkey IN (SELECT o_custkey FROM oc) GROUP BY 1),
        | wo AS (SELECT c_nationkey, COUNT(*) AS n_without FROM customer
        |        WHERE c_custkey NOT IN (SELECT o_custkey FROM oc) GROUP BY 1)
        |SELECT n_name, COALESCE(w.n_with, 0) AS n_with_orders,
        | COALESCE(wo.n_without, 0) AS n_without_orders
        |FROM nation LEFT JOIN w ON n_nationkey = w.c_nationkey
        |LEFT JOIN wo ON n_nationkey = wo.c_nationkey
        |ORDER BY n_name""".stripMargin,
    // ROLLUP: DuckDB's GROUPING(a,b) emits the same bitmask as
    // Spark's grouping_id() (0 detail / 1 per-flag / 3 grand total).
    "q7_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n_rows,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin,
    "q8_pivot" -> {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val cols = types.map { tpe =>
        s"""COUNT(CASE WHEN event_type = '$tpe' THEN 1 END) AS n_$tpe,
           | CAST(SUM(CAST(CASE WHEN event_type = '$tpe' THEN value
           |   ELSE 0.0e0 END AS DECIMAL(28,6))) AS DOUBLE) AS sum_$tpe""".stripMargin
      }.mkString(",\n ")
      s"""SELECT user_id,
         | $cols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "chunk_stats" ->
      s"""WITH t AS ($toksCte),
         | c AS (SELECT doc_id, source, unnest(list_transform(
         |   range(0, (len(toks)+31)//32),
         |   i -> {'chunk_idx': CAST(i AS INT),
         |         'n_tokens': CAST(least(32, len(toks) - i*32) AS INT)}),
         |   recursive := true)
         |  FROM t WHERE len(toks) > 0)
         |SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
         | CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         | floor(CAST(SUM(n_tokens) AS DOUBLE)/COUNT(*) * 1.0e6 + 0.5e0)/1.0e6 AS avg_chunk_tokens
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "knn_cosine" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ROUND(${cosSql(embD, "q.qv")}, 6) AS score
         |FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "knn_dot" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ROUND(list_dot_product($embD, q.qv), 6) AS score
         |FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "knn_euclidean" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ROUND(1.0/(1.0 + list_distance($embD, q.qv)), 6) AS score
         |FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "knn_manhattan" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
         | s AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) ev, q.qv
         |        FROM embeddings e, q WHERE e.vec_id <> 0)
         |SELECT vec_id, ROUND(1.0/(1.0 + list_sum(list_transform(
         |  range(1, len(ev)+1), i -> abs(ev[i] - qv[i])))), 6) AS score
         |FROM s ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "knn_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
         |           FROM embeddings WHERE vec_id < 5),
         | sc AS (SELECT q.query_id, e.vec_id, ROUND(${cosSql(embD, "q.qv")}, 6) AS score
         |        FROM embeddings e, q WHERE e.vec_id >= 5),
         | r AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM sc)
         |SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // Deterministic arithmetic over (count, dimension) — the sizing
    // rules replayed verbatim (see operators/Advisor.scala).
    "index_advisor" ->
      s"""WITH p AS (SELECT COUNT(*) AS n_vectors,
         |            CAST(MAX(len(embedding)) AS INT) AS dimension FROM embeddings),
         | c AS (SELECT n_vectors, dimension,
         |        CASE WHEN n_vectors < 10000 THEN 0
         |             ELSE CAST(CEIL(SQRT(CAST(n_vectors AS DOUBLE))) AS INT) END AS n_cells
         |       FROM p)
         |SELECT n_vectors, dimension,
         | CASE WHEN n_vectors < 10000 THEN 'flat'
         |      WHEN n_vectors < 1000000 THEN 'ivf' ELSE 'ivfpq' END AS algorithm,
         | n_cells,
         | CASE WHEN n_cells = 0 THEN 0
         |      ELSE GREATEST(1, CAST(CEIL(n_cells / 16.0) AS INT)) END AS n_probe,
         | CASE WHEN n_cells = 0 THEN n_vectors
         |      ELSE CAST(CEIL(CAST(n_vectors AS DOUBLE) / n_cells) AS BIGINT) END AS est_rows_per_cell
         |FROM c""".stripMargin,
    "vector_stats" ->
      s"""SELECT label, COUNT(*) AS vector_count,
         | CAST(MAX(len(embedding)) AS INT) AS dimension,
         | ROUND(MIN(sqrt(list_dot_product($embD, $embD))), 6) AS min_norm,
         | ROUND(MAX(sqrt(list_dot_product($embD, $embD))), 6) AS max_norm,
         | ROUND(AVG(sqrt(list_dot_product($embD, $embD))), 6) AS avg_norm
         |FROM embeddings e GROUP BY label ORDER BY label""".stripMargin,
    "vector_normalize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        | n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e)
        |SELECT vec_id, pos, unit_val, norm FROM (
        | SELECT vec_id, ROUND(nrm, 6) AS norm,
        |  unnest(list_transform(v, (x, i) -> {'pos': CAST(i-1 AS INT),
        |    'unit_val': ROUND(x / nrm, 6)}), recursive := true)
        | FROM n)
        |ORDER BY vec_id, pos""".stripMargin,
    "index_info" ->
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings),
        | b AS (SELECT min(v[1]) lo0, max(v[1]) hi0, min(v[2]) lo1, max(v[2]) hi1,
        |        min(v[3]) lo2, max(v[3]) hi2, min(v[4]) lo3, max(v[4]) hi3 FROM e),
        | c AS (SELECT
        |   CAST(least(greatest(floor((v[1]-lo0)/greatest(hi0-lo0,1.0e-12)*4),0),3) AS INT) || ',' ||
        |   CAST(least(greatest(floor((v[2]-lo1)/greatest(hi1-lo1,1.0e-12)*4),0),3) AS INT) || ',' ||
        |   CAST(least(greatest(floor((v[3]-lo2)/greatest(hi2-lo2,1.0e-12)*4),0),3) AS INT) || ',' ||
        |   CAST(least(greatest(floor((v[4]-lo3)/greatest(hi3-lo3,1.0e-12)*4),0),3) AS INT) AS cell
        |  FROM e, b),
        | pc AS (SELECT cell, COUNT(*) AS cell_size FROM c GROUP BY cell)
        |SELECT COUNT(*) AS occupied_cells,
        | floor(AVG(cell_size) * 1.0e6 + 0.5e0)/1.0e6 AS avg_cell_size,
        | MAX(cell_size) AS max_cell_size,
        | CAST(256 AS INT) AS total_cells,
        | 256 - COUNT(*) AS empty_cells
        |FROM pc""".stripMargin,
    "vector_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        | m AS (SELECT vec_id, v,
        |   list_max(list_transform(v, x -> abs(x)))/127.0e0 AS s FROM e)
        |SELECT vec_id, pos, qval, scale FROM (
        | SELECT vec_id, ROUND(s, 9) AS scale,
        |  unnest(list_transform(v, (x, i) -> {'pos': CAST(i-1 AS INT),
        |    'qval': CAST(round(x/s) AS INT)}), recursive := true)
        | FROM m)
        |ORDER BY vec_id, pos""".stripMargin,
    "chunk_sentences" ->
      s"""WITH t AS ($toksCte)
         |SELECT doc_id, source, chunk_idx, chunk_text, n_tokens FROM (
         | SELECT doc_id, source, unnest(list_transform(
         |   range(0, (len(toks)+31)//32),
         |   i -> {'chunk_idx': CAST(i AS INT),
         |         'chunk_text': array_to_string(toks[i*32+1 : i*32+32], ' '),
         |         'n_tokens': CAST(least(32, len(toks) - i*32) AS INT)}),
         |   recursive := true)
         | FROM t WHERE len(toks) > 0)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "chunk_sliding" ->
      s"""WITH t AS ($toksCte)
         |SELECT doc_id, source, chunk_idx, chunk_text, n_tokens FROM (
         | SELECT doc_id, source, unnest(list_transform(
         |   range(0, (greatest(len(toks) - 32, 0) + 15)//16 + 1),
         |   i -> {'chunk_idx': CAST(i AS INT),
         |         'chunk_text': array_to_string(toks[i*16+1 : i*16+32], ' '),
         |         'n_tokens': CAST(least(32, len(toks) - i*16) AS INT)}),
         |   recursive := true)
         | FROM t WHERE len(toks) > 0)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "contamination" ->
      s"""WITH t AS ($toksCte),
         | g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |          range(0, len(toks) - 7),
         |          i -> array_to_string(toks[i+1 : i+8], ' ')))) AS ngram
         |       FROM t WHERE len(toks) >= 8),
         | ev AS (SELECT DISTINCT ngram FROM g WHERE doc_id < 50),
         | agg AS (SELECT g.doc_id, COUNT(*) AS n_ngrams,
         |          COUNT(e.ngram) AS n_contaminated
         |         FROM g LEFT JOIN ev e USING (ngram)
         |         WHERE g.doc_id >= 50 GROUP BY g.doc_id)
         |SELECT d.doc_id,
         | COALESCE(n_ngrams, 0) AS n_ngrams,
         | COALESCE(n_contaminated, 0) AS n_contaminated,
         | ROUND(COALESCE(CAST(n_contaminated AS DOUBLE) / n_ngrams, 0.0e0), 6)
         |   AS contamination,
         | ROUND(COALESCE(CAST(n_contaminated AS DOUBLE) / n_ngrams, 0.0e0), 6) > 0.1e0
         |   AS is_contaminated
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |WHERE d.doc_id >= 50 ORDER BY d.doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH t AS ($toksCte),
         | s AS (SELECT doc_id, source, list_distinct(list_transform(
         |   range(0, greatest(len(toks)-2, 0)),
         |   i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) sh FROM t),
         | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
         |        len(a.sh) AS na, len(b.sh) AS nb
         |       FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id),
         | j AS (SELECT doc_a, doc_b,
         |        ROUND(CAST(inter AS DOUBLE)/(na + nb - inter), 6) AS jaccard FROM p)
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding" ->
      s"""WITH p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ROUND(${cosSql("CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])")}, 6) AS cos_sim
         | FROM embeddings a JOIN embeddings b
         |   ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin,
    // Drift means sum 6-dp-quantized components as DECIMAL — exact and
    // order-independent on both engines (the cross-engine float-sum
    // discipline the cluster card uses).
    "embedding_drift" ->
      s"""WITH dims AS (SELECT unnest(range(1, 65)) AS i),
         | o AS (SELECT CAST(i - 1 AS INT) AS dim,
         |        ROUND(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE), 6)
         |          AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mean_old
         |       FROM embeddings, dims WHERE vec_id % 2 = 0 GROUP BY i),
         | n AS (SELECT CAST(i - 1 AS INT) AS dim,
         |        ROUND(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE), 6)
         |          AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mean_new
         |       FROM embeddings, dims WHERE vec_id % 2 = 1 GROUP BY i)
         |SELECT o.dim, mean_old, mean_new,
         | ROUND(abs(mean_new - mean_old), 6) AS abs_delta
         |FROM o JOIN n ON o.dim = n.dim ORDER BY o.dim""".stripMargin,
    "dedup_normalized" ->
      s"""SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
         | COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Duplicated-span audit: the engine shuffles xxhash64(window) as
    // an 8-byte key; the oracle groups the window STRINGS themselves —
    // identical counts barring a 64-bit collision (none at sf scale;
    // the same key-hashing discipline the gram pipelines use).
    "dedup_substring" ->
      s"""WITH t AS ($toksCte),
         | g AS (SELECT doc_id, unnest(list_transform(
         |          range(0, len(toks) - 19),
         |          i -> array_to_string(toks[i+1 : i+20], ' '))) AS win
         |       FROM t WHERE len(toks) >= 20),
         | dw AS (SELECT win FROM g GROUP BY win
         |        HAVING COUNT(DISTINCT doc_id) >= 2),
         | agg AS (SELECT g.doc_id, COUNT(*) AS n_windows,
         |          COUNT(d.win) AS dup_windows
         |         FROM g LEFT JOIN dw d USING (win) GROUP BY g.doc_id)
         |SELECT d.doc_id,
         | COALESCE(n_windows, 0) AS n_windows,
         | COALESCE(dup_windows, 0) AS dup_windows,
         | ROUND(COALESCE(CAST(dup_windows AS DOUBLE) / n_windows, 0.0e0), 6)
         |   AS dup_fraction,
         | ROUND(COALESCE(CAST(dup_windows AS DOUBLE) / n_windows, 0.0e0), 6) > 0.2e0
         |   AS is_flagged
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Gopher rules: thresholds compare on RAW doubles, outputs
    // quantize to 6 dp; rule order is part of the contract (first
    // failing rule wins), mirroring the Spark CASE exactly.
    "gopher_quality" ->
      s"""WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text),
         |  '[^a-z0-9]+'), x -> x <> '') toks FROM documents),
         | m AS (SELECT doc_id, text, CAST(len(toks) AS INT) nt,
         |   CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) tl,
         |   CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) na,
         |   CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS INT) sh,
         |   string_split(text, chr(10)) lns FROM t),
         | x AS (SELECT doc_id, nt, sh,
         |   CASE WHEN nt > 0 THEN tl / nt ELSE 0.0e0 END AS ml,
         |   CASE WHEN nt > 0 THEN na / nt ELSE 0.0e0 END AS ar,
         |   CASE WHEN nt > 0 THEN (
         |     CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
         |     + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3
         |   ) / nt ELSE 0.0e0 END AS sr,
         |   CAST(len(list_filter(lns, l -> starts_with(ltrim(l), '-')
         |     OR starts_with(ltrim(l), '*'))) AS DOUBLE) / len(lns) AS br,
         |   CAST(len(list_filter(lns, l -> ends_with(rtrim(l), '...'))) AS DOUBLE)
         |     / len(lns) AS er
         |  FROM m),
         | g AS (SELECT *, CASE
         |   WHEN nt < 20 OR nt > 100000 THEN 'word_count'
         |   WHEN ml < 3.0e0 OR ml > 10.0e0 THEN 'mean_word_len'
         |   WHEN sr > 0.1e0 THEN 'symbol_ratio'
         |   WHEN br > 0.9e0 THEN 'bullet_lines'
         |   WHEN er > 0.3e0 THEN 'ellipsis_lines'
         |   WHEN ar < 0.8e0 THEN 'non_alpha'
         |   WHEN sh < 2 THEN 'stopwords'
         |   ELSE 'ok' END AS reason FROM x)
         |SELECT doc_id, nt AS n_tokens,
         | floor(ml * 1.0e6 + 0.5e0)/1.0e6 AS mean_word_len,
         | floor(sr * 1.0e6 + 0.5e0)/1.0e6 AS symbol_ratio,
         | floor(ar * 1.0e6 + 0.5e0)/1.0e6 AS alpha_ratio,
         | sh AS stop_hits, reason, reason = 'ok' AS keep
         |FROM g ORDER BY doc_id""".stripMargin,
    "corpus_diff" ->
      s"""WITH o AS (SELECT doc_id, md5(text) h FROM documents WHERE doc_id % 7 <> 3),
         | n AS (SELECT doc_id,
         |   md5(CASE WHEN doc_id % 11 = 5 THEN text || ' v2' ELSE text END) h
         |  FROM documents WHERE doc_id % 5 <> 2)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         | CASE WHEN o.h IS NULL THEN 'added' WHEN n.h IS NULL THEN 'removed'
         |      WHEN o.h <> n.h THEN 'changed' ELSE 'unchanged' END AS status
         |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         |ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
         |  '[^a-z0-9]+'), x -> x <> '') toks, length(text) nc FROM documents)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         | CAST(len(list_distinct(toks)) AS INT) AS n_unique_tokens,
         | CAST(nc AS INT) AS n_chars
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
         |  '[^a-z0-9]+'), x -> x <> '') toks FROM documents),
         | m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) nt,
         |   CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) sh,
         |   CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) tl FROM t),
         | c AS (SELECT doc_id,
         |   CASE WHEN nt > 0 THEN sh/nt ELSE 0.0 END sr,
         |   CASE WHEN nt > 0 THEN tl/nt ELSE 0.0 END al,
         |   least(1.0, nt/200.0) ls FROM m)
         |SELECT doc_id, floor(sr * 1.0e6 + 0.5e0)/1.0e6 AS stopword_ratio,
         | floor(al * 1.0e6 + 0.5e0)/1.0e6 AS avg_token_len,
         | floor((0.4e0*sr + 0.3e0*ls + 0.3e0*greatest(0.0e0, 1.0e0 - abs(al - 5.0e0)/10.0e0)) * 1.0e6 + 0.5e0)/1.0e6 AS quality_score
         |FROM c ORDER BY doc_id""".stripMargin,
    // Linear quality classifier: every feature and the logit are
    // rational double arithmetic (no exp/ln), so the oracle replays
    // the exact IEEE sequence; keep compares the RAW logit to 0,
    // outputs quantize to 6 dp.
    "quality_classifier" ->
      s"""WITH t AS (SELECT doc_id, CAST(length(text) AS DOUBLE) nc,
         |  list_filter(string_split_regex(lower(text),
         |  '[^a-z0-9]+'), x -> x <> '') toks FROM documents),
         | m AS (SELECT doc_id, nc, CAST(len(toks) AS DOUBLE) nt,
         |   CAST(len(list_distinct(toks)) AS DOUBLE) nu,
         |   CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) sh,
         |   CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) tl FROM t),
         | f AS (SELECT doc_id,
         |   CASE WHEN nt > 0 THEN sh/nt ELSE 0.0e0 END x1,
         |   CASE WHEN nt > 0 THEN nu/nt ELSE 0.0e0 END x2,
         |   greatest(0.0e0, 1.0e0 - abs((CASE WHEN nt > 0 THEN tl/nt ELSE 0.0e0 END) - 5.0e0)/10.0e0) x3,
         |   least(1.0e0, nt/200.0e0) x4,
         |   CASE WHEN nc > 0 THEN tl/nc ELSE 0.0e0 END x5 FROM m),
         | z AS (SELECT doc_id, x1, x2, x3, x4, x5,
         |   -2.5e0 + 2.0e0*x1 + 1.0e0*x2 + 1.0e0*x3 + 1.5e0*x4 + 1.0e0*x5 AS zz FROM f)
         |SELECT doc_id,
         | floor(x1 * 1.0e6 + 0.5e0)/1.0e6 AS stop_ratio,
         | floor(x2 * 1.0e6 + 0.5e0)/1.0e6 AS unique_ratio,
         | floor(x3 * 1.0e6 + 0.5e0)/1.0e6 AS wordlen_plaus,
         | floor(x4 * 1.0e6 + 0.5e0)/1.0e6 AS len_sat,
         | floor(x5 * 1.0e6 + 0.5e0)/1.0e6 AS alnum_density,
         | floor(zz * 1.0e6 + 0.5e0)/1.0e6 AS quality_logit,
         | zz > 0.0e0 AS keep
         |FROM z ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
         |  '[^a-z0-9]+'), x -> x <> '') toks FROM documents),
         | m AS (SELECT doc_id, CASE WHEN len(toks) > 0 THEN
         |   CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE)
         |     / len(toks) ELSE 0.0 END ratio FROM t)
         |SELECT doc_id, floor(ratio * 1.0e6 + 0.5e0)/1.0e6 AS stopword_ratio,
         | CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'und' END AS pred_lang
         |FROM m ORDER BY doc_id""".stripMargin,
    // Multi-language variant: per-language stopword density over the
    // same profiles as TextAnalysis.langProfiles; prediction = first
    // language in profile order with density >= 0.05 and >= all others
    // (comparisons on RAW ratios — one IEEE division of integer-valued
    // doubles, bit-identical cross-engine; outputs quantized).
    "text_langid_multi" -> {
      val langs = TextAnalysis.langProfiles.map(_._1)
      val hitCols = TextAnalysis.langProfiles.map { case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter(toks, x -> list_contains($lst, x))) h_$l"
      }.mkString(", ")
      val ratioCols = langs.map(l =>
        s"CASE WHEN n > 0 THEN CAST(h_$l AS DOUBLE)/n ELSE 0.0e0 END r_$l").mkString(", ")
      val predCases = langs.map { l =>
        val geAll = langs.filterNot(_ == l).map(m => s"r_$l >= r_$m").mkString(" AND ")
        s"WHEN r_$l >= 0.05e0 AND $geAll THEN '$l'"
      }.mkString(" ")
      val outCols = langs.map(l =>
        s"floor(r_$l * 1.0e6 + 0.5e0)/1.0e6 AS r_$l").mkString(", ")
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
         |  '[^a-z0-9]+'), x -> x <> '') toks FROM documents),
         | h AS (SELECT doc_id, len(toks) n, $hitCols FROM t),
         | r AS (SELECT doc_id, $ratioCols FROM h)
         |SELECT doc_id, $outCols,
         | CASE $predCases ELSE 'und' END AS pred_lang
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // PII scrub over the deterministically-enriched corpus: counts per
    // pattern on the original text, redaction applied url → email →
    // ip → phone (DuckDB regexp_replace needs the 'g' flag to match
    // Spark's replace-all). Patterns are the Java/RE2-common subset.
    "text_pii" -> {
      val enrich = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com via https://' || source || '.org/doc/' || " +
        "CAST(doc_id AS VARCHAR) || ' call 555-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.' || " +
        "CAST(doc_id % 256 AS VARCHAR) || '.0.1'"
      val counts = graft.operators.Pipeline.PII_PATTERNS.map { case (pat, tag) =>
        val name = tag.stripPrefix("<").stripSuffix(">").toLowerCase
        s"CAST(len(regexp_extract_all(t, '$pat')) AS INT) AS n_$name"
      }.mkString(",\n |  ")
      val redacted = graft.operators.Pipeline.PII_PATTERNS
        .foldLeft("t") { case (acc, (pat, tag)) =>
          s"regexp_replace($acc, '$pat', '$tag', 'g')"
        }
      s"""WITH e AS (SELECT doc_id, $enrich AS t FROM documents)
         |SELECT doc_id,
         |  $counts,
         |  $redacted AS redacted,
         |  CAST(${graft.operators.Pipeline.PII_PATTERNS.map { case (pat, _) =>
             s"len(regexp_extract_all(t, '$pat'))" }.mkString(" + ")} AS INT) AS pii_total
         |FROM e ORDER BY doc_id""".stripMargin
    },
    // Deterministic split: splitmix64 of (doc_id + seed), sign bit
    // cleared, mod 100 — Spark long arithmetic wraps exactly like the
    // HUGEINT emulation, so buckets are bit-identical.
    "sample_split" ->
      s"""WITH m AS (SELECT doc_id,
         |  CAST((${HashSql.mix("CAST(doc_id + 42 AS UBIGINT)")} >> 1) % 100 AS INT) AS bucket
         | FROM documents)
         |SELECT doc_id, bucket,
         | CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM m ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS ($toksCte),
         | g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         |   THEN list_transform(range(0, len(toks) - 2),
         |          i -> array_to_string(toks[i+1 : i+3], ' '))
         |   ELSE CAST([] AS VARCHAR[]) END AS grams FROM t)
         |SELECT doc_id, CAST(len(grams) AS INT) AS n_ngrams,
         | CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
         | floor((CASE WHEN len(grams) > 0
         |   THEN 1.0e0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
         |   ELSE 0.0e0 END) * 1.0e6 + 0.5e0) / 1.0e6 AS repetition
         |FROM g ORDER BY doc_id""".stripMargin,
    "corpus_stats" ->
      s"""WITH t AS ($toksCte),
         | m AS (SELECT source, CAST(len(toks) AS INT) AS nt FROM t)
         |SELECT source, COUNT(*) AS n_docs,
         | CAST(SUM(nt) AS BIGINT) AS total_tokens,
         | floor(AVG(nt) * 1.0e6 + 0.5e0) / 1.0e6 AS mean_tokens,
         | floor(quantile_cont(nt, 0.5e0) * 1.0e6 + 0.5e0) / 1.0e6 AS p50_tokens,
         | floor(quantile_cont(nt, 0.9e0) * 1.0e6 + 0.5e0) / 1.0e6 AS p90_tokens,
         | floor(quantile_cont(nt, 0.99e0) * 1.0e6 + 0.5e0) / 1.0e6 AS p99_tokens
         |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "mix_sample" ->
      s"""WITH m AS (SELECT doc_id, source,
         |  CAST((${HashSql.mix("CAST(doc_id + 42 AS UBIGINT)")} >> 1) % 10000 AS INT) AS bucket,
         |  CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
         |    WHEN 'src2' THEN 2500 WHEN 'src3' THEN 0 ELSE 7500 END AS rate_bp
         | FROM documents)
         |SELECT doc_id, source, bucket, rate_bp, bucket < rate_bp AS kept
         |FROM m ORDER BY doc_id""".stripMargin,
    // Exact quota sampling: rank per source by the splitmix64 hash
    // (doc_id tie-break), keep ranks within the per-source quota.
    "mix_sample_exact" ->
      s"""WITH m AS (SELECT doc_id, source,
         |  ${HashSql.mix("CAST(doc_id + 42 AS UBIGINT)")} >> 1 AS rk FROM documents),
         | r AS (SELECT doc_id, source, CAST(row_number() OVER (
         |        PARTITION BY source ORDER BY rk, doc_id) AS INT) AS sample_rank FROM m)
         |SELECT doc_id, source, sample_rank,
         | sample_rank <= CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 25
         |   WHEN 'src2' THEN 0 ELSE 100 END AS kept
         |FROM r ORDER BY doc_id""".stripMargin,
    // Composed corpus cleaning: exact-dup window + the text_quality
    // arithmetic, first failing rule wins (rule order is part of the
    // contract); thresholds compared on RAW doubles, output quantized.
    "clean_corpus" ->
      s"""WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text),
         |  '[^a-z0-9]+'), x -> x <> '') toks FROM documents),
         | m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) nt,
         |   CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) sh,
         |   CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) tl,
         |   MIN(doc_id) OVER (PARTITION BY md5(text)) rep FROM t),
         | c AS (SELECT doc_id, nt, rep,
         |   CASE WHEN nt > 0 THEN sh/nt ELSE 0.0 END sr,
         |   CASE WHEN nt > 0 THEN tl/nt ELSE 0.0 END al,
         |   least(1.0, nt/200.0) ls FROM m),
         | sc AS (SELECT doc_id, nt, rep, sr,
         |   0.4e0*sr + 0.3e0*ls + 0.3e0*greatest(0.0e0, 1.0e0 - abs(al - 5.0e0)/10.0e0) AS qs
         |  FROM c),
         | r AS (SELECT doc_id, qs,
         |   CASE WHEN doc_id <> rep THEN 'duplicate'
         |        WHEN nt < 10 THEN 'too_short'
         |        WHEN sr < 0.05e0 THEN 'non_english'
         |        WHEN qs < 0.3e0 THEN 'low_quality'
         |        ELSE 'ok' END AS reason
         |  FROM sc)
         |SELECT doc_id, reason, reason = 'ok' AS keep,
         | floor(qs * 1.0e6 + 0.5e0)/1.0e6 AS quality_score
         |FROM r ORDER BY doc_id""".stripMargin,
    // Composed preprocessing DAG: clean_corpus's gate chain + the
    // sample_split bucket + the shard_pack window masked to kept train
    // docs, all in one statement.
    "prepare_corpus" ->
      s"""WITH t AS (SELECT doc_id, source, text, list_filter(string_split_regex(lower(text),
         |  '[^a-z0-9]+'), x -> x <> '') toks FROM documents),
         | m AS (SELECT doc_id, source, CAST(len(toks) AS INT) nti, CAST(len(toks) AS DOUBLE) nt,
         |   CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) sh,
         |   CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) tl,
         |   MIN(doc_id) OVER (PARTITION BY md5(text)) rep FROM t),
         | c AS (SELECT doc_id, source, nti, nt, rep,
         |   CASE WHEN nt > 0 THEN sh/nt ELSE 0.0 END sr,
         |   CASE WHEN nt > 0 THEN tl/nt ELSE 0.0 END al,
         |   least(1.0, nt/200.0) ls FROM m),
         | sc AS (SELECT doc_id, source, nti, nt, rep, sr,
         |   0.4e0*sr + 0.3e0*ls + 0.3e0*greatest(0.0e0, 1.0e0 - abs(al - 5.0e0)/10.0e0) AS qs
         |  FROM c),
         | r AS (SELECT doc_id, source, nti,
         |   CASE WHEN doc_id <> rep THEN 'duplicate'
         |        WHEN nt < 10 THEN 'too_short'
         |        WHEN sr < 0.05e0 THEN 'non_english'
         |        WHEN qs < 0.3e0 THEN 'low_quality'
         |        ELSE 'ok' END AS reason
         |  FROM sc),
         | s AS (SELECT doc_id, source, nti, reason, reason = 'ok' AS keep,
         |   CASE WHEN reason <> 'ok' THEN NULL
         |        WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |        ELSE 'test' END AS split
         |   FROM (SELECT *, CAST((${HashSql.mix("CAST(doc_id + 42 AS UBIGINT)")} >> 1) % 100 AS INT) AS bucket FROM r)),
         | w AS (SELECT *, SUM(CASE WHEN split = 'train' THEN nti ELSE 0 END) OVER (
         |   PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM s)
         |SELECT doc_id, source, reason, keep, split,
         | CASE WHEN split = 'train' THEN CAST((cum - nti) // 4096 AS INT) ELSE NULL END AS shard_idx
         |FROM w ORDER BY doc_id""".stripMargin,
    // Greedy token packing: shard = exclusive prefix sum of token
    // counts over (source, doc_id order) div budget — integer window
    // math, exact on both engines.
    // Shard manifest: order-independent membership checksum = XOR
    // fold of per-member splitmix64 (sign cleared) — overflow-free at
    // any shard size, emitted as a string on both engines.
    "shard_manifest" ->
      s"""WITH t AS ($toksCte),
         | c AS (SELECT doc_id, source, CAST(len(toks) AS INT) n_tokens FROM t),
         | w AS (SELECT doc_id, source, n_tokens,
         |   SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS UNBOUNDED PRECEDING) cum FROM c),
         | sh AS (SELECT doc_id, source, n_tokens,
         |   CAST((cum - n_tokens) // 4096 AS INT) AS shard_idx FROM w),
         | h AS (SELECT source, shard_idx, n_tokens,
         |   CAST(${HashSql.mix("CAST(doc_id + 42 AS UBIGINT)")} >> 1 AS BIGINT) AS dh
         |  FROM sh)
         |SELECT source, shard_idx, COUNT(*) AS n_docs,
         | CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         | CAST(bit_xor(dh) AS VARCHAR) AS manifest_hash
         |FROM h GROUP BY source, shard_idx
         |ORDER BY source, shard_idx""".stripMargin,
    "shard_pack" ->
      s"""WITH t AS ($toksCte),
         | c AS (SELECT doc_id, source, CAST(len(toks) AS INT) n_tokens FROM t),
         | w AS (SELECT doc_id, source, n_tokens,
         |   SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS UNBOUNDED PRECEDING) cum FROM c)
         |SELECT doc_id, source, n_tokens,
         | CAST((cum - n_tokens) // 4096 AS INT) AS shard_idx
         |FROM w ORDER BY doc_id""".stripMargin,
    // Concat-and-chunk packing: per-source token stream carved into
    // fixed 2048-token sequences; integer window math, exact on both
    // engines. Zero-token docs land in no sequence (NULL span, 0).
    "pack_sequences" ->
      s"""WITH t AS ($toksCte),
         | c AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) n_tokens FROM t),
         | w AS (SELECT doc_id, source, n_tokens,
         |   CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_start FROM c)
         |SELECT doc_id, source, n_tokens, tok_start,
         | CASE WHEN n_tokens > 0 THEN tok_start // 2048 END AS seq_first,
         | CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 2048 END AS seq_last,
         | CAST(CASE WHEN n_tokens > 0
         |   THEN (tok_start + n_tokens - 1) // 2048 - tok_start // 2048 + 1
         |   ELSE 0 END AS BIGINT) AS n_seqs
         |FROM w ORDER BY doc_id""".stripMargin,
    // Per-source 3-gram document frequency, per-source top-10 with
    // (df desc, gram asc) deterministic ranking.
    "top_ngrams" ->
      s"""WITH t AS ($toksCte),
         | g AS (SELECT source, unnest(list_distinct(CASE WHEN len(toks) >= 3
         |   THEN list_transform(range(0, len(toks) - 2),
         |          i -> array_to_string(toks[i+1 : i+3], ' '))
         |   ELSE CAST([] AS VARCHAR[]) END)) AS ngram FROM t),
         | c AS (SELECT source, ngram, COUNT(*) AS df FROM g GROUP BY 1, 2),
         | r AS (SELECT source, ngram, df, CAST(row_number() OVER (
         |        PARTITION BY source ORDER BY df DESC, ngram) AS INT) AS rank FROM c)
         |SELECT source, ngram, df, rank FROM r WHERE rank <= 10
         |ORDER BY source, rank""".stripMargin,
    "text_vocab" ->
      """WITH t AS (SELECT doc_id, unnest(list_distinct(list_filter(
        |  string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS token
        | FROM documents)
        |SELECT token, COUNT(*) AS doc_freq FROM t GROUP BY token
        |ORDER BY doc_freq DESC, token LIMIT 50""".stripMargin,
    // Winnowing sketch: the exact splitmix64/FNV shingle chain replays
    // via the HUGEINT wrapping helpers; window minima compare UNSIGNED
    // (UBIGINT list_min ≡ Long.compareUnsigned), output converts to
    // signed and sorts — hash VALUES are part of the check.
    "winnow_matches" ->
      s"""WITH t AS ($toksCte),
         | th AS (SELECT doc_id, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | wins AS (SELECT doc_id, list_transform(range(0, len(shs) - 3), p ->
         |            list_min(shs[CAST(p+1 AS INT) : CAST(p+4 AS INT)])) AS mins
         |          FROM shx WHERE len(shs) >= 4),
         | conv AS (SELECT doc_id, unnest(list_distinct(mins)) AS uh FROM wins),
         | sizes AS (SELECT doc_id, COUNT(*) AS sk_size FROM conv GROUP BY doc_id),
         | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |       FROM conv a JOIN conv b ON a.uh = b.uh AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT doc_a, doc_b, shared,
         | ROUND(CAST(shared AS DOUBLE) / least(sa.sk_size, sb.sk_size), 6)
         |   AS containment
         |FROM p JOIN sizes sa ON sa.doc_id = doc_a
         |       JOIN sizes sb ON sb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    "winnow_sketch" ->
      s"""WITH t AS ($toksCte),
         | th AS (SELECT doc_id, list_transform(toks, tok -> ${HashSql.fnvTok}) AS hs FROM t),
         | shx AS (SELECT doc_id, list_transform(range(0, greatest(len(hs)-2, 0)),
         |           p -> ${HashSql.shingle}) AS shs FROM th),
         | wins AS (SELECT doc_id, list_transform(range(0, len(shs) - 3), p ->
         |            list_min(shs[CAST(p+1 AS INT) : CAST(p+4 AS INT)])) AS mins
         |          FROM shx WHERE len(shs) >= 4),
         | conv AS (SELECT doc_id, unnest(list_distinct(mins)) AS uh FROM wins),
         | sgn AS (SELECT doc_id, CAST(CASE WHEN uh >= CAST(9223372036854775808 AS UBIGINT)
         |            THEN CAST(uh AS HUGEINT) - 18446744073709551616
         |            ELSE CAST(uh AS HUGEINT) END AS BIGINT) AS sketch_hash FROM conv),
         | r AS (SELECT doc_id, sketch_hash, CAST(row_number() OVER (
         |        PARTITION BY doc_id ORDER BY sketch_hash) - 1 AS INT) AS sk_idx FROM sgn)
         |SELECT doc_id, sk_idx, sketch_hash FROM r ORDER BY doc_id, sk_idx""".stripMargin,
    "tokenize_ids" ->
      s"""WITH t AS ($toksCte),
         | dtok AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t),
         | vocab AS (SELECT token, CAST(row_number() OVER (
         |             ORDER BY COUNT(*) DESC, token) AS INT) AS token_id
         |           FROM dtok GROUP BY token
         |           ORDER BY COUNT(*) DESC, token LIMIT 20),
         | tok AS (SELECT doc_id,
         |           CAST(unnest(range(0, len(toks))) AS INT) AS pos,
         |           unnest(toks) AS token FROM t)
         |SELECT tok.doc_id, tok.pos, COALESCE(v.token_id, 0) AS token_id
         |FROM tok LEFT JOIN vocab v USING (token)
         |ORDER BY tok.doc_id, tok.pos""".stripMargin,
    "vocab_coverage" ->
      s"""WITH t AS ($toksCte),
         | dtok AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t),
         | vocab AS (SELECT token FROM dtok GROUP BY token
         |           ORDER BY COUNT(*) DESC, token LIMIT 20),
         | tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
         | agg AS (SELECT tok.doc_id, COUNT(*) AS n_tokens,
         |          COUNT(v.token) AS in_vocab
         |         FROM tok LEFT JOIN vocab v USING (token)
         |         GROUP BY tok.doc_id)
         |SELECT d.doc_id,
         | COALESCE(n_tokens, 0) AS n_tokens,
         | COALESCE(n_tokens - in_vocab, 0) AS oov_tokens,
         | ROUND(COALESCE(CAST(n_tokens - in_vocab AS DOUBLE) / n_tokens, 0.0e0), 6)
         |   AS oov_rate
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "keyword_bm25" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
        |  '[^a-z0-9]+'), x -> x <> '') toks FROM documents),
        | f AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) dl,
        |   CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) tf0,
        |   CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) tf1,
        |   CAST(len(list_filter(toks, x -> x = 'stream')) AS DOUBLE) tf2,
        |   CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) tf3 FROM t),
        | st AS (SELECT CAST(COUNT(*) AS DOUBLE) n_docs, CAST(SUM(dl) AS DOUBLE) sum_dl,
        |   CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df0,
        |   CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df1,
        |   CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df2,
        |   CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df3 FROM f),
        | sc AS (SELECT doc_id, ROUND(
        |   ln(1.0e0 + (n_docs - df0 + 0.5e0)/(df0 + 0.5e0)) * (tf0 * (1.2e0 + 1.0e0)) / (tf0 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
        | + ln(1.0e0 + (n_docs - df1 + 0.5e0)/(df1 + 0.5e0)) * (tf1 * (1.2e0 + 1.0e0)) / (tf1 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
        | + ln(1.0e0 + (n_docs - df2 + 0.5e0)/(df2 + 0.5e0)) * (tf2 * (1.2e0 + 1.0e0)) / (tf2 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs)))
        | + ln(1.0e0 + (n_docs - df3 + 0.5e0)/(df3 + 0.5e0)) * (tf3 * (1.2e0 + 1.0e0)) / (tf3 + 1.2e0*(1.0e0 - 0.75e0 + 0.75e0*dl/(sum_dl/n_docs))), 6) AS score
        |  FROM f, st)
        |SELECT doc_id, score FROM sc WHERE score > 0.0e0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // Quantized two-phase search is seed-free, so the oracle replicates
    // it exactly: l2-normalize (zero-norm guard), scale = max|x|/127
    // (zero guard -> 1.0), q_i = floor(x/s + 0.5) (= Java Math.round),
    // phase-1 ascore = (s_a*s_q)*int_dot with (ascore desc, id) ties,
    // then exact cosine re-rank of the 40 survivors.
    // MMR re-rank: the greedy selection replays as a recursive CTE —
    // each step appends the candidate maximizing the lambda blend
    // (raw-double compares, id-asc ties), exactly the driver-side
    // loop. Sims/rels are the same sequential cosine folds.
    "mmr_rerank" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id <> 0),
         | q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
         | cand AS (SELECT e.vec_id AS id, e.v, ${cosSql("e.v", "q.qv")} AS rel
         |          FROM e, q0 q ORDER BY rel DESC, e.vec_id LIMIT 40),
         | sim AS (SELECT a.id ia, b.id ib, ${cosSql("a.v", "b.v")} s
         |         FROM cand a, cand b WHERE a.id <> b.id),
         | seed AS (SELECT id FROM cand ORDER BY rel DESC, id LIMIT 1),
         | rec AS (
         |   WITH RECURSIVE r(step, ids) AS (
         |     SELECT 1, [(SELECT id FROM seed)]
         |     UNION ALL
         |     SELECT step + 1, list_append(ids, (
         |       SELECT c.id FROM cand c WHERE NOT list_contains(r.ids, c.id)
         |       ORDER BY ${0.7}e0 * c.rel - ${1.0 - 0.7}e0 *
         |           (SELECT max(s.s) FROM sim s
         |            WHERE s.ia = c.id AND list_contains(r.ids, s.ib)) DESC,
         |         c.id ASC
         |       LIMIT 1))
         |     FROM r WHERE step < 10)
         |   SELECT ids FROM r WHERE step = 10),
         | sel AS (SELECT unnest(ids) AS id,
         |           CAST(unnest(range(1, len(ids) + 1)) AS INT) AS rank FROM rec)
         |SELECT sel.rank, c.id AS vec_id, ROUND(c.rel, 6) AS rel
         |FROM sel JOIN cand c ON c.id = sel.id ORDER BY sel.rank""".stripMargin,
    // Batch MMR: the single-query recursive greedy, parameterized by
    // query_id — per-query shortlist via a window rank, per-query seed,
    // and the recursion keyed on (query_id, step). Arithmetic literals
    // (lambda, 1-lambda) interpolate through the SAME Scala doubles the
    // engine folds with, so the objective replays bit-for-bit.
    "mmr_rerank_batch" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id >= 3),
         | qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
         |        FROM embeddings WHERE vec_id < 3),
         | scored AS (SELECT q.query_id, e.vec_id AS id, e.v,
         |              ${cosSql("e.v", "q.qv")} AS rel FROM e, qs q),
         | cand AS (SELECT query_id, id, v, rel FROM (
         |            SELECT *, row_number() OVER (PARTITION BY query_id
         |              ORDER BY rel DESC, id) rn FROM scored) WHERE rn <= 40),
         | sim AS (SELECT a.query_id, a.id ia, b.id ib, ${cosSql("a.v", "b.v")} s
         |         FROM cand a JOIN cand b
         |           ON a.query_id = b.query_id AND a.id <> b.id),
         | seed AS (SELECT query_id, id FROM (
         |            SELECT query_id, id, row_number() OVER (PARTITION BY query_id
         |              ORDER BY rel DESC, id) rn FROM cand) WHERE rn = 1),
         | rec AS (
         |   WITH RECURSIVE r(query_id, step, ids) AS (
         |     SELECT query_id, 1, [id] FROM seed
         |     UNION ALL
         |     SELECT r.query_id, step + 1, list_append(ids, (
         |       SELECT c.id FROM cand c
         |       WHERE c.query_id = r.query_id AND NOT list_contains(r.ids, c.id)
         |       ORDER BY ${0.7}e0 * c.rel - ${1.0 - 0.7}e0 *
         |           (SELECT max(s.s) FROM sim s
         |            WHERE s.query_id = r.query_id AND s.ia = c.id
         |              AND list_contains(r.ids, s.ib)) DESC,
         |         c.id ASC
         |       LIMIT 1))
         |     FROM r WHERE step < 10)
         |   SELECT query_id, ids FROM r WHERE step = 10),
         | sel AS (SELECT query_id, unnest(ids) AS id,
         |           CAST(unnest(range(1, len(ids) + 1)) AS INT) AS rank FROM rec)
         |SELECT sel.query_id, sel.rank, c.id AS vec_id, ROUND(c.rel, 6) AS rel
         |FROM sel JOIN cand c ON c.query_id = sel.query_id AND c.id = sel.id
         |ORDER BY sel.query_id, sel.rank""".stripMargin,
    // Binary two-phase search: the Hamming distance over packed sign
    // bits equals the count of dimensions whose signs disagree, so the
    // oracle never packs — it counts sign disagreements directly
    // (identical integer by construction; the packing is the engine's
    // storage optimization, not a semantic).
    "knn_binary" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id <> 0),
         | q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
         | p1 AS (SELECT e.vec_id, e.v, q.qv,
         |          len(list_filter(range(1, len(e.v) + 1),
         |            i -> (e.v[CAST(i AS INT)] > 0e0) <> (q.qv[CAST(i AS INT)] > 0e0)))
         |            AS hdist
         |        FROM e, q0 q ORDER BY hdist ASC, e.vec_id LIMIT 80)
         |SELECT vec_id, ROUND(${cosSql("v", "qv")}, 6) AS score
         |FROM p1 ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "knn_binary_batch" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id >= 3),
         | q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
         |        FROM embeddings WHERE vec_id < 3),
         | p1 AS (SELECT q.query_id, e.vec_id, e.v, q.qv,
         |          len(list_filter(range(1, len(e.v) + 1),
         |            i -> (e.v[CAST(i AS INT)] > 0e0) <> (q.qv[CAST(i AS INT)] > 0e0)))
         |            AS hdist
         |        FROM e, q0 q),
         | pr AS (SELECT *, row_number() OVER (
         |          PARTITION BY query_id ORDER BY hdist ASC, vec_id) AS arn FROM p1),
         | p2 AS (SELECT query_id, vec_id, ROUND(${cosSql("v", "qv")}, 6) AS score
         |        FROM pr WHERE arn <= 80),
         | r AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM p2)
         |SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 10""".stripMargin,
    // Binary recall sweep: one deepest-factor Hamming ranking fans to
    // every factor window (the single-scan shape of the IVF sweeps);
    // the exact side ranks on rounded score, matching knnBatch.
    "binary_recall_sweep" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id >= 5),
         | q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
         |        FROM embeddings WHERE vec_id < 5),
         | fac AS (SELECT unnest([2, 4, 8]) AS factor),
         | p1 AS (SELECT q.query_id, e.vec_id, e.v, q.qv,
         |          len(list_filter(range(1, len(e.v) + 1),
         |            i -> (e.v[CAST(i AS INT)] > 0e0) <> (q.qv[CAST(i AS INT)] > 0e0)))
         |            AS hdist
         |        FROM e, q0 q),
         | pr AS (SELECT *, row_number() OVER (
         |          PARTITION BY query_id ORDER BY hdist ASC, vec_id) AS rn FROM p1),
         | cand AS (SELECT query_id, vec_id, rn, ROUND(${cosSql("v", "qv")}, 6) AS score
         |          FROM pr WHERE rn <= 80),
         | ax AS (SELECT query_id, factor, vec_id FROM (
         |    SELECT c.query_id, f.factor, c.vec_id, row_number() OVER (
         |      PARTITION BY c.query_id, f.factor
         |      ORDER BY c.score DESC, c.vec_id) AS rnk
         |    FROM cand c JOIN fac f ON c.rn <= f.factor * 10) WHERE rnk <= 10),
         | ex AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id, row_number() OVER (
         |      PARTITION BY q.query_id
         |      ORDER BY ROUND(${cosSql("e.v", "q.qv")}, 6) DESC, e.vec_id) AS rnk
         |    FROM e, q0 q) WHERE rnk <= 10),
         | hits AS (SELECT ax.query_id, ax.factor, COUNT(*) AS nh
         |          FROM ax JOIN ex ON ax.query_id = ex.query_id AND ax.vec_id = ex.vec_id
         |          GROUP BY 1, 2)
         |SELECT q0.query_id, fac.factor,
         |  ROUND(COALESCE(nh, 0) / 10.0, 6) AS recall
         |FROM q0 CROSS JOIN fac
         |  LEFT JOIN hits ON hits.query_id = q0.query_id AND hits.factor = fac.factor
         |ORDER BY q0.query_id, fac.factor""".stripMargin,
    "binary_index_info" ->
      """WITH u AS (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
        |            CAST(unnest(range(0, len(embedding))) AS INT) AS dim
        |           FROM embeddings)
        |SELECT dim, COUNT(*) AS n_vectors,
        | floor(CAST(COUNT(CASE WHEN x > 0e0 THEN 1 END) AS DOUBLE) / COUNT(*)
        |   * 1.0e6 + 0.5e0) / 1.0e6 AS positive_frac
        |FROM u GROUP BY dim ORDER BY dim""".stripMargin,
    "knn_quantized" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id <> 0),
         | q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
         | en AS (SELECT vec_id, v, CASE WHEN sqrt(list_dot_product(v, v)) > 0
         |          THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
         |          ELSE v END AS nv FROM e),
         | qn AS (SELECT qv, CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
         |          THEN list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv)))
         |          ELSE qv END AS nqv FROM q0),
         | es AS (SELECT vec_id, v, nv, CASE WHEN list_max(list_transform(nv, y -> abs(y))) > 0
         |          THEN list_max(list_transform(nv, y -> abs(y))) / 127.0e0
         |          ELSE 1.0e0 END AS s FROM en),
         | eq AS (SELECT vec_id, v, s, list_transform(nv, x -> floor(x / s + 0.5e0)) AS qc FROM es),
         | qs AS (SELECT qv, nqv, CASE WHEN list_max(list_transform(nqv, y -> abs(y))) > 0
         |          THEN list_max(list_transform(nqv, y -> abs(y))) / 127.0e0
         |          ELSE 1.0e0 END AS s FROM qn),
         | qq AS (SELECT qv, s, list_transform(nqv, x -> floor(x / s + 0.5e0)) AS qc FROM qs),
         | p1 AS (SELECT e.vec_id, e.v, q.qv,
         |          e.s * q.s * list_dot_product(e.qc, q.qc) AS ascore
         |        FROM eq e, qq q ORDER BY ascore DESC, e.vec_id LIMIT 40)
         |SELECT vec_id, ROUND(${cosSql("v", "qv")}, 6) AS score
         |FROM p1 ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    // Batch two-phase quantized search: per-query rank window over the
    // int8 approximate scores picks 40 candidates, exact cosine
    // re-ranks to 10 — same arithmetic chain as knn_quantized.
    "knn_quantized_batch" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id >= 3),
         | q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
         |        FROM embeddings WHERE vec_id < 3),
         | en AS (SELECT vec_id, v, CASE WHEN sqrt(list_dot_product(v, v)) > 0
         |          THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
         |          ELSE v END AS nv FROM e),
         | qn AS (SELECT query_id, qv, CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
         |          THEN list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv)))
         |          ELSE qv END AS nqv FROM q0),
         | es AS (SELECT vec_id, v, nv, CASE WHEN list_max(list_transform(nv, y -> abs(y))) > 0
         |          THEN list_max(list_transform(nv, y -> abs(y))) / 127.0e0
         |          ELSE 1.0e0 END AS s FROM en),
         | eq AS (SELECT vec_id, v, s, list_transform(nv, x -> floor(x / s + 0.5e0)) AS qc FROM es),
         | qs AS (SELECT query_id, qv, nqv, CASE WHEN list_max(list_transform(nqv, y -> abs(y))) > 0
         |          THEN list_max(list_transform(nqv, y -> abs(y))) / 127.0e0
         |          ELSE 1.0e0 END AS s FROM qn),
         | qq AS (SELECT query_id, qv, s, list_transform(nqv, x -> floor(x / s + 0.5e0)) AS qc FROM qs),
         | p1 AS (SELECT q.query_id, e.vec_id, e.v, q.qv,
         |          e.s * q.s * list_dot_product(e.qc, q.qc) AS ascore
         |        FROM eq e, qq q),
         | pr AS (SELECT *, row_number() OVER (
         |          PARTITION BY query_id ORDER BY ascore DESC, vec_id) AS arn FROM p1),
         | p2 AS (SELECT query_id, vec_id, ROUND(${cosSql("v", "qv")}, 6) AS score
         |        FROM pr WHERE arn <= 40),
         | r AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM p2)
         |SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // The grid index is seed-free too: per-dim float min/max bounds,
    // cell = clamp(floor((x-lo)/max(hi-lo,1e-12)*4)), probe = all cells
    // within +/-1 of the query cell per dim, exact 1/(1+L2) re-rank.
    "grid_knn" -> {
      def cell(src: String, d: Int): String =
        s"CAST(least(greatest(floor((CAST($src[${d + 1}] AS DOUBLE) - lo$d) / rg$d * 4), 0), 3) AS INT)"
      s"""WITH e AS (SELECT vec_id, embedding ef, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id <> 0),
         | q0 AS (SELECT embedding qef, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
         | b AS (SELECT ${(0 until 4).map(d =>
                  s"CAST(MIN(ef[${d + 1}]) AS DOUBLE) lo$d, " +
                  s"greatest(CAST(MAX(ef[${d + 1}]) AS DOUBLE) - CAST(MIN(ef[${d + 1}]) AS DOUBLE), 1.0e-12) rg$d")
                  .mkString(", ")} FROM e),
         | qc AS (SELECT ${(0 until 4).map(d => s"${cell("qef", d)} AS qc$d").mkString(", ")}, qv
         |        FROM q0, b),
         | c AS (SELECT vec_id, v, ${(0 until 4).map(d => s"${cell("ef", d)} AS c$d").mkString(", ")}
         |       FROM e, b)
         |SELECT vec_id, ROUND(1.0/(1.0 + list_distance(v, qv)), 6) AS score
         |FROM c, qc
         |WHERE ${(0 until 4).map(d => s"abs(c$d - qc$d) <= 1").mkString(" AND ")}
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    // Expanding-radius grid probe: the radius-r box is the cells at
    // Chebyshev distance <= r from the query cell; the chosen radius
    // is the smallest with >= 2k candidates (else maxRadius=3),
    // replicated as a cumulative-count pick over the cheb histogram.
    "grid_knn_expanding" -> gridExpandingOracleSql,
    // The indexed probe serves the SAME semantics from the persisted
    // fitted grid (bounds frozen at build over this same corpus, radius
    // from per-cell occupancy == the cheb histogram): results are
    // identical by construction, so it shares the oracle.
    "grid_knn_indexed" -> gridExpandingOracleSql,
    // Batch grid probe: same bounds/cell arithmetic, one rank window
    // per query over the +/-1-cell candidates.
    "grid_knn_batch" -> {
      def cell(src: String, d: Int): String =
        s"CAST(least(greatest(floor((CAST($src[${d + 1}] AS DOUBLE) - lo$d) / rg$d * 4), 0), 3) AS INT)"
      s"""WITH e AS (SELECT vec_id, embedding ef, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id >= 3),
         | q0 AS (SELECT vec_id AS query_id, embedding qef, CAST(embedding AS DOUBLE[]) qv
         |        FROM embeddings WHERE vec_id < 3),
         | b AS (SELECT ${(0 until 4).map(d =>
                  s"CAST(MIN(ef[${d + 1}]) AS DOUBLE) lo$d, " +
                  s"greatest(CAST(MAX(ef[${d + 1}]) AS DOUBLE) - CAST(MIN(ef[${d + 1}]) AS DOUBLE), 1.0e-12) rg$d")
                  .mkString(", ")} FROM e),
         | qc AS (SELECT query_id, ${(0 until 4).map(d => s"${cell("qef", d)} AS qc$d").mkString(", ")}, qv
         |        FROM q0, b),
         | c AS (SELECT vec_id, v, ${(0 until 4).map(d => s"${cell("ef", d)} AS c$d").mkString(", ")}
         |       FROM e, b),
         | sc AS (SELECT query_id, vec_id, ROUND(1.0/(1.0 + list_distance(v, qv)), 6) AS score
         |        FROM c, qc
         |        WHERE ${(0 until 4).map(d => s"abs(c$d - qc$d) <= 1").mkString(" AND ")}),
         | r AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM sc)
         |SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    // Batch expanding-radius grid probe: per-query cheb histogram via
    // a cross join with the radius candidates, per-query smallest
    // radius with >= 2k candidates, then the per-query rank window.
    "grid_knn_expanding_batch" -> {
      def cell(src: String, d: Int): String =
        s"CAST(least(greatest(floor((CAST($src[${d + 1}] AS DOUBLE) - lo$d) / rg$d * 4), 0), 3) AS INT)"
      s"""WITH e AS (SELECT vec_id, embedding ef, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings WHERE vec_id >= 3),
         | q0 AS (SELECT vec_id AS query_id, embedding qef, CAST(embedding AS DOUBLE[]) qv
         |        FROM embeddings WHERE vec_id < 3),
         | b AS (SELECT ${(0 until 4).map(d =>
                  s"CAST(MIN(ef[${d + 1}]) AS DOUBLE) lo$d, " +
                  s"greatest(CAST(MAX(ef[${d + 1}]) AS DOUBLE) - CAST(MIN(ef[${d + 1}]) AS DOUBLE), 1.0e-12) rg$d")
                  .mkString(", ")} FROM e),
         | qc AS (SELECT query_id, ${(0 until 4).map(d => s"${cell("qef", d)} AS qc$d").mkString(", ")}, qv
         |        FROM q0, b),
         | ch AS (SELECT query_id, vec_id, v, qv, greatest(${(0 until 4).map(d =>
                    s"abs(${cell("ef", d)} - qc$d)").mkString(", ")}) AS cheb
         |        FROM e, b, qc),
         | rads AS (SELECT unnest([0, 1, 2, 3]) AS rr),
         | cnt AS (SELECT query_id, rr, COUNT(*) FILTER (WHERE cheb <= rr) AS c
         |         FROM ch, rads GROUP BY query_id, rr),
         | pick AS (SELECT query_id, COALESCE(MIN(rr) FILTER (WHERE c >= 20), 3) AS radius
         |          FROM cnt GROUP BY query_id),
         | sc AS (SELECT ch.query_id, vec_id, ROUND(1.0/(1.0 + list_distance(v, qv)), 6) AS score
         |        FROM ch JOIN pick USING (query_id) WHERE cheb <= radius),
         | r AS (SELECT query_id, vec_id, score, CAST(row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM sc)
         |SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    "knn_filtered" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ROUND(${cosSql(embD, "q.qv")}, 6) AS score
         |FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label = 3
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "vector_range_search" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
         | sc AS (SELECT e.vec_id, ROUND(${cosSql(embD, "q.qv")}, 6) AS score
         |        FROM embeddings e, q WHERE e.vec_id <> 0)
         |SELECT vec_id, score FROM sc WHERE score >= 0.2
         |ORDER BY score DESC, vec_id""".stripMargin,
    "events_window_agg" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) ts, event_type, value, user_id FROM events)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        | COUNT(*) AS n_events,
        | ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts, value FROM events),
        | g AS (SELECT *, CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |   THEN 1 ELSE 0 END is_new FROM e),
        | s AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) session_seq FROM g)
        |SELECT user_id, session_seq, MIN(ts) AS session_start, MAX(ts) AS session_end,
        | COUNT(*) AS n_events,
        | ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4) AS sum_value
        |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    "text_bigram_surprise" ->
      s"""WITH t AS ($toksCte),
         | u AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i ->
         |         concat(toks[CAST(i AS INT)], ' ', toks[CAST(i AS INT) + 1]))) AS bg FROM t),
         | dc AS (SELECT doc_id, bg, COUNT(*) c FROM u GROUP BY doc_id, bg),
         | cb AS (SELECT bg, SUM(c) cb FROM dc GROUP BY bg),
         | cp AS (SELECT string_split(bg, ' ')[1] AS pfx, SUM(cb) cp FROM cb GROUP BY pfx),
         | p AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) m,
         |        SUM(CAST(c AS DOUBLE) * (ln(CAST(cp AS DOUBLE)) - ln(CAST(cb.cb AS DOUBLE)))) s
         |       FROM dc JOIN cb USING (bg) JOIN cp ON string_split(bg, ' ')[1] = cp.pfx
         |       GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(m, 0) AS n_bigrams,
         | COALESCE(floor(s / m * 1.0e6 + 0.5e0) / 1.0e6, 0.0e0) AS surprise
         |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_surprise" ->
      s"""WITH t AS ($toksCte),
         | u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         | dc AS (SELECT doc_id, tok, COUNT(*) c FROM u GROUP BY doc_id, tok),
         | cw AS (SELECT tok, SUM(c) cw FROM dc GROUP BY tok),
         | tt AS (SELECT SUM(cw) t FROM cw),
         | p AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) n,
         |        SUM(CAST(c AS DOUBLE) * ln(CAST(cw AS DOUBLE))) slc
         |       FROM dc JOIN cw USING (tok) GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(n, 0) AS n_tokens,
         | COALESCE(floor((ln(CAST(tt.t AS DOUBLE)) - slc / n) * 1.0e6 + 0.5e0) / 1.0e6,
         |   0.0e0) AS surprise
         |FROM documents d CROSS JOIN tt LEFT JOIN p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_entropy" ->
      s"""WITH t AS ($toksCte),
         | u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         | c AS (SELECT doc_id, tok, COUNT(*) c FROM u GROUP BY doc_id, tok),
         | p AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) n, COUNT(*) n_distinct,
         |        SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) clogc
         |       FROM c GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(n, 0) AS n_tokens,
         | COALESCE(n_distinct, 0) AS n_distinct,
         | COALESCE(floor((ln(CAST(n AS DOUBLE)) - clogc / n) * 1.0e6 + 0.5e0) / 1.0e6,
         |   0.0e0) AS entropy
         |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Daily per-type volume anomalies: integral counts, one exact
    // integer sum divided once — no order-dependent float accumulation.
    "events_anomaly" ->
      """WITH daily AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                COUNT(*) AS n_events
        |               FROM events GROUP BY 1, 2),
        | stats AS (SELECT event_type, SUM(n_events) AS total, COUNT(*) AS n_days
        |           FROM daily GROUP BY 1)
        |SELECT daily.event_type, CAST(daily.day AS VARCHAR) AS day, daily.n_events,
        | ROUND(CAST(total AS DOUBLE) / n_days, 4) AS mean_daily
        |FROM daily JOIN stats ON daily.event_type = stats.event_type
        |WHERE daily.n_events > CAST(total AS DOUBLE) / n_days * 2.0
        |ORDER BY daily.event_type, daily.day""".stripMargin,
    // As-of join spelled as its deterministic window equivalent
    // (DuckDB's native ASOF JOIN leaves equal-timestamp right-side
    // ties unspecified; the carried-forward last right payload with
    // (ts, side, id) ordering pins them to the highest event_id in
    // both engines).
    "events_asof" ->
      """WITH u AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_l,
        |    CASE WHEN event_type = 'view' THEN
        |      struct_pack(rts := CAST(ts AS TIMESTAMP), rid := event_id) END AS r
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        | w AS (SELECT *, last_value(r IGNORE NULLS) OVER (
        |        PARTITION BY user_id ORDER BY ts, is_l, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m FROM u)
        |SELECT event_id, user_id, ts, m.rid AS matched_id, m.rts AS matched_ts,
        | epoch_us(ts) - epoch_us(m.rts) AS lag_us
        |FROM w WHERE is_l = 1 ORDER BY event_id""".stripMargin,
    // Pairwise band join on integer microseconds — inclusive on both
    // edges, identical banding in both engines.
    "events_range_join" ->
      """WITH l AS (SELECT event_id AS l_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS l_us, CAST(ts AS TIMESTAMP) AS l_ts
        |  FROM events WHERE event_type = 'purchase'),
        | r AS (SELECT event_id AS r_id, user_id AS r_user,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS r_us
        |  FROM events WHERE event_type = 'view')
        |SELECT l_id, r_id, user_id, l_ts, l_us - r_us AS lag_us
        |FROM l JOIN r ON user_id = r_user
        |  AND r_us <= l_us AND r_us >= l_us - 3600000000
        |ORDER BY l_id, r_id""".stripMargin,
    // Trailing 7-day RANGE frame over the integer day ordinal; value
    // sums roll up in decimal and cast to double once.
    "events_rolling" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    COUNT(*) AS n_events,
        |    SUM(CAST(value AS DECIMAL(28,6))) AS day_value
        |  FROM events GROUP BY 1, 2),
        | o AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS d FROM daily)
        |SELECT event_type, CAST(day AS VARCHAR) AS day, n_events,
        | CAST(SUM(n_events) OVER w AS BIGINT) AS roll_events,
        | CAST(COUNT(*) OVER w AS BIGINT) AS roll_days,
        | ROUND(CAST(SUM(day_value) OVER w AS DOUBLE), 4) AS roll_value
        |FROM o
        |WINDOW w AS (PARTITION BY event_type ORDER BY d
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "events_percentiles" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | ROUND(MIN(value), 6) AS min_value, ROUND(MAX(value), 6) AS max_value,
        | floor(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
        |   * 1.0e6 + 0.5e0) / 1.0e6 AS mean_value,
        | floor(quantile_cont(value, 0.5e0) * 1.0e6 + 0.5e0) / 1.0e6 AS p50_value,
        | floor(quantile_cont(value, 0.9e0) * 1.0e6 + 0.5e0) / 1.0e6 AS p90_value,
        | floor(quantile_cont(value, 0.99e0) * 1.0e6 + 0.5e0) / 1.0e6 AS p99_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) aday
        |           FROM events),
        | c AS (SELECT user_id, MIN(aday) cohort_day FROM e GROUP BY user_id),
        | j AS (SELECT cohort_day, CAST(date_diff('day', cohort_day, aday) AS INT) AS day_offset
        |       FROM e JOIN c USING (user_id))
        |SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, day_offset, COUNT(*) AS n_users
        |FROM j WHERE day_offset <= 14 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Ordered funnel: the same window chain — c(i) = event reaches
    // stage i strictly after the running minimum of stage i-1.
    "events_funnel" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts, event_type FROM events),
        | f AS (SELECT *,
        |   CASE WHEN event_type = 'view' THEN ts END c0 FROM e),
        | f0 AS (SELECT *, MIN(c0) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) r0 FROM f),
        | f1 AS (SELECT *, CASE WHEN event_type = 'click' AND r0 < ts THEN ts END c1 FROM f0),
        | f1r AS (SELECT *, MIN(c1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) r1 FROM f1),
        | f2 AS (SELECT *, CASE WHEN event_type = 'purchase' AND r1 < ts THEN ts END c2 FROM f1r)
        |SELECT user_id, MIN(c0) AS t_view, MIN(c1) AS t_click, MIN(c2) AS t_purchase,
        | CAST((CASE WHEN MIN(c0) IS NOT NULL THEN 1 ELSE 0 END)
        |  + (CASE WHEN MIN(c1) IS NOT NULL THEN 1 ELSE 0 END)
        |  + (CASE WHEN MIN(c2) IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS stage
        |FROM f2 GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
