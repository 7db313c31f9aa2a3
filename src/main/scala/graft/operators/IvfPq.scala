package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * IVF-PQ — the composed index (Jegou/Douze/Schmid TPAMI 2011 §V): a
 * coarse quantizer partitions the corpus into Voronoi cells and a
 * product quantizer encodes each row's RESIDUAL (vector minus its
 * cell centroid) into m bytes. A probe prunes to the nProbe nearest
 * cells, ranks their rows from the codes alone (ADC against a
 * per-cell lookup table — residuals make the table cell-relative),
 * and exactly re-ranks only the shortlist.
 *
 * This is the 100 TB serving shape both parents converge to:
 *  - partition pruning from IVF — a probe opens nProbe of nCentroids
 *    cluster directories, never the rest;
 *  - column pruning from PQ — phase 1 reads only (id, pq_codes), ~m
 *    bytes/row; the float vectors ride in the SAME parquet rows but
 *    their column pages are untouched until the rerankFactor*k
 *    survivors fetch them (one columnar table, two access paths).
 * Both prunings are planning-time; I/O scales with the probed cells'
 * code bytes, not the corpus.
 *
 * Replayability (the oracle contract of SURVEY §5): coarse assignment
 * is [[IvfIndex.assignExact]]'s sequential-fold argmin, residuals are
 * a zip_with subtraction, codes/LUT/ADC are [[PqIndex]]'s fold
 * arithmetic — every step is a left fold over literals that DuckDB
 * replays bit-identically (centroids + codebooks inline as SQL
 * literals, SparkEntry.ivfpqOracleSql).
 *
 * Reference scope note: the reference service keeps whole-vector
 * flat/LSH/grid indexes only (algorithms.py); IVF-PQ is this
 * library's scale extension, composed from its IVF and PQ rungs.
 */
object IvfPq {

  /** A fitted IVF-PQ index: coarse centroids, residual codebooks, and
    * the encoded corpus (id, vec, cluster, pq_codes). */
  case class Index(centers: Seq[(Int, Array[Double])],
                   books: PqIndex.Codebooks,
                   encoded: DataFrame)

  /** residual = v - centroid(cluster), elementwise in double — the
    * same two-step (cast, then subtract) the oracle replays. */
  private def withResidual(assigned: DataFrame, vecCol: String,
                           centers: Seq[(Int, Array[Double])]): DataFrame =
    assigned.join(broadcast(IvfIndex.centroidFrame(assigned.sparkSession, centers)), "cluster")
      .withColumn("residual",
        zip_with(col(vecCol).cast("array<double>"), col("centroid"), (x, y) => x - y))
      .drop("centroid")

  /**
   * Fit: coarse k-means for the cell geometry (centroid VALUES only —
   * rows assign via the replayable exact argmin), then m per-subspace
   * codebooks trained on the residuals. Returns the index with codes
   * attached; persist/write it once, probe many.
   */
  def train(emb: DataFrame, vecCol: String, nCentroids: Int = 16,
            m: Int = 8, kk: Int = 16, seed: Long = 42L,
            maxIter: Int = 5): Index = {
    val (model, _) = IvfIndex.build(emb, vecCol, nCentroids, seed, maxIter)
    trainFrom(model, emb, vecCol, m, kk, seed, maxIter)
  }

  /** The codebook-fit half of [[train]] against an ALREADY-FITTED
    * coarse model — lets a caller reuse one coarse fit across the
    * books fit and a [[encodeFast]] bulk encode. */
  def trainFrom(model: org.apache.spark.ml.clustering.KMeansModel,
                emb: DataFrame, vecCol: String,
                m: Int = 8, kk: Int = 16, seed: Long = 42L,
                maxIter: Int = 5): Index = {
    val centers = IvfIndex.centersOf(model)
    val assigned = IvfIndex.assignExact(emb, vecCol, centers)
    val withRes = withResidual(assigned, vecCol, centers)
    // The m subspace fits are EAGER and each scans its input: pin the
    // residual projection for their duration, or the assign+residual
    // lineage (an nCentroids x dim fold per row) re-executes m times.
    // The cache drops before return; the lazy encode path runs the
    // lineage once, when the caller materializes the codes.
    val fitBase = withRes.select(col("residual")).persist()
    val books =
      try PqIndex.train(fitBase, "residual", m, kk, seed, maxIter)
      finally fitBase.unpersist()
    Index(centers, books,
      PqIndex.encodeExact(withRes, "residual", books).drop("residual"))
  }

  /** The query-vector column under the index's geometry: `normalized`
    * = the index was built over L2-normalized vectors (the library
    * layout, where residual-ADC squared-L2 tracks cosine) — the query
    * then normalizes through the SAME float-narrowing kernel before
    * the probe and the residual; the exact phase-2 re-rank always
    * runs on the raw vectors with the caller's metric. */
  private def qvecCol(normalized: Boolean, qvec: Column = col("qvec")): Column =
    if (normalized) graft.GraftFunctions.l2Normalize(qvec) else qvec

  /**
   * Two-phase probe: prune to the nProbe nearest cells, ADC-rank their
   * rows against the cell's lookup table, exactly re-rank the
   * rerankFactor*k shortlist on the float vectors.
   *
   * `qv` is the query vector. Its probe cells and its per-cell lookup
   * tables (the query's residual against cell c feeds the same LUT
   * build the flat PQ probe uses) are evaluated on the driver without
   * a job ([[VectorSearch.evalLocal]]); each row picks its cell's table
   * from a literal map.
   */
  def search(idx: Index, qv: Array[Float], idCol: String, vecCol: String,
             k: Int, nProbe: Int = 4, metric: String = "euclidean",
             rerankFactor: Int = 5, normalized: Boolean = false): DataFrame = {
    val spark = idx.encoded.sparkSession
    val qd = qvecCol(normalized, typedLit(qv)).cast("array<double>")
    val probe = IvfIndex.nearestClusters(idx.centers,
      VectorSearch.evalLocal(spark, qd).getSeq[Double](0).toArray, nProbe)
    val cents = idx.centers.filter(c => probe.contains(c._1))
    val tables = VectorSearch.evalLocal(spark, cents.map { case (_, c) =>
      PqIndex.lutCol(idx.books, zip_with(qd, typedLit(c.toSeq), (x, y) => x - y))
    }: _*)
    val luts = typedLit(cents.indices.map(i =>
      cents(i)._1 -> tables.getSeq[Seq[Double]](i)).toMap)
    // Both phases read ONLY the probed cells (partition pruning); the
    // size rule of VectorSearch.twoPhaseTopK picks one job, or two with
    // the shortlist pushed into the float re-read as an id In-filter
    // (row-group point reads on the id-sorted cell files).
    VectorSearch.twoPhaseTopK(idx.encoded.filter(col("cluster").isin(probe.map(Int.box): _*)),
      PqIndex.adcCol(idx.books.size, element_at(luts, col("cluster"))), ascending = true,
      k * rerankFactor, qv, idCol, vecCol, k, metric)
  }

  /**
   * Batch twin: every query resolves its probe cells driver-side; ONE
   * codes-only pass over the union of probed cells ranks rows for all
   * queries at once (the broadcast carries (query_id, cluster, lut)
   * rows — a row is scored only for the queries that probed its
   * cell), bounded per-query heaps shortlist, one float join re-ranks.
   */
  def searchBatch(idx: Index, queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, nProbe: Int = 4, metric: String = "euclidean",
                  rerankFactor: Int = 5, normalized: Boolean = false): DataFrame = {
    val spark = idx.encoded.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("query_id"),
      qvecCol(normalized).cast("array<double>").as("qvec")).collect()
    require(qRows.nonEmpty, "searchBatch needs at least one query")
    val pairs = qRows.flatMap { r =>
      val qv = r.getSeq[Double](1).toArray
      IvfIndex.nearestClusters(idx.centers, qv, nProbe).map(c => (r.getLong(0), c))
    }.toSeq
    val union = pairs.map(_._2).distinct
    val luts = pairs.toDF("query_id", "cluster")
      .join(IvfIndex.centroidFrame(spark, idx.centers), "cluster")
      .join(queries.select(col("query_id"), qvecCol(normalized).as("qvec")), "query_id")
      .withColumn("__qres",
        zip_with(col("qvec").cast("array<double>"), col("centroid"), (x, y) => x - y))
      .select(col("query_id"), col("cluster"),
        PqIndex.lutCol(idx.books, col("__qres")).as("__lut"))
    val phase1 = idx.encoded
      .filter(col("cluster").isin(union.map(Int.box): _*))
      .select(col(idCol), col("cluster"), col("pq_codes"))
      .join(broadcast(luts), "cluster")
      // negate: the bounded top-k finisher ranks score DESC
      .select(col("query_id"), col(idCol),
        (-PqIndex.adcCol(idx.books.size)).as("score"))
    // Phase 2: probed-cells partition pruning + the bounded candidate
    // union pushed in as an In-filter (row-group point reads on the
    // id-sorted cell files); the broadcast pair join only attributes
    // survivors to queries. Pinned — the pair frame feeds both the
    // collect and the join.
    val cand = graft.GraftFunctions.pin(
      VectorSearch.finishPerQueryTopK(phase1, idCol, k * rerankFactor,
          ordered = false)
        .select(col("query_id"), col(idCol)))
    val ids = cand.select(col(idCol)).distinct().collect().map(_.get(0))
    if (ids.isEmpty)
      return idx.encoded.limit(0)
        .crossJoin(broadcast(queries.select(col("query_id"), col("qvec"))))
        .select(col("query_id"), col(idCol), lit(0.0).as("score"),
          lit(0).as("rank"))
    val scored = idx.encoded
      .filter(col("cluster").isin(union.map(Int.box): _*) &&
        col(idCol).isin(ids: _*))
      .join(broadcast(cand), idCol)
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), "query_id")
      .select(col("query_id"), col(idCol),
        round(VectorSearch.similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    VectorSearch.finishPerQueryTopK(scored, idCol, k)
  }

  /**
   * Recall sweep over probe depths — [[IvfIndex.recallSweep]]'s twin
   * for the composed index, measuring BOTH approximation sources at
   * once (cell pruning AND the codes-only ADC shortlist) against the
   * exact scan. Same single-deep-scan shape: one codes pass over the
   * DEEPEST depth's cells computes every candidate's ADC once (the
   * per-cell LUT doesn't depend on depth); each candidate fans out to
   * the depths its cell is visible at, per-(query, depth) ADC
   * shortlists and exact re-ranks run through the bounded-heap
   * aggregate on a composite key, and ONE exact corpus pass anchors
   * the comparison.
   */
  def recallSweep(idx: Index, queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, nProbes: Seq[Int] = Seq(1, 2, 4),
                  metric: String = "euclidean", rerankFactor: Int = 5,
                  normalized: Boolean = false): DataFrame = {
    val spark = idx.encoded.sparkSession
    import spark.implicits._
    val sweep = nProbes.distinct.sorted
    require(sweep.nonEmpty && sweep.head >= 1 && sweep.last < 1000,
      "probe depths must be in [1, 999]")
    val qRows = queries.select(col("query_id"),
      qvecCol(normalized).cast("array<double>").as("qvec")).collect()
    require(qRows.nonEmpty, "recallSweep needs at least one query")
    val pairs = qRows.flatMap { r =>
      val qv = r.getSeq[Double](1).toArray
      IvfIndex.nearestClusters(idx.centers, qv, sweep.last).zipWithIndex
        .map { case (c, rk) => (r.getLong(0), c, rk + 1) }
    }.toSeq
    val union = pairs.map(_._2).distinct
    val luts = pairs.toDF("query_id", "cluster", "probe_rank")
      .join(IvfIndex.centroidFrame(spark, idx.centers), "cluster")
      .join(queries.select(col("query_id"), qvecCol(normalized).as("qvec")), "query_id")
      .withColumn("__qres",
        zip_with(col("qvec").cast("array<double>"), col("centroid"), (x, y) => x - y))
      .select(col("query_id"), col("cluster"), col("probe_rank"),
        PqIndex.lutCol(idx.books, col("__qres")).as("__lut"))
    val phase1 = idx.encoded
      .filter(col("cluster").isin(union.map(Int.box): _*))
      .select(col(idCol), col("cluster"), col("pq_codes"))
      .join(broadcast(luts), "cluster")
      .select(col("query_id"), col("probe_rank"), col(idCol),
        (-PqIndex.adcCol(idx.books.size)).as("score"))
    val atDepth = phase1.select(col("query_id").as("qid"),
        explode(filter(typedLit(sweep.map(_.toLong)),
          np => np >= col("probe_rank"))).as("np"),
        col(idCol), col("score"))
      .select((col("qid") * 1000 + col("np")).as("query_id"),
        col(idCol), col("score"))
    val cand = VectorSearch.finishPerQueryTopK(atDepth, idCol, k * rerankFactor,
        ordered = false)
      .select(col("query_id"), col(idCol))
    val rescored = idx.encoded.select(col(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
      .withColumn("qid", expr("query_id DIV 1000"))
      .join(broadcast(queries.select(col("query_id").as("qid"), col("qvec"))), "qid")
      .select(col("query_id"), col(idCol),
        round(VectorSearch.similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    val approx = VectorSearch.finishPerQueryTopK(rescored, idCol, k, ordered = false)
      .select(expr("query_id DIV 1000").as("query_id"),
        pmod(col("query_id"), lit(1000L)).cast("int").as("n_probe"), col(idCol))
    val exact = VectorSearch
      .knnBatch(idx.encoded.select(col(idCol), col(vecCol)),
        queries, idCol, vecCol, k, metric)
      .select(col("query_id"), col(idCol))
    val hits = approx.join(exact, Seq("query_id", idCol))
      .groupBy(col("query_id"), col("n_probe")).agg(count(lit(1)).as("nhits"))
    queries.select(col("query_id")).crossJoin(sweep.toDF("n_probe"))
      .join(hits, Seq("query_id", "n_probe"), "left")
      .select(col("query_id"), col("n_probe"),
        round(coalesce(col("nhits"), lit(0L)).cast("double") / k, 6).as("recall"))
      .orderBy(col("query_id").asc, col("n_probe").asc)
  }

  /** Same rolling file bound as the other on-disk indexes: a
    * copy-on-write delete rewrites files, not cells. */
  private val maxRecordsPerFile = 16384

  /**
   * Persist in the serving layout: ONE parquet table partitioned by
   * cluster holding (id, vec, pq_codes) — above the small-relation
   * threshold, phase 1 column-prunes to (id, pq_codes) inside the
   * partition-pruned cells and phase 2 reads the float column for
   * survivors only — plus tiny centroid and codebook side tables
   * (driver/metastore-resident at any scale).
   */
  def writeIndex(idx: Index, path: String): Unit = {
    val spark = idx.encoded.sparkSession
    // Sort cells by the id column too (first column by construction):
    // row-group min/max stats then make the phase-2 In-filter fetch a
    // point read instead of a cell scan.
    idx.encoded.repartition(col("cluster"))
      .sortWithinPartitions(col("cluster"), col(idx.encoded.columns.head))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("cluster").parquet(s"$path/encoded")
    IvfIndex.centroidFrame(spark, idx.centers)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    PqIndex.booksFrame(spark, idx.books, BookWord)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
  }

  /** Load the side tables of a written index and probe it — the
    * partition-pruned, column-pruned two-phase scan. */
  def searchIndexed(spark: SparkSession, path: String, qv: Array[Float],
                    idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
                    metric: String = "euclidean", rerankFactor: Int = 5,
                    normalized: Boolean = false): DataFrame =
    search(Index(readCenters(spark, path), readBooks(spark, path),
        spark.read.parquet(s"$path/encoded")),
      qv, idCol, vecCol, k, nProbe, metric, rerankFactor, normalized)

  /** The word column of an IVF-PQ codebook sidecar. */
  val BookWord = "codeword"

  /** The tiny side tables of a written index. */
  def readCenters(spark: SparkSession, path: String): Seq[(Int, Array[Double])] =
    IvfIndex.readCentroids(spark, s"$path/centroids")
  def readBooks(spark: SparkSession, path: String): PqIndex.Codebooks =
    PqIndex.readBooks(spark, s"$path/books", BookWord)

  /** Assign rows to EXISTING centroids and encode under EXISTING
    * codebooks — the frozen-geometry append path of an inverted file
    * (no refit; drift detection is the refit signal). */
  def encodeFrozen(rows: DataFrame, vecCol: String,
                   centers: Seq[(Int, Array[Double])],
                   books: PqIndex.Codebooks): DataFrame =
    PqIndex.encodeExact(
      withResidual(IvfIndex.assignExact(rows, vecCol, centers), vecCol, centers),
      "residual", books).drop("residual")

  /**
   * Bulk-backfill encode: coarse assignment via the FITTED MLlib
   * model (native vector math — at 256 cells roughly 20x the
   * throughput of the interpreted oracle-replayable fold in
   * [[IvfIndex.assignExact]]; measured: the exact fold turned a 16M-row
   * encode into a ~2h stage), then residual + codes under the frozen
   * books exactly as [[encodeFrozen]]. Cells are identical up to
   * centroid-distance ties, so the serving probe and its recall are
   * unchanged. Use when encoding a massive corpus under a frozen
   * geometry (the initial 100 TB ingest); the library's incremental
   * appends keep the exact fold, which is what its oracle-gated
   * queries replay.
   */
  def encodeFast(rows: DataFrame, vecCol: String,
                 model: org.apache.spark.ml.clustering.KMeansModel,
                 books: PqIndex.Codebooks): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val centers = IvfIndex.centersOf(model)
    val assigned = model
      .transform(rows.withColumn("features", array_to_vector(col(vecCol))))
      .withColumnRenamed("prediction", "cluster")
      .drop("features")
    PqIndex.encodeExact(withResidual(assigned, vecCol, centers),
      "residual", books).drop("residual")
  }
}
