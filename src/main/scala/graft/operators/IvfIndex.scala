package graft.operators

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructType}
import graft.GraftFunctions._

/**
 * IVF (inverted-file) vector index: MLlib k-means partitions the
 * corpus into Voronoi cells; a query probes only the `nProbe` nearest
 * cells and re-ranks those candidates exactly.
 *
 * This is the batch-built scale path promised in BASELINE.json
 * ("MLlib for batch index build"): the clustering is a one-off
 * distributed job; the assigned table is a plain column (`cluster`)
 * that partitions/bucket-ables the corpus, so the probe is a
 * partition-pruned scan at 100 TB, not a full pass.
 */
object IvfIndex {

  /** Rolling threshold for cell data files: bounds the unit of a
    * copy-on-write rewrite, so deleting a document from a dense cell
    * rewrites a file, not the cell (same constant class as the LSH
    * index's indexMaxRecordsPerFile). */
  private[graft] val maxRecordsPerFile = 16384

  /** Fit centroids and return the corpus with a `cluster` column. */
  def build(emb: DataFrame, vecCol: String, nCentroids: Int = 16,
            seed: Long = 42L, maxIter: Int = 5): (KMeansModel, DataFrame) = {
    val featured = emb.withColumn("features", array_to_vector(col(vecCol)))
    val model = new KMeans()
      .setK(nCentroids).setSeed(seed).setMaxIter(maxIter)
      .fit(featured)
    val assigned = model.transform(featured)
      .withColumnRenamed("prediction", "cluster")
      .drop("features")
    (model, assigned)
  }

  /** The nProbe cluster ids nearest to `qv` (squared-L2 to centroids,
    * resolved on the driver — the centroid table is tiny by design). */
  private[operators] def nearestClusters(centers: Seq[(Int, Array[Double])],
                                         qv: Array[Double], nProbe: Int): Seq[Int] =
    centers.map { case (i, arr) =>
      var d = 0.0; var j = 0
      while (j < arr.length) { val t = arr(j) - qv(j); d += t * t; j += 1 }
      (i, d)
    }.sortBy(_._2).take(nProbe).map(_._1)

  /** The rows of the nProbe cells nearest to the query vector `qv`. */
  private def probed(assigned: DataFrame, centers: Seq[(Int, Array[Double])],
                     qv: Array[Float], nProbe: Int): DataFrame =
    assigned.filter(col("cluster").isin(
      nearestClusters(centers, qv.map(_.toDouble), nProbe): _*))

  /**
   * Exact-arithmetic assignment to given centroids: argmin of the
   * sequential-fold squared distance with lowest-cluster-id tie-break.
   * Unlike `model.transform` (whose norm-optimized distance internals
   * round differently), this argmin is replayable bit-for-bit by any
   * engine with a left list fold — it is what lets the IVF queries be
   * oracle-gated. Map-side only: one nCentroids x dim loop per row
   * against the broadcast centroid literal, no shuffle.
   */
  def assignExact(rows: DataFrame, vecCol: String,
                  centers: Seq[(Int, Array[Double])]): DataFrame = {
    val centLit = typedLit(centers.map { case (i, c) => (i, c.toSeq) })
    // struct(d, cluster): array_min's struct order (field by field)
    // picks min distance, lowest cluster id on ties.
    val dists = transform(centLit, c => struct(
      aggregate(zip_with(col(vecCol).cast("array<double>"), c.getField("_2"),
        (x, y) => (x - y) * (x - y)), lit(0.0), _ + _).as("d"),
      c.getField("_1").as("cluster")))
    rows.withColumn("cluster", array_min(dists).getField("cluster"))
  }

  /** Centroids of a fitted model as (cluster, values) pairs. */
  def centersOf(model: KMeansModel): Seq[(Int, Array[Double])] =
    model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq

  /** Probe an assigned corpus: the nProbe cells nearest to `qv`,
    * resolved driver-side against the centroids, then an exact
    * re-rank within them. */
  def search(assigned: DataFrame, centers: Seq[(Int, Array[Double])],
             qv: Array[Float], idCol: String, vecCol: String, k: Int,
             nProbe: Int = 4, metric: String = "cosine"): DataFrame =
    VectorSearch.knnFlat(probed(assigned, centers, qv, nProbe), qv, idCol, vecCol, k, metric)

  /**
   * Persist the index in its on-disk serving layout: the assignment
   * written partitionBy(cluster) — one directory per Voronoi cell —
   * and the centroids as a tiny parquet beside it. This is the 100 TB
   * shape: a probe resolves its nProbe cells from the centroid table
   * and scans ONLY those directories (partition pruning at planning
   * time); the non-probed corpus is never opened.
   */
  def writeIndex(assigned: DataFrame, model: KMeansModel, path: String,
                 vecCol: String = "embedding"): Unit = {
    val spark = assigned.sparkSession
    val centers = centersOf(model)
    val idCol = assigned.columns.find(c => c != "cluster" && c != vecCol).get
    // persisted across the TWO actions below (row write + stats
    // baseline aggregate): without it the stats pass re-executes the
    // whole upstream (scan + assignment) a second time per build
    val a = assigned.persist()
    try {
      // Sorting each cell by id + bounding file sizes keeps one
      // document's rows in few files of even a dense cell, so a
      // copy-on-write delete rewrites files, not whole cells.
      a.repartition(col("cluster"))
        .sortWithinPartitions(col("cluster"), col(idCol))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("cluster").parquet(s"$path/assigned")
      centroidFrame(spark, centers).coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids")
      meanSqDist(a, centers, col(vecCol)).coalesce(1).write.mode("overwrite")
        .parquet(s"$path/stats")
    } finally a.unpersist()
  }

  /** Assign rows to the EXISTING centroids and append them to the
    * on-disk index (the standard add path of an inverted file — no
    * refit; `assignmentDrift` tells you when a refit is due). */
  def appendAssign(spark: SparkSession, path: String,
                   rows: DataFrame, idCol: String, vecCol: String): Unit = {
    // assignExact against the collected (tiny) centroid table: same
    // fold arithmetic and lowest-cluster tie-break as the old
    // broadcast-join + min(struct) form, but map-side only (no groupBy
    // shuffle) and it PRESERVES every input column — metadata rides
    // into the assigned rows so filtered searches prune on them.
    val centers = readCentroids(spark, s"$path/centroids")
    assignExact(rows, vecCol, centers)
      .write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("cluster").parquet(s"$path/assigned")
  }

  /** Schema of a centroid sidecar, as every index build writes it. */
  private val centroidSchema = new StructType()
    .add("cluster", IntegerType).add("centroid", ArrayType(DoubleType))

  /** The centroid sidecar's rows: (cluster, centroid). */
  def centroidFrame(spark: SparkSession, centers: Seq[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    centers.map { case (i, c) => (i, c.toSeq) }.toDF("cluster", "centroid")
  }

  /** The centroid sidecar at `dir`, sorted by cluster id (the
    * lowest-cluster tie-break of [[assignExact]] must see one order
    * whatever the parquet row order). Read with its schema given: one
    * job, no schema-inference job. */
  def readCentroids(spark: SparkSession, dir: String): Seq[(Int, Array[Double])] =
    spark.read.schema(centroidSchema).parquet(dir).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
      .sortBy(_._1)

  /** The stats sidecar's one row: (n, mean_sq_dist) of rows' `vec`
    * against their assigned centroid — the assignment quality a drift
    * ratio compares against its build-time value. */
  def meanSqDist(rows: DataFrame, centers: Seq[(Int, Array[Double])],
                 vec: Column): DataFrame =
    rows.join(broadcast(centroidFrame(rows.sparkSession, centers)), "cluster")
      .select(aggregate(
        zip_with(vec.cast("array<double>"), col("centroid"),
          (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _).as("sqd"))
      .agg(count(lit(1)).as("n"), avg(col("sqd")).as("mean_sq_dist"))

  private val statsSchema = new StructType()
    .add("n", LongType).add("mean_sq_dist", DoubleType)

  /**
   * Drift ratio: the current mean squared assignment distance of
   * `rows` (the original build PLUS every frozen-centroid append)
   * over the build-time mean recorded in the stats sidecar at
   * `statsDir`. ~1.0 = healthy; rising means appended data no longer
   * matches the fitted centroids and a re-fit (rebuild) is due.
   */
  def driftRatio(rows: DataFrame, centers: Seq[(Int, Array[Double])], vec: Column,
                 statsDir: String): Double = {
    val base = rows.sparkSession.read.schema(statsSchema).parquet(statsDir)
      .head.getAs[Double]("mean_sq_dist")
    val cur = meanSqDist(rows, centers, vec).head.getAs[Double]("mean_sq_dist")
    if (base > 0.0) cur / base else 1.0
  }

  /** [[driftRatio]] of an index written by [[writeIndex]]. */
  def assignmentDrift(spark: SparkSession, path: String,
                      vecCol: String = "embedding"): Double =
    driftRatio(spark.read.parquet(s"$path/assigned"),
      readCentroids(spark, s"$path/centroids"), col(vecCol), s"$path/stats")

  /** Probe a written index: nProbe cells resolved driver-side from the
    * centroid table, then a partition-pruned scan of those cluster
    * directories + exact re-rank. */
  def searchIndexed(spark: SparkSession, path: String,
                    qv: Array[Float], idCol: String, vecCol: String, k: Int,
                    nProbe: Int = 4, metric: String = "cosine",
                    rowFilter: Option[Column] = None): DataFrame = {
    val centers = readCentroids(spark, s"$path/centroids")
    // rowFilter applies INSIDE the cluster-pruned scan (partition
    // pruning x pushed row-group predicate), never post-hoc on the
    // shortlist — k survivors all satisfy it.
    val pruned = probed(spark.read.parquet(s"$path/assigned"), centers, qv, nProbe)
    VectorSearch.knnFlat(rowFilter.fold(pruned)(pruned.where), qv, idCol, vecCol, k, metric)
  }

  /**
   * Batch probe of the on-disk IVF index: N queries in one pass. Each
   * query resolves its nProbe nearest centroids driver-side (the
   * centroid table is tiny by construction); the scan then reads the
   * UNION of all probed cluster partitions ONCE (literal isin over the
   * partition column — planning-time pruning), a broadcast
   * (query_id, cluster) pair table assigns surviving rows to the
   * queries that probed their cell, and the per-query bounded top-k
   * finisher ranks. Q queries cost one pruned scan of their combined
   * cells, not Q scans.
   */
  def searchIndexedBatch(spark: SparkSession, path: String,
                         queries: DataFrame, idCol: String, vecCol: String, k: Int,
                         nProbe: Int = 4, metric: String = "cosine",
                         rowFilter: Option[Column] = None): DataFrame = {
    val assigned = spark.read.parquet(s"$path/assigned")
    searchBatch(rowFilter.fold(assigned)(assigned.where),
      readCentroids(spark, s"$path/centroids"), queries, idCol, vecCol, k, nProbe, metric)
  }

  /** Batch twin of [[search]]: probe an already-opened assigned frame
    * against given centers — the manifest-planned serving path (the
    * path-based form above re-lists the partition tree on every call). */
  def searchBatch(assigned: DataFrame, centers: Seq[(Int, Array[Double])],
                  queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, nProbe: Int = 4, metric: String = "cosine"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("query_id"), col("qvec")).collect()
    require(qRows.nonEmpty, "searchBatch needs at least one query")
    val pairs = qRows.flatMap { r =>
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      nearestClusters(centers, qv, nProbe).map(c => (r.getLong(0), c))
    }.toSeq
    val union = pairs.map(_._2).distinct
    val pairFrame = pairs.toDF("query_id", "cluster")
    val scored = assigned
      .filter(col("cluster").isin(union.map(Int.box): _*))
      .join(broadcast(pairFrame), "cluster")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(VectorSearch.similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    VectorSearch.finishPerQueryTopK(scored, idCol, k)
  }

  /**
   * ANN recall self-audit: recall@k of the pruned IVF probe against
   * the exact scan, per query and probe depth. The operational
   * question it answers — "is nProbe high enough for this corpus?" —
   * is the accuracy contract the reference asserts in its test suite;
   * here it is a first-class query a pipeline can gate on.
   *
   * Scale shape: ONE scan of the DEEPEST probe depth's cells serves
   * every swept depth (a depth-p probe's cells are a prefix of the
   * depth-max ranking, so each candidate is tagged with the probe
   * rank of its cell and participates in every depth >= that rank) +
   * ONE exact corpus pass for the reference top-k. Per-(query, depth)
   * top-k runs through the bounded-heap aggregate on a composite
   * query key, so the ranking shuffle carries k rows per group per
   * partition — never the scored candidates.
   */
  def recallSweep(assigned: DataFrame, centers: Seq[(Int, Array[Double])],
                  queries: DataFrame, idCol: String, vecCol: String, k: Int,
                  nProbes: Seq[Int] = Seq(1, 2, 4),
                  metric: String = "cosine"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val sweep = nProbes.distinct.sorted
    require(sweep.nonEmpty && sweep.head >= 1 && sweep.last < 1000,
      "probe depths must be in [1, 999]")
    val qRows = queries.select(col("query_id"), col("qvec")).collect()
    require(qRows.nonEmpty, "recallSweep needs at least one query")
    // per-query cluster ranking at the deepest depth; shallower
    // depths are prefixes of it
    val pairs = qRows.flatMap { r =>
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      nearestClusters(centers, qv, sweep.last).zipWithIndex
        .map { case (c, rk) => (r.getLong(0), c, rk + 1) }
    }.toSeq
    val union = pairs.map(_._2).distinct
    val pairFrame = pairs.toDF("query_id", "cluster", "probe_rank")
    val scored = assigned
      .filter(col("cluster").isin(union.map(Int.box): _*))
      .join(broadcast(pairFrame), Seq("cluster"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .select(col("query_id"), col(idCol), col("probe_rank"),
        round(VectorSearch.similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    // fan each candidate out to the swept depths it is visible at,
    // folded into a composite (query, depth) key for the heap agg
    val atDepth = scored.select(col("query_id").as("qid"),
        explode(filter(typedLit(sweep.map(_.toLong)),
          np => np >= col("probe_rank"))).as("np"),
        col(idCol), col("score"))
      .select((col("qid") * 1000 + col("np")).as("query_id"),
        col(idCol), col("score"))
    val approx = VectorSearch.finishPerQueryTopK(atDepth, idCol, k, ordered = false)
      .select(expr("query_id DIV 1000").as("query_id"),
        pmod(col("query_id"), lit(1000L)).cast("int").as("n_probe"), col(idCol))
    val exact = VectorSearch
      .knnBatch(assigned.select(col(idCol), col(vecCol)),
        queries, idCol, vecCol, k, metric)
      .select(col("query_id"), col(idCol))
    val hits = approx.join(exact, Seq("query_id", idCol))
      .groupBy(col("query_id"), col("n_probe")).agg(count(lit(1)).as("nhits"))
    // left-complete over the (query x depth) grid: a probe that missed
    // everything reports recall 0, not an absent row
    queries.select(col("query_id")).crossJoin(sweep.toDF("n_probe"))
      .join(hits, Seq("query_id", "n_probe"), "left")
      .select(col("query_id"), col("n_probe"),
        round(coalesce(col("nhits"), lit(0L)).cast("double") / k, 6).as("recall"))
      .orderBy(col("query_id").asc, col("n_probe").asc)
  }

  /**
   * Spill assignment — the index-side multi-probe trick (SPANN-style
   * boundary replication): each row lands in its nearest cell and ALSO
   * in up to `maxAssign - 1` further cells whose squared distance is
   * within `spillFactor` of the nearest. Boundary vectors — the ones a
   * low-nProbe probe misses — become reachable from both sides of the
   * Voronoi edge, buying recall at nProbe=1 for a bounded storage
   * premium (≤ maxAssign×, typically far less since only boundary rows
   * spill). The distance ranking is computed map-side against the
   * broadcast centroid literal (sort of an nCentroids-length array per
   * row, no shuffle before the write's own clustering), so the build
   * stays one pass at 100 TB.
   */
  def spillAssign(rows: DataFrame, vecCol: String, centers: Seq[(Int, Array[Double])],
                  spillFactor: Double = 1.2, maxAssign: Int = 2): DataFrame = {
    require(spillFactor >= 1.0, "spillFactor must be >= 1.0")
    require(maxAssign >= 1, "maxAssign must be >= 1")
    val centLit = typedLit(centers.map { case (i, c) => (i, c.toSeq) })
    // struct(d, cluster): array_sort's default struct order (field by
    // field) ranks by distance with the cluster id as the tie-break.
    val dists = transform(centLit, c => struct(
      aggregate(zip_with(col(vecCol).cast("array<double>"), c.getField("_2"),
        (x, y) => (x - y) * (x - y)), lit(0.0), _ + _).as("d"),
      c.getField("_1").as("cluster")))
    // Materialize the sorted distance array ONCE through a generator:
    // referencing the array_sort expression from both the slice and
    // the margin filter would re-evaluate the full nCentroids x dim
    // distance matrix per reference (CollapseProject re-inlines plain
    // projections; a Generate output is a real attribute and cannot
    // be inlined). Halves the build cost of the hot expression.
    val sorted = explode(array(array_sort(dists)))
    val withSorted = rows.withColumn("__cands", sorted)
    val kept = filter(slice(col("__cands"), 1, maxAssign),
      s => s.getField("d") <=
        element_at(col("__cands"), 1).getField("d") * lit(spillFactor))
    withSorted
      .withColumn("cluster", explode(transform(kept, s => s.getField("cluster"))))
      .drop("__cands")
  }

  /** Probe a spilled assignment: identical pruning to `search`, but a
    * row replicated into several probed cells must count once — scores
    * dedup on the occurrence-invariant (id, score) scalar pair before
    * the top-k, so no embedding array rides the aggregate. */
  def searchSpill(assigned: DataFrame, centers: Seq[(Int, Array[Double])],
                  qv: Array[Float], idCol: String, vecCol: String,
                  k: Int, nProbe: Int = 1, metric: String = "cosine"): DataFrame =
    probed(assigned, centers, qv, nProbe)
      .select(col(idCol), VectorSearch.scoreCol(metric, vecCol, qv).as("score"))
      .groupBy(col(idCol)).agg(max(col("score")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
}
