package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructType}

/**
 * Product quantization (Jegou, Douze, Schmid, "Product Quantization
 * for Nearest Neighbor Search", TPAMI 2011) — the missing compression
 * rung between this library's int8 scalar codes (4x vs float32) and
 * the posting-list indexes: the vector splits into `m` subspaces,
 * each quantized to one of `kk` learned codewords, so a 64-dim float32
 * vector becomes m=8 BYTES (32x) while distances remain computable
 * from the codes alone.
 *
 * Spark mapping (the reference keeps whole-vector indexes only,
 * algorithms.py; PQ is this library's scale extension):
 *  - Train: `m` tiny k-means fits on COLUMN SLICES of one corpus scan
 *    each; the codebook table (m*kk*ds doubles) is driver-resident and
 *    broadcast — never a shuffle participant.
 *  - Encode: per-subspace argmin over the broadcast codebook, the same
 *    sequential-fold `aggregate(zip_with(...))` arithmetic as
 *    [[IvfIndex.assignExact]] — replayable bit-identically by a SQL
 *    oracle, lowest-j tie-break via `array_min` struct ordering.
 *  - Search (ADC, asymmetric distance computation): the query builds
 *    an m x kk lookup table of subspace distances ONCE (on the driver,
 *    as a literal), then each corpus row's approximate distance is m
 *    array lookups summed in fixed subspace order — whole-stage
 *    codegen over builtins, no UDF. Phase 1 ranks by ADC and keeps
 *    rerankFactor*k survivors, the exact re-rank scores them on the
 *    floats. A single search carries the floats through phase 1 and
 *    re-ranks on the driver when the codes frame is under Spark's
 *    small-relation threshold (one job); above it, phase 1 scans
 *    (id, pq_codes) ONLY and the floats are re-read for just the
 *    survivors (row-group-prunable point reads at 100 TB).
 */
object PqIndex {

  /** For each subspace s (in order), its codewords (j, centroid(ds)),
    * ordered by j. */
  type Codebooks = Seq[(Int, Seq[(Int, Array[Double])])]

  /** The codebook sidecar's rows: (s, j, `wordCol`) — subspace,
    * codeword index, codeword. */
  def booksFrame(spark: SparkSession, books: Codebooks, wordCol: String): DataFrame = {
    import spark.implicits._
    books.flatMap { case (s, ws) => ws.map { case (j, c) => (s, j, c.toSeq) } }
      .toDF("s", "j", wordCol)
  }

  /** The codebook sidecar at `dir` — rows (s, j, `wordCol`): subspace,
    * codeword index, codeword — grouped per subspace in index order.
    * Read with its schema given: one job, no schema-inference job. */
  def readBooks(spark: SparkSession, dir: String,
                wordCol: String): Codebooks =
    spark.read.schema(new StructType().add("s", IntegerType)
        .add("j", IntegerType).add(wordCol, ArrayType(DoubleType)))
      .parquet(dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, ws) => (s, ws.sortBy(_._2).map(w => (w._2, w._3)).toSeq) }

  /** Fit per-subspace codebooks: m independent k-means on vector
    * slices. Distinct seeds per subspace keep the fits decorrelated. */
  def train(emb: DataFrame, vecCol: String, m: Int = 8, kk: Int = 16,
            seed: Long = 42L, maxIter: Int = 5): Codebooks = {
    val dim = emb.select(size(col(vecCol))).limit(1).collect()(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val ds = dim / m
    (0 until m).map { s =>
      val sub = emb.select(array_to_vector(
        slice(col(vecCol).cast("array<double>"), s * ds + 1, ds)).as("features"))
      val model = new KMeans().setK(kk).setSeed(seed + s).setMaxIter(maxIter).fit(sub)
      (s, model.clusterCenters.zipWithIndex
        .map { case (c, j) => (j, c.toArray) }.toSeq)
    }
  }

  /** Append `pq_codes` (array<int>, one code per subspace): exact
    * per-subspace squared-L2 argmin against the broadcast codebook,
    * sequential-fold arithmetic, lowest-j tie-break. */
  def encodeExact(rows: DataFrame, vecCol: String, books: Codebooks): DataFrame = {
    val codeCols = books.map { case (s, words) =>
      val ds = words.head._2.length
      val sub = slice(col(vecCol).cast("array<double>"), s * ds + 1, ds)
      val wordsLit = typedLit(words.map { case (j, c) => (j, c.toSeq) })
      val dists = transform(wordsLit, c => struct(
        aggregate(zip_with(sub, c.getField("_2"), (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _).as("d"),
        c.getField("_1").as("j")))
      array_min(dists).getField("j")
    }
    rows.withColumn("pq_codes", array(codeCols: _*))
  }

  /** m x kk lookup table of subspace squared-L2 distances from `qv`
    * to every codeword — evaluated once per QUERY row. */
  private[operators] def lutCol(books: Codebooks, qv: Column): Column =
    array(books.map { case (s, words) =>
      val ds = words.head._2.length
      val sub = slice(qv.cast("array<double>"), s * ds + 1, ds)
      val wordsLit = typedLit(words.map(_._2.toSeq))
      transform(wordsLit, c =>
        aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))
    }: _*)

  /** ADC distance: m lookups into the table `lut` added in fixed
    * subspace order (a left-assoc chain — the oracle replays the
    * identical sum). */
  private[operators] def adcCol(m: Int, lut: Column = col("__lut")): Column =
    (0 until m).map(s =>
      element_at(element_at(lut, s + 1),
        element_at(col("pq_codes"), s + 1) + 1))
      .reduce(_ + _)

  /**
   * Two-phase PQ top-k against pre-encoded rows: ADC shortlist of
   * rerankFactor*k ids, exact re-rank of the survivors on the floats —
   * one job or two, by the size rule of
   * [[VectorSearch.twoPhaseTopK]] (above it, phase 1 reads the codes
   * only and phase 2 re-reads the survivors through a pushed id
   * In-filter: row-group point reads on the id-clustered codes
   * layout). `qv` is the query vector; its lookup table is built once,
   * on the driver without a job ([[VectorSearch.evalLocal]]), and
   * scored as a literal.
   */
  def search(encoded: DataFrame, books: Codebooks, qv: Array[Float],
             idCol: String, vecCol: String, k: Int,
             metric: String = "euclidean", rerankFactor: Int = 5,
             normalized: Boolean = false): DataFrame = {
    // normalized = codes were built over L2-normalized vectors (the
    // library layout, where ADC squared-L2 tracks cosine): the query
    // normalizes identically before the table build; the exact
    // re-rank always runs on the raw vectors with the caller's metric.
    val q = if (normalized) graft.GraftFunctions.l2Normalize(typedLit(qv)) else typedLit(qv)
    val lut = typedLit(VectorSearch.evalLocal(encoded.sparkSession, lutCol(books, q))
      .getSeq[Seq[Double]](0))
    VectorSearch.twoPhaseTopK(encoded, adcCol(books.size, lut), ascending = true,
      k * rerankFactor, qv, idCol, vecCol, k, metric)
  }

  /**
   * Batch twin: ONE codes-only scan scores every query (the broadcast
   * carries each query's lookup table, the phase-1 shuffle carries
   * only bounded per-query heaps), then the union of all candidate
   * sets joins the float column once for the exact per-query re-rank.
   */
  def searchBatch(encoded: DataFrame, books: Codebooks, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  metric: String = "euclidean", rerankFactor: Int = 5,
                  normalized: Boolean = false): DataFrame = {
    val qv = if (normalized) graft.GraftFunctions.l2Normalize(col("qvec")) else col("qvec")
    val q2 = queries.select(col("query_id"), lutCol(books, qv).as("__lut"))
    val phase1 = encoded.select(col(idCol), col("pq_codes"))
      .crossJoin(broadcast(q2))
      // negate: the bounded top-k finisher ranks score DESC
      .select(col("query_id"), col(idCol), (-adcCol(books.size)).as("score"))
    // Bounded (Q * k * rerankFactor) candidate union: resolve it
    // driver-side, push the id set into the float scan as an
    // In-filter (row-group point reads), attribute via the broadcast
    // pair join. The pair frame is pinned — it feeds both the collect
    // and the join.
    val cand = graft.GraftFunctions.pin(
      VectorSearch.finishPerQueryTopK(phase1, idCol, k * rerankFactor,
          ordered = false)
        .select(col("query_id"), col(idCol)))
    val ids = cand.select(col(idCol)).distinct().collect().map(_.get(0))
    if (ids.isEmpty)
      return encoded.limit(0)
        .crossJoin(broadcast(queries.select(col("query_id"), col("qvec"))))
        .select(col("query_id"), col(idCol), lit(0.0).as("score"),
          lit(0).as("rank"))
    val scored = encoded.filter(col(idCol).isin(ids: _*))
      .join(broadcast(cand), idCol)
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), "query_id")
      .select(col("query_id"), col(idCol),
        round(VectorSearch.similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    VectorSearch.finishPerQueryTopK(scored, idCol, k)
  }
}
