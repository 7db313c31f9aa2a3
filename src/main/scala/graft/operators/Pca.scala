package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.array_to_vector

/**
 * PCA dimensionality reduction over an embedding column — the
 * pre-processing stage in front of coarse quantizers (the OPQ-style
 * rotate-then-quantize pipelines) and the 2-D/8-D map a curator plots
 * a 100 TB corpus with.
 *
 * Split the same way every fitted operator here is split:
 *  - FIT is a one-off distributed MLlib job (Gramian accumulation is
 *    a single tree-aggregated pass; the dim x dim eigenproblem solves
 *    on the driver — dim is 64, not corpus-sized);
 *  - PROJECT is map-side only: each row folds against the broadcast
 *    component literals — the same aggregate(zip_with) sequential
 *    fold the IVF assignment uses, so the DuckDB oracle replays it
 *    bit-for-bit via list_dot_product. MLlib's model.transform is
 *    deliberately NOT used for projection (its BLAS gemv groups the
 *    sum differently; correct, but not replay-exact).
 *
 * Sign convention: an eigenvector's sign is arbitrary, so each
 * component is normalized to make its largest-|weight| element
 * positive (first index on ties) — fits are then stable enough to
 * inline as oracle literals.
 */
object Pca {

  /** Fit top-k principal components; returns k sign-normalized
    * columns of length dim (projection is `v . comps(j)`, uncentered
    * — the MLlib PCA transform contract). */
  def fit(emb: DataFrame, vecCol: String, k: Int = 8): Seq[Array[Double]] = {
    val featured = emb.withColumn("features", array_to_vector(col(vecCol)))
    val model = new org.apache.spark.ml.feature.PCA()
      .setK(k).setInputCol("features").setOutputCol("pca")
      .fit(featured)
    val pc = model.pc
    (0 until k).map { j =>
      val v = Array.tabulate(pc.numRows)(i => pc(i, j))
      val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(m) < 0) v.map(x => -x) else v
    }
  }

  /** The fitted components as one literal column of (comp, weights)
    * pairs — broadcast into every projection site. */
  private def compLitOf(comps: Seq[Array[Double]]) =
    typedLit(comps.zipWithIndex.map { case (c, j) => (j, c.toSeq) })

  /** Projection of `v` onto every component, in component order —
    * the sequential fold both engines replay identically. */
  private def projCol(comps: Seq[Array[Double]], v: org.apache.spark.sql.Column) =
    transform(compLitOf(comps), c =>
      aggregate(zip_with(v.cast("array<double>"), c.getField("_2"),
        (x, y) => x * y), lit(0.0), _ + _))

  /**
   * Two-phase PCA-shortlist k-NN: phase 1 ranks the corpus by squared
   * L2 distance in the k-dimensional component space (8 doubles per
   * row instead of 64 floats), phase 2 exactly re-ranks the
   * `shortlist` survivors on the raw vectors with the caller's
   * metric — the dimension-reduction rung of the ANN ladder, between
   * the int8 scalar quantizer and PQ.
   *
   * Scale shape: in a persisted layout the projection materializes at
   * ingest as its own column (exactly like the int8 codes the
   * quantized index stores), so phase 1 is a column-pruned scan of
   * 8 doubles/row; here it computes map-side against the broadcast
   * component literal. Both phases are replayable folds; shortlist
   * membership ties break on id, so the oracle reproduces the exact
   * candidate set.
   */
  def knn(emb: DataFrame, comps: Seq[Array[Double]], qv: Array[Float],
          idCol: String = "vec_id", vecCol: String = "embedding",
          k: Int = 10, shortlist: Int = 50, metric: String = "cosine"): DataFrame = {
    // the query's projection, evaluated once on the driver without a
    // job and scored as a literal
    val qproj = VectorSearch.evalLocal(emb.sparkSession, projCol(comps, typedLit(qv)))
      .getSeq[Double](0)
    // scaleScan (r14): the k x dim projection fold is the dominant
    // per-row cost and must not serialize on a 1-split scan (§2.5)
    val short = graft.GraftFunctions.scaleScan(emb.select(col(idCol), col(vecCol)))
      .withColumn("proj", projCol(comps, col(vecCol)))
      .withColumn("pdist", aggregate(zip_with(col("proj"), typedLit(qproj),
        (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))
      .orderBy(col("pdist").asc, col(idCol).asc)
      .limit(shortlist)
    VectorSearch.knnFlat(short, qv, idCol, vecCol, k, metric)
  }

  /** Project each row onto the fitted components: one output row per
    * (id, component), value = the sequential-fold dot product,
    * rounded to 6 dp. Map-side only against the broadcast literal. */
  def project(emb: DataFrame, comps: Seq[Array[Double]],
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val compLit = typedLit(comps.zipWithIndex.map { case (c, j) => (j, c.toSeq) })
    // (r14: a scaleScan here was tried and reverted — the projection
    // fold is cheap per row and the global orderBy shuffles anyway;
    // the pre-repartition only added an exchange. A/B: 0.48 -> 0.51 s.)
    emb.select(col(idCol), explode(transform(compLit, c => struct(
        c.getField("_1").as("comp"),
        round(aggregate(zip_with(col(vecCol).cast("array<double>"),
          c.getField("_2"), (x, y) => x * y), lit(0.0), _ + _), 6).as("pc_val"))))
        .as("p"))
      .select(col(idCol), col("p.comp").as("comp"), col("p.pc_val").as("pc_val"))
      .orderBy(col(idCol).asc, col("comp").asc)
  }
}
