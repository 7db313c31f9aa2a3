package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.GraftFunctions._

/**
 * k-NN search operators — the Spark re-expression of the reference's
 * vector indexes (/root/reference/vector_db/algorithms.py).
 *
 * Design for scale (SURVEY.md paragraph 4):
 *  - Flat search: similarity is one codegen'd expression over a columnar
 *    scan; `orderBy(desc).limit(k)` plans as TakeOrderedAndProject =
 *    per-partition top-k heap + driver merge of k rows per partition.
 *    No global sort, no shuffle of the corpus.
 *  - A single query is a vector on the driver, scored as a literal
 *    ([[scoreCol]]; no query frame is joined in, collected or
 *    broadcast). Two-phase single searches share [[twoPhaseTopK]].
 *  - A corpus held in driver memory (a local relation: a library tree
 *    at or under `spark.sql.autoBroadcastJoinThreshold` and the
 *    library's residency cap, or a collected shortlist) is scored by
 *    the optimizer itself (ConvertToLocalRelation folds the score
 *    projection and the filters) and its top k is taken on the driver
 *    with Spark's own ordering ([[localTop]]): no job, no file I/O, a
 *    local result.
 *  - A batch's query side is tiny; the corpus is never moved. Every
 *    multi-query kernel ends in one of three shapes:
 *     - the exact tail ([[exactTail]]): candidate rows, the broadcast
 *       queries, the one batch score column ([[batchScoreCol]]), the
 *       per-query bounded top-k ([[finishPerQueryTopK]]);
 *     - the probe batch ([[probeBatch]]): driver-resolved
 *       (query_id, key…) pairs — grid cells, IVF clusters, lsh
 *       (tbl, bucket) — prune the scan by their union as literal
 *       predicates and attribute rows by a broadcast pair join, then
 *       the exact tail;
 *     - the two-phase batch ([[twoPhaseBatch]]): a per-query
 *       approximate shortlist (codes scored against literal query
 *       values) collected once as (query_id, id) pairs, its ids pushed
 *       into the float scan as an In-filter, then the exact tail.
 *  - LSH: bucket ids map-side, candidates via equi-join on
 *    (table, bucket) — shuffle carries only matching buckets; AQE
 *    handles skewed buckets.
 *  - Grid: one geometry. Bounds from one partial-aggregated pass, one
 *    cell formula ([[cellKeyCol]] over columns, [[qCellsOf]] for a
 *    query on the driver), one expanding-radius rule
 *    ([[radiusProbe]]) over per-cell occupancy; the ad-hoc expanding
 *    probes cell-key the corpus and run the indexed ones.
 */
object VectorSearch {

  /** Similarity column for one of the reference's four metrics. */
  def similarity(metric: String, a: Column, b: Column): Column = metric match {
    case "cosine"      => cosineSim(a, b)
    case "dot_product" => dotProduct(a, b)
    case "euclidean"   => euclideanSim(a, b)
    case "manhattan"   => manhattanSim(a, b)
    case other         => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** A row's score against the single query vector `qv`, held as a
    * literal: every single-query kernel scores with this column. */
  private[operators] def scoreCol(metric: String, vecCol: String, qv: Array[Float]): Column =
    round(similarity(metric, col(vecCol), typedLit(qv)), 6)

  /** Evaluate `cols` — expressions over literals — on the driver
    * without a Spark job ([[localRows]] over a one-row local relation).
    * For the query-derived values that hold lambdas (PQ lookup tables,
    * PCA projections), which constant folding leaves alone. */
  private[graft] def evalLocal(spark: SparkSession, cols: Column*): Row = {
    val df = spark.createDataFrame(java.util.List.of(Row(0)),
        new org.apache.spark.sql.types.StructType().add("_", "int"))
      .select(cols: _*)
    CatalystTypeConverters.createToScalaConverter(df.schema)(localRows(df).head).asInstanceOf[Row]
  }

  /** The rows of `df`, a projection over a local relation, as the
    * optimizer computes them: ConvertToLocalRelation evaluates the
    * projection into a local relation, so reading its rows needs no
    * physical plan, no SQL execution and no job. A plan the rule left
    * alone is collected instead. */
  private def localRows(df: DataFrame): Seq[InternalRow] = df.queryExecution.optimizedPlan match {
    case l: LocalRelation => l.data
    case _ => df.queryExecution.executedPlan.executeCollect().toSeq
  }

  /** The first `n` rows of `df` in the order `order`, when `df`
    * optimizes to a local relation (its leaves are local relations,
    * and ConvertToLocalRelation folded its projections and filters):
    * ordered on the driver by Spark's own interpreted ordering, so
    * NaN, -0.0 and nulls sort as ORDER BY sorts them. No job, and no
    * reliance on a Limit surviving the optimizer (EliminateLimits
    * drops one at least as large as the relation, which would leave a
    * global sort to plan). None when `df` reads anything else. */
  private def localTop(df: DataFrame, n: Int, order: Column*): Option[Array[Row]] =
    if (!df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering}
        import org.apache.spark.sql.catalyst.plans.logical.Sort
        val analyzed = df.queryExecution.analyzed
        val sort = df.orderBy(order: _*).queryExecution.analyzed.asInstanceOf[Sort]
        val ordering = new InterpretedOrdering(sort.order.map(BindReferences.bindReference(_,
          analyzed.output)))
        val toScala = CatalystTypeConverters.createToScalaConverter(df.schema)
        Some(firstN(l.data, n, ordering).map(r => toScala(r).asInstanceOf[Row]).toArray)
      case _ => None
    }

  /** The first `n` of `rows` under `ord`, in order, through a heap of
    * at most `n` rows: a large relation is never sorted whole. */
  private def firstN(rows: Seq[InternalRow], n: Int, ord: Ordering[InternalRow]): Seq[InternalRow] = {
    val kept = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
    rows.foreach { r =>
      if (kept.size < n) kept.enqueue(r)
      else if (n > 0 && ord.lt(r, kept.head)) { kept.dequeue(); kept.enqueue(r) }
    }
    kept.dequeueAll.reverse
  }

  /**
   * Exact (Flat) top-k against the single query vector `qv` — the
   * exact re-rank every single-query kernel ends with. Over a corpus
   * held in driver memory (a resident library tree, a collected
   * shortlist) the top k is taken on the driver ([[localTop]]) and the
   * result is a local frame; otherwise it plans as
   * `orderBy(score desc, id).limit(k)`, a TakeOrderedAndProject.
   */
  def knnFlat(corpus: DataFrame, qv: Array[Float], idCol: String, vecCol: String,
              k: Int, metric: String): DataFrame = {
    val scored = corpus.select(col(idCol), scoreCol(metric, vecCol, qv).as("score"))
    val order = Seq(col("score").desc, col(idCol).asc)
    localTop(scored, k, order: _*).fold(scored.orderBy(order: _*).limit(k))(localFrame(_, scored))
  }

  /** Batch exact k-NN for arbitrary id types: broadcast queries over
    * one corpus scan, per-query bounded top-k (native heap aggregate
    * for long ids, a rank window over the scored rows otherwise) —
    * the [[exactTail]] over the whole corpus. */
  def knnBatch(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, metric: String = "cosine"): DataFrame =
    exactTail(corpus, queries, idCol, vecCol, k, metric)

  /**
   * LSH approximate top-k: sign-random-projection buckets
   * (numTables x bitsPerTable), candidate = corpus row sharing any
   * table's bucket with the query, then exact re-rank of candidates.
   */
  def lshKnn(corpus: DataFrame, qv: Array[Float], idCol: String, vecCol: String,
             k: Int, metric: String = "cosine",
             numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
             extraProbes: Int = 2): DataFrame = {
    // Ad-hoc (index-free) path: signatures are derived on the fly
    // through a generate, so the expensive bucket expression runs
    // EXACTLY ONCE per row (a filter formulation would re-substitute
    // it per referenced table). Explode carries only (id, tbl,
    // bucket); the embedding never rides through the join. With a
    // store, use lshKnnIndexed instead.
    val corpusB = corpus
      .select(col(idCol),
        posexplode(lshBuckets(col(vecCol), numTables, bitsPerTable, seed))
          .as(Seq("tbl", "bucket")))
    val queryB = corpus.sparkSession.createDataFrame(
      probeBuckets(qv, numTables, bitsPerTable, seed, extraProbes)
        .zipWithIndex.flatMap { case (bs, t) => bs.map(b => (t, b)) }.toSeq)
      .toDF("tbl", "bucket")
    // Distinct candidate IDS (hash-aggregable scalars), then semi-join
    // the corpus. The probe side is a handful of literal rows and
    // stays broadcast; the candidate set is NOT hinted (it grows with
    // corpus size and hot buckets — AQE picks the join strategy).
    val candIds = corpusB
      .join(broadcast(queryB), Seq("tbl", "bucket"))
      .select(col(idCol)).distinct()
    knnFlat(corpus.join(candIds, Seq(idCol), "left_semi"), qv, idCol, vecCol, k, metric)
  }

  /** Multi-probe buckets of the query vector, resolved on the driver:
    * per table, the main bucket plus the lowest-margin bit-flip
    * variants, deduplicated. */
  private def probeBuckets(qv: Array[Float], numTables: Int, bitsPerTable: Int,
                           seed: Long, extraProbes: Int): Array[Array[Int]] = {
    import graft.functions.TextHash
    val flat = TextHash.hyperplaneProbesArr(qv.map(_.toDouble), numTables, bitsPerTable,
      extraProbes, seed)
    val perTable = 1 + extraProbes
    Array.tabulate(numTables)(t =>
      flat.slice(t * perTable, (t + 1) * perTable).distinct)
  }

  /** The probe of the bucket-PARTITIONED index as a predicate over its
    * partition columns: literal (tbl, bucket) pairs, pruned at
    * planning time. */
  private def probePartitions(qv: Array[Float], numTables: Int, bitsPerTable: Int,
                              seed: Long, extraProbes: Int): Column =
    probeBuckets(qv, numTables, bitsPerTable, seed, extraProbes)
      .zipWithIndex.map { case (bs, t) =>
        col("tbl") === t && col("bucket").isin(bs.map(Int.box).toSeq: _*)
      }.reduce(_ || _)

  /** The query vector's int8 codes: unary expressions over a literal,
    * which constant folding evaluates once, at planning. */
  private def queryCodes(qv: Array[Float]): Column = quantizeVec(l2Normalize(typedLit(qv)))

  /**
   * LSH probe against a PRE-BUILT index: `indexed` already carries the
   * per-table bucket ids (materialized at ingest — VectorLibrary
   * writes them next to the vectors), so the candidate test compiles
   * to a pure integer predicate over stored columns:
   *
   *   bucket[1] IN (probes of table 1) OR ... OR bucket[T] IN (...)
   *
   * One map-side scan, zero shuffles, zero joins before the top-k —
   * signatures are never recomputed, and no candidate set ever
   * materializes (measured 0.2-0.5s vs 2.6s for the explode+semi-join
   * formulation at 1M vectors). At 100 TB the same predicate prunes
   * harder when the store is sorted or partitioned by a leading
   * bucket (the IVF layout in Stress shows the partition-pruned
   * variant of this plan).
   */
  def lshKnnIndexed(indexed: DataFrame, qv: Array[Float], idCol: String, vecCol: String,
                    bucketsCol: String, k: Int, metric: String = "cosine",
                    numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
                    extraProbes: Int = 2): DataFrame = {
    val candidate = probeBuckets(qv, numTables, bitsPerTable, seed, extraProbes)
      .zipWithIndex.map { case (bs, t) =>
        element_at(col(bucketsCol), t + 1).isin(bs.map(Int.box).toSeq: _*)
      }.reduce(_ || _)
    knnFlat(indexed.filter(candidate), qv, idCol, vecCol, k, metric)
  }

  /**
   * Batch LSH top-k: N queries against the bucketed corpus in ONE
   * pass. Corpus signatures are computed once (map-side explode of
   * (id, tbl, bucket) — vectors never ride the bucket join); each
   * query contributes its multi-probe (tbl, bucket) pairs via the
   * graft_lsh_probes kernel; candidates are the distinct (query, id)
   * pairs sharing any bucket. Candidate vectors are fetched once per
   * pair (not per bucket hit), scored against the broadcast query set,
   * and ranked per query by the bounded top-k aggregate — the shuffle
   * after scoring carries k-row partials, never the full score matrix.
   */
  def lshKnnBatch(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, metric: String = "cosine",
                  numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
                  extraProbes: Int = 2): DataFrame = {
    val corpusB = corpus.select(col(idCol),
      posexplode(lshBuckets(col(vecCol), numTables, bitsPerTable, seed))
        .as(Seq("tbl", "bucket")))
    batchFromBuckets(corpus, corpusB, queries, idCol, vecCol, k, metric,
      numTables, bitsPerTable, seed, extraProbes)
  }

  /** Batch LSH against PRE-STORED signatures: same shape as
    * `lshKnnBatch`, but the bucket side explodes the materialized
    * `bucketsCol` written at ingest instead of recomputing the
    * signature kernel over every vector — the batch twin of
    * `lshKnnIndexed`. */
  def lshKnnBatchIndexed(corpus: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, bucketsCol: String, k: Int,
                         metric: String = "cosine",
                         numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
                         extraProbes: Int = 2): DataFrame = {
    val corpusB = corpus.select(col(idCol),
      posexplode(col(bucketsCol)).as(Seq("tbl", "bucket")))
    batchFromBuckets(corpus.select(col(idCol), col(vecCol)), corpusB, queries,
      idCol, vecCol, k, metric, numTables, bitsPerTable, seed, extraProbes)
  }

  /** Shared tail of the batch LSH paths: bucket join → distinct
    * (query, id) candidates → one vector fetch per pair → the
    * [[exactTail]]. */
  private def batchFromBuckets(corpus: DataFrame, corpusB: DataFrame,
                               queries: DataFrame, idCol: String, vecCol: String,
                               k: Int, metric: String, numTables: Int,
                               bitsPerTable: Int, seed: Long,
                               extraProbes: Int): DataFrame = {
    val perTable = 1 + extraProbes
    val queryB = queries.select(col("query_id"),
      posexplode(lshProbes(col("qvec"), numTables, bitsPerTable, extraProbes, seed))
        .as(Seq("p", "bucket")))
      .select(col("query_id"), (col("p") / perTable).cast("int").as("tbl"), col("bucket"))
      .distinct()
    val cand = corpusB.join(broadcast(queryB), Seq("tbl", "bucket"))
      .select(col("query_id"), col(idCol)).distinct()
    exactTail(corpus.join(cand, idCol), queries, idCol, vecCol, k, metric)
  }

  /** Per-query bounded top-k finisher over (query_id, id, score) rows:
    * the native heap aggregate for long ids (k-row shuffle partials);
    * a rank window otherwise (string ids — still k rows out, and the
    * window shuffles only the scored candidates, never the corpus). */
  private[graft] def finishPerQueryTopK(scored: DataFrame, idCol: String, k: Int,
                                        ordered: Boolean = true): DataFrame = {
    val ranked =
      if (scored.schema(idCol).dataType == org.apache.spark.sql.types.LongType)
        scored.groupBy(col("query_id"))
          .agg(graft.GraftFunctions.topKAgg(col(idCol), col("score"), k).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "pair")))
          .select(col("query_id"), col("pair.id").as(idCol), col("pair.score").as("score"),
            (col("r0") + 1).cast("int").as("rank"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("score").desc, col(idCol).asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
      }
    if (ordered) ranked.orderBy(col("query_id").asc, col("rank").asc) else ranked
  }

  /** A row's exact score against its query's `qvec`: the one score
    * column of every batch kernel, the batch twin of [[scoreCol]]. */
  private[operators] def batchScoreCol(metric: String, vecCol: String): Column =
    round(similarity(metric, col(vecCol), col("qvec")), 6)

  /**
   * The exact tail every batch kernel ends with: candidate rows meet
   * the broadcast queries (on `query_id` when the candidates carry it,
   * else every row meets every query), are scored with
   * [[batchScoreCol]] and ranked per query by [[finishPerQueryTopK]].
   * With `copies` > 1 a row may be a candidate of one query several
   * times (once per probed lsh table), always with one score; it
   * counts once, as in [[twoPhaseTopK]].
   */
  private[operators] def exactTail(cands: DataFrame, queries: DataFrame, idCol: String,
                                   vecCol: String, k: Int, metric: String,
                                   copies: Int = 1): DataFrame = {
    val qs = broadcast(queries.select(col("query_id"), col("qvec")))
    val joined = if (cands.columns.contains("query_id")) cands.join(qs, "query_id")
      else cands.join(qs)
    val scored = joined.select(col("query_id"), col(idCol),
      batchScoreCol(metric, vecCol).as("score"))
    finishPerQueryTopK(
      if (copies == 1) scored
      else scored.groupBy(col("query_id"), col(idCol)).agg(max(col("score")).as("score")),
      idCol, k)
  }

  /**
   * The probe batch: `probe` resolves each query vector's keys on the
   * driver (one value per column of `keys`: a grid cell, an IVF
   * cluster, an lsh (tbl, bucket)). The union of every query's keys
   * filters `rows` as literal predicates, so a partitioned layout is
   * pruned at planning time; a broadcast join of the (query_id, key…)
   * pairs assigns each survivor to the queries that probed it, and the
   * [[exactTail]] ranks. Q queries cost one pruned scan of their
   * combined keys, not Q scans. No query, no rows.
   */
  private[operators] def probeBatch(rows: DataFrame, keys: Seq[String], queries: DataFrame,
                                    probe: Seq[Float] => Seq[Seq[Any]], idCol: String,
                                    vecCol: String, k: Int, metric: String,
                                    copies: Int = 1): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType}
    val pairs = queries.select(col("query_id"), col("qvec")).collect().toSeq
      .flatMap(r => probe(r.getSeq[Float](1)).map(r.getLong(0) +: _)).distinct
    val schema = keys.foldLeft(new StructType().add("query_id", LongType, nullable = false))(
      (s, c) => s.add(c, rows.schema(c).dataType))
    val pairFrame = rows.sparkSession.createDataFrame(
      java.util.Arrays.asList(pairs.map(Row.fromSeq): _*), schema)
    // per distinct value of the leading keys, an IN list of the last
    val union = pairs.map(_.tail).distinct.groupBy(_.init).map { case (lead, ps) =>
      keys.init.zip(lead).foldRight(col(keys.last).isin(ps.map(_.last): _*)) {
        case ((c, v), in) => col(c) === v && in }
    }.reduceOption(_ || _).getOrElse(lit(false))
    exactTail(rows.filter(union).join(broadcast(pairFrame), keys), queries, idCol, vecCol,
      k, metric, copies)
  }

  /**
   * LSH probe against a bucket-PARTITIONED exploded index table:
   * rows (id, vector) stored under (tbl, bucket) PARTITION columns
   * (VectorLibrary.buildPartitionedIndex writes this layout). The
   * probe predicate references only partition columns, so Catalyst
   * prunes at planning time — of numTables * 2^bits directories the
   * scan opens only numTables * (1 + extraProbes), i.e. ~1/100th of
   * the index regardless of corpus size. This is the 100 TB serving
   * shape: `lshKnnIndexed`'s column probe still reads every row's
   * bucket array once; here the non-probed data is never opened.
   *
   * A candidate caught by several probed tables appears once per hit,
   * each time with the same score: ONE job keeps the first k·numTables
   * scored rows (a TakeOrderedAndProject), which hold the first k
   * distinct ids, and the driver drops the repeats. The result is a
   * local frame.
   */
  def lshKnnPartitioned(index: DataFrame, qv: Array[Float], idCol: String,
                        vecCol: String, k: Int, metric: String = "cosine",
                        numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
                        extraProbes: Int = 2): DataFrame = {
    val ranked = knnFlat(index.filter(probePartitions(qv, numTables, bitsPerTable, seed,
      extraProbes)), qv, idCol, vecCol, k * numTables, metric)
    localFrame(firstDistinct(ranked.collect(), k, numTables), ranked)
  }

  /**
   * Fully index-resident two-phase probe of the bucket-PARTITIONED
   * index: phase 1 ranks the pruned directories' rows by integer dot
   * over the stored int8 `codes` column, the exact re-rank scores the
   * rerankFactor*k distinct survivors on the floats. The store is
   * never touched: both phases live inside the probed
   * ~numTables*(1+extraProbes) directories. One job or two, by the
   * size rule of [[twoPhaseTopK]]; a vector's per-table copies share
   * one approximate and one exact score, so each phase dedups its
   * ordered rows on the driver and the candidate budget is spent on
   * distinct vectors.
   */
  def lshKnnPartitionedQuantized(index: DataFrame, qv: Array[Float], idCol: String,
                                 vecCol: String, codesCol: String, k: Int,
                                 metric: String = "cosine",
                                 numTables: Int = 8, bitsPerTable: Int = 8,
                                 seed: Long = 42L, extraProbes: Int = 2,
                                 rerankFactor: Int = 4): DataFrame =
    twoPhaseTopK(index.filter(probePartitions(qv, numTables, bitsPerTable, seed, extraProbes)),
      quantizedDot(col(codesCol), queryCodes(qv)), ascending = false, k * rerankFactor,
      qv, idCol, vecCol, k, metric, copies = numTables)

  /** Batch probe of the bucket-PARTITIONED index: a [[probeBatch]]
    * over (tbl, bucket), each query's keys its multi-probe buckets; a
    * row caught by several of one query's tables counts once. */
  def lshKnnPartitionedBatch(index: DataFrame, queries: DataFrame, idCol: String,
                             vecCol: String, k: Int, metric: String = "cosine",
                             numTables: Int = 8, bitsPerTable: Int = 8,
                             seed: Long = 42L, extraProbes: Int = 2): DataFrame =
    probeBatch(index, Seq("tbl", "bucket"), queries,
      qv => probeBuckets(qv.toArray, numTables, bitsPerTable, seed, extraProbes).toSeq
        .zipWithIndex.flatMap { case (bs, t) => bs.toSeq.map(b => Seq(t, b)) },
      idCol, vecCol, k, metric, copies = numTables)

  /**
   * Grid approximate top-k on a low-dimensional prefix subspace
   * (the reference's uniform grid; restricted to `gridDims` leading
   * dimensions because a uniform grid is vacuous in high dimensions —
   * algorithms.py:537-563 applies the same escape hatch).
   * Cells are `cellsPerDim` quantiles of [min,max] per dimension;
   * probe = query cell + all +/-1 neighbor cells, exact re-rank.
   */
  def gridKnn(corpus: DataFrame, qv: Array[Float], idCol: String, vecCol: String,
              k: Int, metric: String = "euclidean",
              gridDims: Int = 4, cellsPerDim: Int = 4): DataFrame = {
    val (lo, hi) = gridBounds(corpus, vecCol, gridDims)
    val corpusC = corpus.withColumn("cell",
      cellKeyCol(col(vecCol), lo, hi, cellsPerDim))

    // Resolve the query's cell on the driver and probe the corpus
    // with literal neighbor-cell keys (a tiny IN filter pushed into
    // the scan — no generated 81-way expression).
    val probeKeys = queryProbeKeys(qv.toSeq, lo, hi, gridDims, cellsPerDim)
    knnFlat(corpusC.filter(col("cell").isin(probeKeys: _*)), qv, idCol, vecCol, k, metric)
  }

  /** One partial-aggregated pass for per-dimension grid bounds. */
  private[graft] def gridBounds(corpus: DataFrame, vecCol: String,
                                gridDims: Int): (Array[Double], Array[Double]) = {
    val bounds = corpus
      .select(posexplode(slice(col(vecCol), 1, gridDims)).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      .collect().sortBy(_.getInt(0))
    (bounds.map(r => r.getFloat(1).toDouble), bounds.map(r => r.getFloat(2).toDouble))
  }

  /** Clamped cell key of a stored vector, as "c0,c1,...": the grid's
    * one cell formula over columns ([[qCellsOf]] is its driver twin). */
  private[graft] def cellKeyCol(vc: Column, lo: Array[Double], hi: Array[Double],
                                cellsPerDim: Int): Column =
    concat_ws(",", lo.indices.map { d =>
      val range = math.max(hi(d) - lo(d), 1e-12)
      least(greatest(floor((vc.getItem(d) - lit(lo(d))) / lit(range) * cellsPerDim), lit(0)),
        lit(cellsPerDim - 1)).cast("int")
    }: _*)

  /** Query cell coordinates under frozen bounds (clamped): the grid's
    * one cell formula on the driver. */
  private def qCellsOf(qv: Seq[Float], lo: Array[Double], hi: Array[Double],
                       gridDims: Int, cellsPerDim: Int): Seq[Int] =
    (0 until gridDims).map { d =>
      val range = math.max(hi(d) - lo(d), 1e-12)
      math.min(math.max(math.floor((qv(d) - lo(d)) / range * cellsPerDim).toInt, 0),
        cellsPerDim - 1)
    }

  /** Driver-resolved neighbor-cell probe keys for one query vector. */
  private def queryProbeKeys(qv: Seq[Float], lo: Array[Double], hi: Array[Double],
                             gridDims: Int, cellsPerDim: Int): Seq[String] = {
    val qCells = qCellsOf(qv, lo, hi, gridDims, cellsPerDim)
    val offsets = Seq.fill(gridDims)(Seq(-1, 0, 1))
      .foldLeft(Seq(Seq.empty[Int]))((acc, s) => acc.flatMap(p => s.map(p :+ _)))
    offsets.map(off =>
      (0 until gridDims).map(d => qCells(d) + off(d)).mkString(",")).distinct
  }

  /** The corpus keyed by cell under the bounds (lo, hi); a row without
    * a vector has no cell and is dropped. */
  private def cellKeyed(corpus: DataFrame, vecCol: String, lo: Array[Double],
                        hi: Array[Double], cellsPerDim: Int): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .withColumn("cell", cellKeyCol(col(vecCol), lo, hi, cellsPerDim))

  /**
   * Expanding-radius grid probe (reference GridIndex.search,
   * algorithms.py:646-668): the probed neighborhood starts at the
   * query cell and widens one shell at a time until it holds >= 2k
   * candidates or the radius reaches `maxRadius`. Ad hoc, over bounds
   * fitted to `corpus` by one aggregate: the corpus is cell-keyed
   * map-side and probed by [[gridKnnIndexed]], whose radius comes from
   * the per-cell occupancy ([[gridCellCounts]]): one bounds aggregate,
   * one occupancy count and one pruned re-rank however far the probe
   * expands.
   *
   * `gridKnn` (the facade default) is the fixed ±1 probe; this variant
   * restores the reference's guarantee of reaching k results on
   * sparsely-populated neighborhoods.
   */
  def gridKnnExpanding(corpus: DataFrame, qv: Array[Float], idCol: String,
                       vecCol: String, k: Int, metric: String = "euclidean",
                       gridDims: Int = 4, cellsPerDim: Int = 4,
                       maxRadius: Int = 3): DataFrame = {
    require(gridDims >= 2, "gridKnnExpanding needs at least 2 grid dimensions")
    val (lo, hi) = gridBounds(corpus, vecCol, gridDims)
    gridKnnIndexed(cellKeyed(corpus, vecCol, lo, hi, cellsPerDim), lo, hi, qv, idCol, vecCol,
      k, metric, gridDims, cellsPerDim, maxRadius)
  }

  /** Batch twin of [[gridKnnExpanding]]: the corpus is cell-keyed under
    * bounds fitted to it and probed by [[gridKnnIndexedBatch]], every
    * query with its own radius from the one occupancy count. */
  def gridKnnExpandingBatch(corpus: DataFrame, queries: DataFrame, idCol: String,
                            vecCol: String, k: Int, metric: String = "euclidean",
                            gridDims: Int = 4, cellsPerDim: Int = 4,
                            maxRadius: Int = 3): DataFrame = {
    require(gridDims >= 2, "gridKnnExpandingBatch needs at least 2 grid dimensions")
    val (lo, hi) = gridBounds(corpus, vecCol, gridDims)
    gridKnnIndexedBatch(cellKeyed(corpus, vecCol, lo, hi, cellsPerDim), lo, hi, queries,
      idCol, vecCol, k, metric, gridDims, cellsPerDim, maxRadius)
  }

  /** The grid's one radius rule, from a per-cell histogram: the
    * smallest Chebyshev radius whose cumulative occupancy reaches 2k
    * (capped at maxRadius), and the OCCUPIED cells inside it. */
  private def radiusProbe(cellCounts: Seq[(String, Long)], qCells: Seq[Int],
                          k: Int, maxRadius: Int): Seq[String] = {
    val withCheb = cellCounts.map { case (cell, n) =>
      val coords = cell.split(",").map(_.toInt)
      (cell, coords.indices.map(d => math.abs(coords(d) - qCells(d))).max, n)
    }
    val cum = (0 to maxRadius).map(r =>
      withCheb.collect { case (_, cheb, n) if cheb <= r => n }.sum)
    val radius = (0 to maxRadius).find(r => cum(r) >= 2L * k).getOrElse(maxRadius)
    withCheb.collect { case (cell, cheb, _) if cheb <= radius => cell }
  }

  /** Per-cell occupancy of a cell-keyed grid: at most
    * cellsPerDim^gridDims rows, read from the `cell` column only (on a
    * cell-partitioned index, the partition column). Callers serving
    * many queries should compute this once per index generation and
    * pass it to the probes below. */
  def gridCellCounts(index: DataFrame): Seq[(String, Long)] =
    index.groupBy(col("cell")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /**
   * Expanding-radius grid probe against a cell-keyed grid: rows
   * (id, vector) with a `cell` column under fitted bounds — a
   * PRE-BUILT cell-partitioned index (the reference keeps the fitted
   * grid in its index object, algorithms.py:443-686, and so does the
   * library) or the corpus [[gridKnnExpanding]] keys ad hoc. NO corpus
   * aggregate before the probe: the radius comes from per-cell
   * occupancy counts — a partition-column-only aggregate over at most
   * cellsPerDim^gridDims groups (row-group stats, not a data scan) —
   * and the probe scan itself is partition-pruned to the chosen cells
   * at planning time. At 100 TB the query-time I/O is the probed
   * cells, never the corpus.
   */
  def gridKnnIndexed(index: DataFrame, lo: Array[Double], hi: Array[Double],
                     qv: Array[Float], idCol: String, vecCol: String, k: Int,
                     metric: String = "euclidean", gridDims: Int = 4,
                     cellsPerDim: Int = 4, maxRadius: Int = 3,
                     countsOpt: Option[Seq[(String, Long)]] = None): DataFrame = {
    val qCells = qCellsOf(qv.toSeq, lo, hi, gridDims, cellsPerDim)
    val counts = countsOpt.getOrElse(gridCellCounts(index))
    val probe = radiusProbe(counts, qCells, k, maxRadius)
    knnFlat(index.filter(col("cell").isin(probe: _*)), qv, idCol, vecCol, k, metric)
  }

  /** Batch twin of [[gridKnnIndexed]]: a [[probeBatch]] over cells,
    * every query's radius resolved from the SAME per-cell histogram. */
  def gridKnnIndexedBatch(index: DataFrame, lo: Array[Double], hi: Array[Double],
                          queries: DataFrame, idCol: String, vecCol: String, k: Int,
                          metric: String = "euclidean", gridDims: Int = 4,
                          cellsPerDim: Int = 4, maxRadius: Int = 3,
                          countsOpt: Option[Seq[(String, Long)]] = None): DataFrame = {
    val counts = countsOpt.getOrElse(gridCellCounts(index))
    probeBatch(index, Seq("cell"), queries,
      qv => radiusProbe(counts, qCellsOf(qv, lo, hi, gridDims, cellsPerDim), k, maxRadius)
        .map(Seq(_)),
      idCol, vecCol, k, metric)
  }

  /**
   * Batch grid top-k: N queries against the cell-keyed corpus in one
   * pass, a [[probeBatch]] over each query's ±1 neighbor cells (each
   * corpus row has exactly ONE cell, so no per-pair dedup is needed).
   */
  def gridKnnBatch(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                   k: Int, metric: String = "euclidean",
                   gridDims: Int = 4, cellsPerDim: Int = 4): DataFrame = {
    val (lo, hi) = gridBounds(corpus, vecCol, gridDims)
    probeBatch(corpus.withColumn("cell", cellKeyCol(col(vecCol), lo, hi, cellsPerDim)),
      Seq("cell"), queries,
      qv => queryProbeKeys(qv, lo, hi, gridDims, cellsPerDim).map(Seq(_)),
      idCol, vecCol, k, metric)
  }

  /**
   * Metadata-filtered exact k-NN (the reference's per-library search
   * generalized to arbitrary predicates): the filter lands in the scan
   * (partition/row-group pruning at 100 TB), similarity only runs on
   * survivors.
   */
  def knnFiltered(corpus: DataFrame, qv: Array[Float], predicate: Column,
                  idCol: String, vecCol: String, k: Int, metric: String): DataFrame =
    knnFlat(corpus.filter(predicate), qv, idCol, vecCol, k, metric)

  /**
   * Threshold (range) search: every vector with similarity >= minScore.
   * Unlike top-k there is no global ordering bottleneck — pure map-side
   * filter, arbitrarily parallel.
   */
  def rangeSearch(corpus: DataFrame, qv: Array[Float], idCol: String, vecCol: String,
                  minScore: Double, metric: String): DataFrame =
    corpus.select(col(idCol), scoreCol(metric, vecCol, qv).as("score"))
      .filter(col("score") >= minScore)
      .orderBy(col("score").desc, col(idCol).asc)

  /**
   * Quantized two-phase search: int8 approximate scan (4x less data,
   * integer inner loop) takes the top rerankFactor*k candidates, then
   * exact similarity on the float originals ranks the final k.
   * Vectors are L2-normalized before quantization so the approximate
   * dot tracks cosine.
   */
  def knnQuantized(corpus: DataFrame, qv: Array[Float], idCol: String, vecCol: String,
                   k: Int, metric: String = "cosine", rerankFactor: Int = 4): DataFrame = {
    // Ad-hoc path: codes derived on the fly (one quantize per row, same
    // scan that reads the floats), then the probe is identical to the
    // indexed path. With a store, use knnQuantizedIndexed on codes
    // materialized at ingest instead.
    val indexed = corpus.withColumn("__codes", quantizeVec(l2Normalize(col(vecCol))))
    knnQuantizedIndexed(indexed, qv, idCol, vecCol, "__codes", k, metric, rerankFactor)
  }

  /**
   * Quantized two-phase search against PRE-BUILT codes: phase 1 ranks
   * by integer dot over the stored (scale, int8 bytes) column, the
   * exact re-rank scores the rerankFactor*k survivors on the floats.
   * The size rule of [[twoPhaseTopK]] picks one job (a small frame:
   * the shortlist carries its floats, the re-rank runs on the driver)
   * or two (phase 1 reads the codes only, phase 2 re-reads the
   * survivors through a pushed id In-filter).
   */
  def knnQuantizedIndexed(indexed: DataFrame, qv: Array[Float], idCol: String,
                          vecCol: String, codesCol: String, k: Int,
                          metric: String = "cosine", rerankFactor: Int = 4): DataFrame =
    twoPhaseTopK(indexed, quantizedDot(col(codesCol), queryCodes(qv)), ascending = false,
      k * rerankFactor, qv, idCol, vecCol, k, metric)

  /** Whether `phase1` (planned with the float vectors) should run as
    * planned: Catalyst's size estimate of the relations it scans (for
    * graft's trees the manifest's byte count, read without I/O) is at
    * most Spark's small-relation threshold,
    * `spark.sql.autoBroadcastJoinThreshold` (negative: never). A
    * relation with no estimate (`defaultSizeInBytes`) is not small.
    * The library holds a tree in driver memory by the same rule, under
    * a lower `cap`. */
  private[graft] def scansSmall(phase1: DataFrame, cap: Long = Long.MaxValue): Boolean = {
    val conf = phase1.sparkSession.sessionState.conf
    val size = phase1.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum
    size <= math.min(conf.autoBroadcastJoinThreshold, cap) && size < conf.defaultSizeInBytes
  }

  /**
   * A two-phase single-query top-k. Phase 1 ranks `rows` by the
   * approximate score `approx` (ties by id ascending) and keeps the
   * first `shortlist` distinct ids; the exact re-rank scores them with
   * [[scoreCol]] and keeps k. An id occurs in `rows` at most `copies`
   * times, all with one score (the partitioned lsh index holds a row
   * per table), so the first shortlist·copies rows hold the first
   * `shortlist` ids.
   *
   * The form follows where `rows` live:
   *  - in driver memory (a resident library tree: a local relation),
   *    NO job: phase 1 is ordered on the driver ([[localTop]]), so is
   *    the re-rank, and the result is a local frame.
   *  - a small frame ([[scansSmall]]), ONE job: phase 1 is a
   *    TakeOrderedAndProject that carries id and vector; the re-rank
   *    runs on the driver and the result is a local frame.
   *  - otherwise, TWO jobs: phase 1 collects the ids only; phase 2
   *    re-reads them through a pushed In-filter (row-group point reads
   *    on an id-clustered store).
   * All forms return the same rows, scores and schema.
   */
  private[operators] def twoPhaseTopK(rows: DataFrame, approx: Column, ascending: Boolean,
                                      shortlist: Int, qv: Array[Float], idCol: String,
                                      vecCol: String, k: Int, metric: String,
                                      copies: Int = 1): DataFrame = {
    val a = col("__approx")
    val order = Seq(if (ascending) a.asc else a.desc, col(idCol).asc)
    def phase1(carried: Column*): DataFrame = rows.select(carried :+ approx.as("__approx"): _*)
    def ranked(scored: DataFrame): DataFrame = scored.orderBy(order: _*).limit(shortlist * copies)
    val withVectors = phase1(col(idCol), col(vecCol))
    // the exact re-rank of a shortlist held on the driver
    def rerank(top: Array[Row]): DataFrame =
      knnFlat(localFrame(firstDistinct(top, shortlist, copies), withVectors),
        qv, idCol, vecCol, k, metric)
    localTop(withVectors, shortlist * copies, order: _*).map(rerank).getOrElse {
      if (scansSmall(withVectors)) rerank(ranked(withVectors).collect())
      else {
        val ids = firstDistinct(ranked(phase1(col(idCol))).collect(), shortlist, copies)
          .map(_.get(0))
        val survivors = if (ids.isEmpty) rows.limit(0) else rows.filter(col(idCol).isin(ids: _*))
        val exact = knnFlat(survivors, qv, idCol, vecCol, k * copies, metric)
        if (copies == 1) exact else localFrame(firstDistinct(exact.collect(), k, copies), exact)
      }
    }
  }

  /** The first `n` rows of `ranked` with distinct ids (column 0): with
    * `copies` > 1, an id's occurrences share one score, so they sit
    * next to each other in the order. */
  private def firstDistinct(ranked: Array[Row], n: Int, copies: Int): Array[Row] =
    if (copies == 1) ranked else ranked.distinctBy(_.get(0)).take(n)

  /** `rows` as a local frame with `like`'s schema: a collect of it
    * reads it in the driver, with no job. */
  private def localFrame(rows: Array[Row], like: DataFrame): DataFrame =
    like.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)

  /** A batch's (query_id, qvec) rows on the driver: the query side is
    * small by contract. */
  private[operators] def queryVectors(queries: DataFrame): Seq[(Long, Array[Float])] =
    queries.select(col("query_id"), col("qvec")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /**
   * The two-phase batch, the batch twin of [[twoPhaseTopK]]. `phase1`
   * scores rows against the query vectors `qvs` (the
   * [[queryVectors]] of `queries`) approximately, as
   * (query_id, id, score), higher first — with the query side as
   * literals ([[literalPhase1]]), as a single search scores its
   * query, so phase 1 broadcasts nothing. Each query's first
   * `shortlist` ids (ties by id ascending) are collected once, as
   * (query_id, id) pairs, into a local frame. Their ids are pushed
   * into the float scan of `rows` as an In-filter (row-group point
   * reads on an id-clustered store), a broadcast of the local pairs
   * attributes the survivors to their queries, and the [[exactTail]]
   * ranks. No query or an empty shortlist: no rows.
   */
  private[operators] def twoPhaseBatch(rows: DataFrame, queries: DataFrame,
                                       qvs: Seq[(Long, Array[Float])], shortlist: Int,
                                       idCol: String, vecCol: String, k: Int, metric: String)(
                                       phase1: => DataFrame): DataFrame = {
    lazy val top = finishPerQueryTopK(phase1, idCol, shortlist, ordered = false)
      .select(col("query_id"), col(idCol))
    val pairs = if (qvs.isEmpty) Array.empty[Row] else top.collect()
    val ids = pairs.map(_.get(1)).distinct
    if (ids.isEmpty)
      rows.limit(0).crossJoin(broadcast(queries.select(col("query_id"))))
        .select(col("query_id"), col(idCol), lit(0.0).as("score"), lit(0).as("rank"))
    else exactTail(rows.filter(col(idCol).isin(ids: _*)).join(broadcast(localFrame(pairs, top)),
      idCol), queries, idCol, vecCol, k, metric)
  }

  /** Phase 1 of a [[twoPhaseBatch]]: each row of `rows` once per
    * (query_id `_1`, query value `_2`) struct of the array `side`,
    * scored `approx(value)` as (query_id, id, score). */
  private[operators] def literalPhase1(rows: DataFrame, side: Column, idCol: String)(
                                       approx: Column => Column): DataFrame =
    rows.select(col("*"), explode(side).as("__q"))
      .select(col("__q._1").as("query_id"), col(idCol), approx(col("__q._2")).as("score"))

  /** The `side` of a [[literalPhase1]] whose query value is `code(qv)`:
    * unary expressions over literals, which constant folding evaluates
    * once, at planning. */
  private def codesSide(qvs: Seq[(Long, Array[Float])], code: Column => Column): Column =
    array(qvs.map { case (qid, qv) => struct(lit(qid).as("_1"), code(typedLit(qv)).as("_2")) }: _*)

  /** Batch two-phase quantized top-k: ONE int8 scan scores every query
    * (the phase-1 shuffle carries k*rerankFactor bounded-heap partials
    * per query per partition), then the [[twoPhaseBatch]] re-rank. */
  def knnQuantizedBatch(indexed: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, codesCol: String, k: Int,
                        metric: String = "cosine", rerankFactor: Int = 4): DataFrame = {
    val qvs = queryVectors(queries)
    twoPhaseBatch(indexed, queries, qvs, k * rerankFactor, idCol, vecCol, k, metric)(
      literalPhase1(indexed, codesSide(qvs, q => quantizeVec(l2Normalize(q))), idCol)(
        q => quantizedDot(col(codesCol), q).cast("double")))
  }

  /**
   * Binary (1-bit) quantized two-phase search: phase 1 ranks by
   * Hamming distance over PACKED SIGN BITS — for a 64-dim embedding
   * the entire code is ONE long (32x narrower than the float column),
   * and the kernel is XOR + popcount, the cheapest similarity that
   * exists. Sign agreement on L2-normalized vectors is 1-bit
   * random-projection LSH with axis-aligned planes, so the Hamming
   * shortlist correlates with angular rank; phase 2 re-ranks the
   * rerankFactor*k survivors exactly on the floats. Hamming ties are
   * broken by id ascending (ties are COMMON with 64-bit codes — the
   * determinism contract matters more here than anywhere else).
   * Reference analog: the quantization rung below int8
   * (vector_db/similarity.py scores full floats; this is the scale
   * path its in-memory design never needed).
   */
  def knnBinary(corpus: DataFrame, qv: Array[Float], idCol: String, vecCol: String,
                k: Int, metric: String = "cosine", rerankFactor: Int = 8): DataFrame = {
    val indexed = corpus.withColumn("__bits", bitPack(col(vecCol)))
    knnBinaryIndexed(indexed, qv, idCol, vecCol, "__bits", k, metric, rerankFactor)
  }

  /** Binary search against PRE-BUILT packed codes: phase 1 ranks by
    * Hamming distance over the codes column (8 bytes/row at 64 dims),
    * the exact re-rank scores the shortlist on the floats — in one job
    * or two, by the size rule of [[twoPhaseTopK]].
    *
    * `qv` is ONE query vector (the convention of every single-query
    * operator in this file); [[knnBinaryBatch]] is the multi-query
    * path. The query's sign bits are a unary expression over a
    * literal, which constant folding evaluates once, at planning. */
  def knnBinaryIndexed(indexed: DataFrame, qv: Array[Float], idCol: String,
                       vecCol: String, codesCol: String, k: Int,
                       metric: String = "cosine", rerankFactor: Int = 8): DataFrame =
    twoPhaseTopK(indexed, bitHamming(col(codesCol), bitPack(typedLit(qv))), ascending = true,
      k * rerankFactor, qv, idCol, vecCol, k, metric)

  /** Batch binary top-k: ONE codes scan serves every query, then the
    * [[twoPhaseBatch]] re-rank. */
  def knnBinaryBatch(indexed: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, codesCol: String, k: Int,
                     metric: String = "cosine", rerankFactor: Int = 8): DataFrame = {
    val qvs = queryVectors(queries)
    twoPhaseBatch(indexed, queries, qvs, k * rerankFactor, idCol, vecCol, k, metric)(
      hammingPhase1(indexed, qvs, idCol, codesCol))
  }

  /** Phase 1 of the binary batch: Hamming distances, negated so the
    * shared descending heap ranks nearest first. */
  private def hammingPhase1(indexed: DataFrame, qvs: Seq[(Long, Array[Float])], idCol: String,
                            codesCol: String): DataFrame =
    literalPhase1(indexed, codesSide(qvs, bitPack), idCol)(
      q => -bitHamming(col(codesCol), q).cast("double"))

  /**
   * Accuracy self-audit of the binary rung: recall@k of the Hamming
   * shortlist + exact re-rank versus the exact scan, swept over
   * rerank factors — the "how wide must the shortlist be" dial a user
   * tunes before trusting 1-bit codes at scale. ONE codes scan at the
   * DEEPEST factor serves every swept factor (shallower shortlists
   * are prefixes of the deepest ranking — same single-scan shape as
   * the IVF/IVF-PQ sweeps); candidates fan to the factors whose
   * window admits them via a composite (query, factor) heap key.
   */
  def binaryRecallSweep(indexed: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, codesCol: String, k: Int,
                        factors: Seq[Int] = Seq(2, 4, 8),
                        metric: String = "cosine"): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val sweep = factors.distinct.sorted
    require(sweep.nonEmpty && sweep.head >= 1 && sweep.last < 1000,
      "rerank factors must be in [1, 999]")
    // composite-key fan (qid*1000 + factor) requires NON-NEGATIVE
    // numeric query ids — the same contract as the IVF/IVF-PQ sweeps
    // (DIV truncates toward zero for negatives while pmod stays
    // positive, which would cross-attribute results)
    require(queries.schema("query_id").dataType ==
        org.apache.spark.sql.types.LongType,
      "binaryRecallSweep needs long query ids (non-negative)")
    // Enforce the documented non-negativity at runtime: the query set
    // is small by contract, so this is one tiny aggregate — without it
    // a negative id silently cross-attributes results (DIV truncates
    // toward zero while pmod stays positive).
    val minQ = queries.agg(min(col("query_id"))).head
    require(minQ.isNullAt(0) || minQ.getLong(0) >= 0L,
      "binaryRecallSweep needs non-negative query ids")
    val short = finishPerQueryTopK(hammingPhase1(indexed, queryVectors(queries), idCol,
        codesCol), idCol, sweep.last * k, ordered = false)
      .select(col("query_id"), col(idCol), col("rank").as("h_rank"))
    val scored = indexed.join(broadcast(short), Seq(idCol))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .select(col("query_id"), col(idCol), col("h_rank"),
        batchScoreCol(metric, vecCol).as("score"))
    val atFactor = scored.select(col("query_id").as("qid"),
        explode(filter(typedLit(sweep.map(_.toLong)),
          f => f * k >= col("h_rank"))).as("f"),
        col(idCol), col("score"))
      .select((col("qid") * 1000 + col("f")).as("query_id"), col(idCol), col("score"))
    val approx = finishPerQueryTopK(atFactor, idCol, k, ordered = false)
      .select(expr("query_id DIV 1000").as("query_id"),
        pmod(col("query_id"), lit(1000L)).cast("int").as("factor"), col(idCol))
    val exact = knnBatch(indexed.select(col(idCol), col(vecCol)),
      queries, idCol, vecCol, k, metric)
      .select(col("query_id"), col(idCol))
    val hits = approx.join(exact, Seq("query_id", idCol))
      .groupBy(col("query_id"), col("factor")).agg(count(lit(1)).as("nhits"))
    queries.select(col("query_id")).crossJoin(sweep.toDF("factor"))
      .join(hits, Seq("query_id", "factor"), "left")
      .select(col("query_id"), col("factor"),
        round(coalesce(col("nhits"), lit(0L)).cast("double") / k, 6).as("recall"))
      .orderBy(col("query_id").asc, col("factor").asc)
  }

  /**
   * Bit-balance audit of the binary codes — the index-health view of
   * the 1-bit rung: per-dimension fraction of vectors whose sign bit
   * is set. Balanced bits (~0.5) discriminate; a dimension stuck near
   * 0 or 1 contributes nothing to Hamming distance, so a skewed
   * profile says "this corpus needs centering (or more rerank width)
   * before the 1-bit codes can be trusted". One explode + a 64-key
   * aggregate with map-side partials.
   */
  def binaryIndexInfo(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    emb.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vectors"),
        // floor-form quant6: a count ratio CAN land on a decimal
        // half-boundary where BigDecimal half-up and binary rounding
        // disagree; the floor form is identical on both engines
        graft.operators.TextAnalysis.quant6(
          count(when(col("x") > 0, 1)).cast("double") / count(lit(1)))
          .as("positive_frac"))
      .orderBy(col("dim").asc)
  }

  /**
   * Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
   * diversity-aware top-k for RAG-style retrieval — greedily select
   * the candidate maximizing lambda*relevance - (1-lambda)*max
   * similarity to the already-selected set, so near-duplicate hits
   * stop crowding out coverage. Two stages: a DISTRIBUTED relevance
   * shortlist (TakeOrderedAndProject over the corpus scan — the
   * 100 TB-scale part), then the inherently sequential greedy
   * selection over the `shortlist`-row candidate set on the driver
   * (a k-scale query set, same collect policy as every query-side
   * table here; the selection is O(shortlist^2 * k) double math over
   * 40 rows). Every float comparison replays the engine's exact
   * fold (VectorOps.cosineArr), so the DuckDB recursive-CTE oracle
   * matches bit-for-bit: objective compares RAW doubles, output rel
   * rounds to 6 dp, ties break by id ascending.
   */
  def mmrRerank(corpus: DataFrame, qv: Array[Float], idCol: String, vecCol: String,
                k: Int = 10, lambda: Double = 0.7, shortlist: Int = 40): DataFrame = {
    val spark = corpus.sparkSession
    val oneMinus = 1.0 - lambda
    // the shortlist must cover k: a k wider than the default window
    // widens the window rather than silently truncating the result
    val window = math.max(shortlist, k)
    val shortRows = corpus
      .select(col(idCol).as("id"),
        // double-aware extraction: float and double corpora both read
        // back as Seq[Double] (same widening every other scan op does)
        col(vecCol).cast("array<double>").as("__v"),
        cosineSim(col(vecCol), typedLit(qv)).as("rel"))
      .orderBy(col("rel").desc, col("id").asc)
      .limit(window)
      .collect()
    val ids = shortRows.map(_.get(0))
    val vecs = shortRows.map(_.getSeq[Double](1).toArray)
    val rels = shortRows.map(_.getDouble(2))
    val selected = mmrSelect(ids, vecs, rels, k, lambda)
    // preserve the caller's id type (long vec_id, string chunk_id, ...)
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType, DoubleType}
    val schema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      corpus.schema(idCol),
      StructField("rel", DoubleType, nullable = false)))
    val rows = selected.zipWithIndex.map { case (i, r) =>
      org.apache.spark.sql.Row(r + 1, ids(i),
        graft.functions.VectorOps.roundTo(rels(i), 6)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** objective ties break by id ASCENDING (the oracle's ORDER BY
    * obj DESC, id ASC) — NOT by shortlist scan order, which is
    * (rel desc, id asc) and would keep the higher-rel candidate */
  @inline private def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)     => x < y
    case (x: Int, y: Int)       => x < y
    case (x: String, y: String) => x < y
    case _ => throw new IllegalArgumentException(
      s"unsupported id type for MMR tie-break: ${a.getClass}")
  }

  /** The sequential MMR greedy over ONE query's shortlist (rows
    * already sorted rel desc, id asc): selected indices in selection
    * order. Shared verbatim by the single-query and batch forms so
    * their selection orders cannot diverge. */
  private def mmrSelect(ids: Array[Any], vecs: Array[Array[Double]],
                        rels: Array[Double], k: Int,
                        lambda: Double): Seq[Int] = {
    val oneMinus = 1.0 - lambda
    val n = ids.length
    val selected = scala.collection.mutable.ArrayBuffer[Int]()
    val inSel = new Array[Boolean](n)
    var exhausted = false
    while (!exhausted && selected.length < math.min(k, n)) {
      var best = -1
      var bestObj = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!inSel(i)) {
          val obj =
            if (selected.isEmpty) lambda * rels(i)
            else {
              var maxSim = Double.NegativeInfinity
              selected.foreach { j =>
                val s = graft.functions.VectorOps.cosineArr(vecs(i), vecs(j))
                if (s > maxSim) maxSim = s
              }
              lambda * rels(i) - oneMinus * maxSim
            }
          if (obj > bestObj || (obj == bestObj && best >= 0 && idLess(ids(i), ids(best)))) {
            bestObj = obj; best = i
          }
        }
        i += 1
      }
      // Degenerate shortlist (every remaining objective NaN — e.g. a
      // NaN component in a stored vector): return the picks so far
      // instead of dereferencing index -1.
      if (best < 0) exhausted = true
      else { inSel(best) = true; selected += best }
    }
    selected.toSeq
  }

  /**
   * Batch twin of [[mmrRerank]]: N queries' shortlists from ONE
   * corpus scan (the bounded per-query heap — shuffle carries
   * `shortlist` (id, rel) partials per query per partition, never
   * vectors), the union of shortlist ids resolved driver-side and
   * their vectors fetched once as an In-filter point read (the
   * phase-2 discipline), then the per-query sequential greedy over
   * k-scale candidates. Selection order per query is IDENTICAL to
   * the single-query form by shared-code construction. Rows:
   * (query_id, rank, id, rel) in selection order per query.
   */
  def mmrRerankBatch(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int = 10, lambda: Double = 0.7,
                     shortlist: Int = 40): DataFrame = {
    val spark = corpus.sparkSession
    val window = math.max(shortlist, k)
    val phase1 = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col(idCol),
        cosineSim(col(vecCol), col("qvec")).as("score"))
    val candRows = finishPerQueryTopK(phase1, idCol, window, ordered = false)
      .select(col("query_id"), col(idCol), col("score")).collect()
    val ids = candRows.map(_.get(1)).distinct.toSeq
    val fetched =
      if (ids.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else corpus.filter(col(idCol).isin(ids: _*))
        .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
        .collect()
    // the greedy needs ONE vector per id: a duplicate id would
    // silently pick an arbitrary one (the single-query form keeps
    // each row's own vector) — surface the contract loudly instead
    val dup = fetched.groupBy(_.get(0)).collectFirst {
      case (id, rs) if rs.length > 1 => id }
    require(dup.isEmpty,
      s"mmrRerankBatch: corpus has multiple rows for $idCol=${dup.get}" +
      " — batch rerank requires unique ids (use mmrRerank per query" +
      " for duplicate-id corpora)")
    val vecMap: Map[Any, Array[Double]] =
      fetched.map(r => r.get(0) -> r.getSeq[Double](1).toArray).toMap
    val perQuery = candRows.groupBy(_.get(0)).toSeq
      .sortWith((a, b) => idLess(a._1, b._1))
    val out = perQuery.flatMap { case (qid, rows) =>
      // same candidate order the single-query scan produces
      val sorted = rows.sortWith { (a, b) =>
        val sa = a.getDouble(2); val sb = b.getDouble(2)
        if (sa != sb) sa > sb else idLess(a.get(1), b.get(1))
      }
      val ids = sorted.map(_.get(1))
      val rels = sorted.map(_.getDouble(2))
      val vecs = ids.map(id => vecMap.getOrElse(id,
        throw new IllegalStateException(
          s"mmrRerankBatch: shortlist id $id vanished from the corpus " +
          "between phase 1 and the vector point read (concurrent " +
          "mutation?)")))
      mmrSelect(ids, vecs, rels, k, lambda).zipWithIndex.map { case (i, r) =>
        org.apache.spark.sql.Row(qid, r + 1, ids(i),
          graft.functions.VectorOps.roundTo(rels(i), 6))
      }
    }
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType, DoubleType}
    val schema = StructType(Seq(
      queries.schema("query_id"),
      StructField("rank", IntegerType, nullable = false),
      corpus.schema(idCol),
      StructField("rel", DoubleType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /**
   * Grid-index health: cell-occupancy histogram of the uniform grid
   * over the leading `gridDims` dimensions (reference
   * GridIndex.get_stats, algorithms.py:688 — total/avg/max/empty
   * cells, surfaced via vector_service.py:394 get_library_index_info).
   * Fully SQL-expressible, so the DuckDB oracle verifies it exactly:
   * bounds are one partial-aggregated pass, the cell key is map-side
   * double arithmetic (bit-identical across engines), and the
   * histogram is two tiny aggregates.
   */
  def gridIndexInfo(emb: DataFrame, vecCol: String = "embedding",
                    gridDims: Int = 4, cellsPerDim: Int = 4): DataFrame = {
    val boundCols = (0 until gridDims).flatMap { d =>
      val x = col(vecCol).getItem(d).cast("double")
      Seq(min(x).as(s"lo$d"), max(x).as(s"hi$d"))
    }
    val bounds = emb.agg(boundCols.head, boundCols.tail: _*)
    def cellOf(d: Int): Column = {
      val x = col(vecCol).getItem(d).cast("double")
      val range = greatest(col(s"hi$d") - col(s"lo$d"), lit(1.0e-12))
      least(greatest(floor((x - col(s"lo$d")) / range * cellsPerDim), lit(0)),
        lit(cellsPerDim - 1)).cast("int")
    }
    val perCell = emb.crossJoin(broadcast(bounds))
      .select(concat_ws(",", (0 until gridDims).map(cellOf): _*).as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_size"))
    val totalCells = math.pow(cellsPerDim.toDouble, gridDims.toDouble).toInt
    perCell.agg(
      count(lit(1)).as("occupied_cells"),
      graft.operators.TextAnalysis.quant6(avg(col("cell_size"))).as("avg_cell_size"),
      max(col("cell_size")).as("max_cell_size"))
      .withColumn("total_cells", lit(totalCells))
      .withColumn("empty_cells", lit(totalCells.toLong) - col("occupied_cells"))
  }

  /** Index-stats analog of the reference's get_stats(): per-label shape. */
  def vectorStats(emb: DataFrame): DataFrame = {
    emb.groupBy(col("label"))
      .agg(
        count(lit(1)).as("vector_count"),
        max(size(col("embedding"))).as("dimension"),
        round(min(vecNorm(col("embedding"))), 6).as("min_norm"),
        round(max(vecNorm(col("embedding"))), 6).as("max_norm"),
        round(avg(vecNorm(col("embedding"))), 6).as("avg_norm"))
      .orderBy(col("label").asc)
  }

  /**
   * Symmetric int8 scalar quantization: per-vector scale = max|x|/127,
   * q_i = round(x_i/scale). 4x memory reduction for a 100 TB corpus
   * (float32 -> int8 + one scale), with exact re-rank on the float
   * originals for the survivors. Map-side only.
   */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val vD = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val withScale = vD.select(col("vec_id"), col("v"),
      (array_max(transform(col("v"), x => abs(x))) / lit(127.0)).as("s"))
    // Output exploded to (vec_id, pos, qval, scale): scalar columns only,
    // so the verification harness can sort/hash rows without array types.
    withScale.select(col("vec_id"),
      round(col("s"), 9).as("scale"),
      posexplode(transform(col("v"), x => round(x / col("s")).cast("int")))
        .as(Seq("pos", "qval")))
      .select(col("vec_id"), col("pos"), col("qval"), col("scale"))
      .orderBy(col("vec_id").asc, col("pos").asc)
  }

  /** L2-normalized embedding column (dot == cosine fast path),
    * exploded to (vec_id, pos, unit_val, norm) scalar rows. */
  def normalized(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"),
      round(vecNorm(col("embedding")), 6).as("norm"),
      posexplode(transform(l2Normalize(col("embedding")), x => round(x, 6)))
        .as(Seq("pos", "unit_val")))
      .select(col("vec_id"), col("pos"), col("unit_val"), col("norm"))
      .orderBy(col("vec_id").asc, col("pos").asc)
  }
}
