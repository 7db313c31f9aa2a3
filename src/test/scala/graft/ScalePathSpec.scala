package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IvfIndex, IvfPq, VectorSearch}

/**
 * Round-3 scale paths: top-k rewrite rule, indexed LSH/quantized
 * probes, LSH-blocked embedding dedup, and skew-proof clustering.
 */
class ScalePathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")

  /** Manifest-planned read of an index tree — what the library's own
    * probes see. Raw listing reads would also adopt the copy-on-write
    * victim bytes deletes now RETAIN on disk for restoreTo. */
  private def manifestRead(dir: String,
      parts: (String, org.apache.spark.sql.types.DataType)*)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    new graft.plans.ManifestedTree(spark, dir,
      StructType(parts.map { case (n, t) => StructField(n, t) })).open()
  }

  test("topk rewrite (safe): non-nullable rank-k window becomes a graft_topk aggregate") {
    SparkEntry.configure(spark)
    // hash() is non-nullable (unlike % — modulo is nullable under
    // non-ANSI division-by-zero semantics), so safe mode can fire.
    val df = spark.range(1000).select(
      (col("id") % 10).as("g"), col("id").as("id"),
      hash(col("id")).cast("double").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val q = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)

    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_topk"), s"no rewrite in:\n$opt")
    assert(!opt.contains("Window"), s"window survived in:\n$opt")

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    val got = rows(q)
    spark.conf.set("spark.graft.topk.rewrite", "off")
    try {
      val exp = rows(df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5))
      assert(got.sameElements(exp))
    } finally spark.conf.set("spark.graft.topk.rewrite", "safe")
  }

  test("topk rewrite (eager): knnBatch window plan runs as ObjectHashAggregate, unchanged results") {
    // Own session: conf flips must not leak into concurrently-running suites.
    val s2 = SparkEntry.configure(spark.newSession())
    val e2 = Tables.load(s2, SparkTestSession.sfDir, "embeddings")
    val qs = e2.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val corpus = e2.filter(col("vec_id") >= 3)
    // the rank-window top-k: per query, the 5 best by score, id tie-break
    def run() = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      corpus.join(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          round(VectorSearch.similarity("cosine", col("embedding"), col("qvec")), 6).as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy(col("query_id").asc, col("rank").asc)
    }
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

    s2.conf.set("spark.graft.topk.rewrite", "eager")
    val rewritten = run()
    val phys = rewritten.queryExecution.executedPlan.toString
    assert(phys.contains("ObjectHashAggregate"), s"no aggregate in:\n$phys")
    assert(!phys.contains("Window"), s"window exchange survived in:\n$phys")
    val got = rows(rewritten)

    s2.conf.set("spark.graft.topk.rewrite", "off")
    val exp = rows(run())
    assert(got.sameElements(exp), "rewrite changed the window top-k results")
  }

  test("topk rewrite leaves non-matching window queries untouched") {
    SparkEntry.configure(spark)
    // two window expressions over one spec (the q4 shape) must not match
    val orders = Tables.load(spark, SparkTestSession.sfDir, "orders")
    val q4 = operators.Relational.q4(orders)
    assert(q4.queryExecution.optimizedPlan.toString.contains("Window"))
    assert(q4.count() > 0)
  }

  test("indexed quantized probe: phase 1 scans stored codes only") {
    val corpus = emb.filter(col("vec_id") =!= 0)
      .withColumn("codes", GraftFunctions.quantizeVec(GraftFunctions.l2Normalize(col("embedding"))))
    val codesStore = corpus.select(col("vec_id"), col("embedding"), col("codes"))
    val q = QueryVectors.of(emb, 0)
    val got = VectorSearch.knnQuantizedIndexed(codesStore, q, "vec_id", "embedding", "codes", 10)
      .collect().map(_.getLong(0))
    val exact = VectorSearch.knnFlat(emb.filter(col("vec_id") =!= 0), q,
      "vec_id", "embedding", 10, "cosine").collect().map(_.getLong(0))
    // recall@10 of the two-phase path against the exact scan
    val recall = got.count(exact.contains).toDouble / exact.length
    assert(recall >= 0.9, s"recall@10=$recall")
  }

  test("two-phase single searches: one job under the small-relation threshold, two above it, one answer") {
    import graft.operators.PqIndex
    import org.apache.spark.sql.{Column, DataFrame}
    val corpus = emb.filter(col("vec_id") >= 3)
    def written(df: DataFrame, parts: String*): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft-two-phase").toString
      df.write.mode("overwrite").partitionBy(parts: _*).parquet(dir)
      spark.read.parquet(dir)
    }
    val codes = written(corpus.select(col("vec_id"), col("embedding"),
      GraftFunctions.quantizeVec(GraftFunctions.l2Normalize(col("embedding"))).as("codes"),
      GraftFunctions.bitPack(col("embedding")).as("bits")))
    val books = PqIndex.train(corpus, "embedding", m = 4, kk = 8)
    val pq = written(PqIndex.encodeExact(corpus.select(col("vec_id"), col("embedding")),
      "embedding", books))
    val ivfPath = java.nio.file.Files.createTempDirectory("graft-two-phase-ivfpq").toString
    IvfPq.writeIndex(IvfPq.train(corpus.select(col("vec_id"), col("embedding")), "embedding"),
      ivfPath)
    val ivfpq = IvfPq.Index(IvfPq.readCenters(spark, ivfPath), IvfPq.readBooks(spark, ivfPath),
      spark.read.parquet(s"$ivfPath/encoded"))
    val root = java.nio.file.Files.createTempDirectory("graft-two-phase-lib").toString
    val lib = new VectorLibrary(spark, root, "two-phase")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40))
    lib.buildPartitionedIndex()
    val queries = Seq(0L, 1L, 2L).map(QueryVectors.of(emb, _))
    val texts = Seq("spark join stream table filter", "tokenize documents fast", "hash scan")
    // 64-bit sign codes tie often: the binary shortlist's boundary is
    // decided by the id tie-break in both forms
    val hamming = codes.select(GraftFunctions.bitHamming(col("bits"),
      GraftFunctions.bitPack(typedLit(queries.head))).as("h"))
    assert(hamming.groupBy("h").count().filter(col("count") > 1).count() > 0)
    // each kernel over query i, with `rows` narrowing its frame
    val kernels = Seq[(String, (Int, Column) => DataFrame)](
      "quantized" -> ((i: Int, rows: Column) => VectorSearch.knnQuantizedIndexed(codes.filter(rows),
        queries(i), "vec_id", "embedding", "codes", 10)),
      "binary" -> ((i: Int, rows: Column) => VectorSearch.knnBinaryIndexed(codes.filter(rows), queries(i),
        "vec_id", "embedding", "bits", 10)),
      "pq" -> ((i: Int, rows: Column) => PqIndex.search(pq.filter(rows), books, queries(i), "vec_id",
        "embedding", 10)),
      "ivfpq" -> ((i: Int, rows: Column) => IvfPq.search(ivfpq.copy(encoded = ivfpq.encoded.filter(rows)),
        queries(i), "vec_id", "embedding", 10)),
      "lsh quantized" -> ((i: Int, rows: Column) => lib.searchApproxQuantized(texts(i), 10,
        filter = Some(rows))))
    def run(search: => DataFrame) = SparkJobs.count(spark) {
      val f = search
      (f.schema, f.collect().toSeq)
    }
    for ((name, kernel) <- kernels; i <- queries.indices) {
      run(kernel(i, lit(true))) // warm
      val ((schema1, rows1), jobs1) = run(kernel(i, lit(true)))
      val ((schema2, rows2), jobs2) = SparkTestSession.twoJobForm(run(kernel(i, lit(true))))
      assert(rows1.nonEmpty && rows1 == rows2, s"$name: one-job $rows1, two-job $rows2")
      assert(schema1 == schema2, s"$name: one-job $schema1, two-job $schema2")
      assert((jobs1, jobs2) == (1, 2), s"$name: $jobs1 jobs in one-job form, $jobs2 in two-job")
    }
    // an empty shortlist: both forms answer no rows, under one schema
    for ((name, kernel) <- kernels) {
      val none = if (name == "lsh quantized") col("source") === "no such source"
        else col("vec_id") < 0
      val ((schema1, rows1), _) = run(kernel(0, none))
      val ((schema2, rows2), _) = SparkTestSession.twoJobForm(run(kernel(0, none)))
      assert(rows1.isEmpty && rows2.isEmpty, s"$name: $rows1 / $rows2")
      assert(schema1 == schema2, s"$name (empty): one-job $schema1, two-job $schema2")
    }
    lib.delete()
  }

  test("binary probe: recall against exact, and phase 1 reads bits not floats") {
    // write a store so the scan's ReadSchema is observable
    val dir = java.nio.file.Files.createTempDirectory("graft-bits").toString
    emb.filter(col("vec_id") =!= 0)
      .withColumn("bits", GraftFunctions.bitPack(col("embedding")))
      .write.mode("overwrite").parquet(dir)
    val store = spark.read.parquet(dir)
    val q = QueryVectors.of(emb, 0)
    def search() = VectorSearch.knnBinaryIndexed(store, q, "vec_id", "embedding", "bits", 10)
    // above the small-relation threshold (here: none), the two-job form
    val (got, ids) = SparkTestSession.twoJobForm {
      val got = search()
      (got, got.collect().map(_.getLong(0)))
    }
    val exact = VectorSearch.knnFlat(emb.filter(col("vec_id") =!= 0), q,
      "vec_id", "embedding", 10, "cosine").collect().map(_.getLong(0))
    val recall = ids.count(exact.contains).toDouble / exact.length
    // 64-bit sign codes are the coarsest rung: the shortlist must
    // still recover the bulk of the true top-10 before exact re-rank
    assert(recall >= 0.5, s"recall@10=$recall")
    // phase 1 is bits-only BY CONSTRUCTION (it projects (id, codes)
    // before the eager shortlist resolve); the RETURNED plan is phase
    // 2, whose scan must carry the shortlist as a PUSHED In-filter on
    // the id column (row-group point reads on an id-clustered store)
    // — not a full-store semi-join.
    val plan = got.queryExecution.executedPlan.toString
    val p2 = plan.split("\n").filter(_.contains("PushedFilters"))
    assert(p2.exists(l => l.contains("In(vec_id") || l.contains("vec_id IN")),
      s"phase-2 scan lost the pushed id shortlist filter:\n$plan")
    // the store is under the default threshold: the one-job form
    val one = SparkJobs.assertOneJobSearch(spark)(search(), "vec_id", "embedding")
    assert(one.map(_.getLong(0)).toSeq == ids.toSeq)
  }

  test("IvfPq.encodeFast (native bulk encode) probes identically to the exact-fold encode") {
    val corpus = emb.filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
    val q = QueryVectors.of(emb, 0)
    val (model, _) = IvfIndex.build(corpus, "embedding")
    val geo = IvfPq.trainFrom(model, corpus, "embedding")
    val slow = IvfPq.Index(geo.centers, geo.books,
      IvfPq.encodeFrozen(corpus, "embedding", geo.centers, geo.books))
    val fast = IvfPq.Index(geo.centers, geo.books,
      IvfPq.encodeFast(corpus, "embedding", model, geo.books))
    val rs = IvfPq.search(slow, q, "vec_id", "embedding", 10, metric = "cosine")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rf = IvfPq.search(fast, q, "vec_id", "embedding", 10, metric = "cosine")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rs == rf, "fast bulk encode changed probe results")
  }

  test("winnow/minhash pair audits evaluate their sketch kernel only inside the pinned frame") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // Live nodes of the executed plan, NOT descending into cached
    // relations: if the sketch frame is pinned, every consumer reads
    // the cache and the kernel expression appears in no live node.
    def liveNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => liveNodes(a.executedPlan)
      case q: QueryStageExec => liveNodes(q.plan)
      case i: InMemoryTableScanExec => Seq(i)
      case other => other +: other.children.flatMap(liveNodes)
    }
    def assertPinned(df: org.apache.spark.sql.DataFrame, kernel: String): Unit = {
      df.collect()
      val live = liveNodes(df.queryExecution.executedPlan)
      assert(live.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"$kernel frame not pinned (no cache scan in the plan)")
      val leaks = live.filter(n => !n.isInstanceOf[InMemoryTableScanExec] &&
        n.expressions.exists(_.toString.contains(kernel)))
      assert(leaks.isEmpty,
        s"$kernel evaluates OUTSIDE the pinned frame in:\n${leaks.mkString("\n")}")
    }
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    assertPinned(Dedup.winnowMatches(docs), "graft_winnow")
    assertPinned(Dedup.minhashAccuracy(docs), "graft_minhash")
  }

  test("minhash accuracy: errors inside the 1/sqrt(k) bound, exact on identical docs") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val rows = Dedup.minhashAccuracy(docs).collect()
    assert(rows.nonEmpty, "no candidate pairs to audit")
    // 64 hashes -> standard error ~0.125; allow 3x for small samples
    assert(rows.forall(_.getDouble(4) <= 0.375),
      s"error out of bound: ${rows.filter(_.getDouble(4) > 0.375).toSeq}")
    // exact duplicates must audit as est=1, exact=1, err=0
    val ident = rows.filter(_.getDouble(3) == 1.0)
    assert(ident.forall(r => r.getDouble(2) == 1.0 && r.getDouble(4) == 0.0))
  }

  test("binary recall sweep: complete grid, monotone in factor, balanced bits") {
    val store = emb.filter(col("vec_id") >= 5)
      .withColumn("bits", GraftFunctions.bitPack(col("embedding")))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val rows = VectorSearch.binaryRecallSweep(store, qs, "vec_id", "embedding",
      "bits", 10).collect()
    assert(rows.length == 5 * 3, "incomplete (query x factor) grid")
    // widening the shortlist can only help: recall monotone in factor
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val byF = rs.sortBy(_.getInt(1)).map(_.getDouble(2))
      assert(byF.sliding(2).forall(p => p(0) <= p(1)),
        s"query $qid recall not monotone: ${byF.toSeq}")
    }
    // the embedder's output is roughly centered: no stuck dims
    val info = VectorSearch.binaryIndexInfo(emb).collect()
    assert(info.length == 64)
    assert(info.forall(r => r.getDouble(2) > 0.05 && r.getDouble(2) < 0.95),
      "stuck sign dimension found")
  }

  test("spilled IVF: recall at nProbe=1 matches or beats the plain assignment") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = QueryVectors.of(emb, 0)
    val exact = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10, "cosine")
      .collect().map(_.getLong(0))

    // Same centroids: the only difference is the boundary
    // replication, so any recall delta is attributable to the spill.
    val (model, a0) = IvfIndex.build(corpus, "embedding", 16)
    val centers = IvfIndex.centersOf(model)
    val plain = IvfIndex.search(a0, centers, q, "vec_id", "embedding", 10, nProbe = 1)
      .collect().map(_.getLong(0))
    val a1 = IvfIndex.spillAssign(corpus, "embedding", centers, 1.3, 2)
    val spill = IvfIndex.searchSpill(a1, centers, q, "vec_id", "embedding", 10, nProbe = 1)
      .collect().map(_.getLong(0))

    assert(spill.distinct.length == spill.length, "replicated rows not deduplicated")
    val rPlain = plain.count(exact.contains).toDouble / exact.length
    val rSpill = spill.count(exact.contains).toDouble / exact.length
    assert(rSpill >= rPlain, s"spill recall $rSpill < plain recall $rPlain")

    // bounded premium: every row keeps its nearest cell, spills to at
    // most one more
    val n = corpus.count()
    val spilled = a1.count()
    assert(spilled >= n && spilled <= 2 * n, s"spill rows $spilled outside [$n, ${2 * n}]")
  }

  test("dedup_embedding_lsh: planted near-dups recovered with sub-quadratic candidates") {
    val base = emb.filter(col("vec_id") < 500).select(col("vec_id"), col("embedding"))
    // plant 50 perturbed copies: cos(original, copy) ~ 0.99
    val planted = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + when(i % 2 === 0, lit(0.02f)).otherwise(lit(-0.02f))).as("embedding"))
    val corpus = base.unionByName(planted)

    val pairs = Dedup.embeddingNearDupLsh(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 50L).map(i => (i, i + 100000L)).toSet
    val recall = expected.count(pairs).toDouble / expected.size
    assert(recall == 1.0, s"planted-pair recall=$recall")

    // blocking is sub-quadratic: candidate pairs << all pairs
    val banded = corpus.select(col("vec_id"),
      posexplode(GraftFunctions.lshBuckets(col("embedding"), 8, 8, 42L)).as(Seq("tbl", "bucket")))
    val nCand = banded.as("a").join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
    val n = corpus.count()
    val allPairs = n * (n - 1) / 2
    // The synthetic embeddings are positively correlated, so sign-bit
    // collisions run well above the random-vector rate (~3%); the
    // blocking factor here is ~9x. At production scale bitsPerTable
    // grows with corpus size to hold the candidate rate down.
    assert(nCand < allPairs / 5, s"candidates $nCand vs all-pairs $allPairs")
  }

  test("minhashGroups: linear output, exact duplicates share a representative") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(200)
    val copies = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"), col("source"))
    val corpus = docs.select(col("doc_id"), col("text"), col("source")).unionByName(copies)
    val groups = Dedup.minhashGroups(corpus)
    assert(groups.count() <= corpus.count()) // linear, one row per doc
    val reps = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 20L).foreach { i =>
      assert(reps(i + 500000) == reps(i), s"copy of doc $i not clustered with original")
      assert(reps(i + 500000) <= i, "representative must be the minimum member")
    }
  }

  test("componentsFromEdges: chains collapse transitively, exact components") {
    import spark.implicits._
    // bipartite doc<->bucket graph: docs 1-2 share bucket 10, 2-3 share
    // 11, 3-4 share 12 (a chain where 1 and 4 never co-bucket); docs
    // 8,9 share 20; doc 99 isolated.
    val edges = Seq(
      (1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L), (4L, 12L),
      (8L, 20L), (9L, 20L), (99L, 30L)).toDF("doc_id", "bkt")
    val comp = Dedup.componentsFromEdges(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L), s"chain not collapsed: $comp")
    assert(comp(8L) == 8L && comp(9L) == 8L)
    assert(comp(99L) == 99L)
  }

  test("componentsFromEdges: deep chain converges via pointer jumping; unconverged exit throws") {
    import spark.implicits._
    // a 40-deep chain (docs i and i+1 share bucket 1000+i): diameter 39,
    // far beyond maxIter=10 propagation rounds — only the pointer-jump
    // compression can converge it within the default budget
    val chain = (1L until 40L).flatMap(i => Seq((i, 1000L + i), (i + 1, 1000L + i)))
      .toDF("doc_id", "bkt")
    val comp = operators.Dedup.componentsFromEdges(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 40L).forall(comp(_) == 1L), s"deep chain not collapsed: $comp")

    // hitting maxIter with labels still moving must throw, never return
    // silently wrong components
    val ex = intercept[IllegalStateException] {
      operators.Dedup.componentsFromEdges(chain, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("minhashComponents clusters exact duplicates with their originals") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(100)
    val copies = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 700000).as("doc_id"), col("text"), col("source"))
    val corpus = docs.select(col("doc_id"), col("text"), col("source")).unionByName(copies)
    val comp = Dedup.minhashComponents(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach { i =>
      assert(comp(i + 700000) == comp(i), s"copy of doc $i not in its component")
    }
  }

  test("ivf probe recall@10 against exact flat search") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = QueryVectors.of(emb, 0)
    val exact = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10, "cosine")
      .collect().map(_.getLong(0)).toSet
    val (model, assigned) = IvfIndex.build(corpus, "embedding")
    val ivf = IvfIndex.search(assigned, IvfIndex.centersOf(model), q,
      "vec_id", "embedding", 10).collect().map(_.getLong(0))
    val recall = ivf.count(exact).toDouble / exact.size
    assert(recall >= 0.5, s"ivf recall@10=$recall")
  }

  test("pq adc probe recall@10 against exact search") {
    import graft.operators.PqIndex
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = QueryVectors.of(emb, 0)
    val books = PqIndex.train(corpus, "embedding")
    assert(books.size == 8 && books.forall(_._2.size == 16))
    val enc = PqIndex.encodeExact(corpus, "embedding", books)
    // 64 float dims -> 8 small ints: every code addresses a codeword
    val codes = enc.select(col("pq_codes")).limit(100).collect()
      .map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(j => j >= 0 && j < 16)))
    val exact = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10, "euclidean")
      .collect().map(_.getLong(0)).toSet
    val got = PqIndex.search(enc, books, q, "vec_id", "embedding", 10)
      .collect().map(_.getLong(0))
    val recall = got.count(exact).toDouble / exact.size
    assert(recall >= 0.5, s"pq recall@10=$recall")
  }

  test("pq batch search equals the per-query probe") {
    import graft.operators.PqIndex
    val corpus = emb.filter(col("vec_id") >= 5).select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val books = PqIndex.train(corpus, "embedding")
    val enc = PqIndex.encodeExact(corpus, "embedding", books).persist()
    val batch = PqIndex.searchBatch(enc, books, qs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = qs.collect().flatMap { r =>
      val q1 = r.getSeq[Float](1).toArray
      PqIndex.search(enc, books, q1, "vec_id", "embedding", 5)
        .collect().map(x => (r.getLong(0), x.getLong(0), x.getDouble(1)))
    }.toSet
    enc.unpersist()
    assert(batch == single)
  }

  test("ivfpq composed probe: recall, batch twin, and pruned indexed plan") {
    import graft.operators.{IvfPq, PqIndex}
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = QueryVectors.of(emb, 0)
    val idx0 = IvfPq.train(corpus, "embedding")
    val idx = idx0.copy(encoded = idx0.encoded.persist())
    // residual codes address real codewords
    val codes = idx.encoded.select(col("pq_codes")).limit(100).collect()
      .map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(j => j >= 0 && j < 16)))
    // two-phase probe recovers most of the exact top-10
    val exact = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10, "euclidean")
      .collect().map(_.getLong(0)).toSet
    val got = IvfPq.search(idx, q, "vec_id", "embedding", 10)
      .collect().map(_.getLong(0))
    assert(got.count(exact).toDouble / exact.size >= 0.5,
      s"ivfpq recall@10=${got.count(exact).toDouble / exact.size}")
    // batch twin == per-query probe
    val corpusB = emb.filter(col("vec_id") >= 5).select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val idxB0 = IvfPq.train(corpusB, "embedding")
    val idxB = idxB0.copy(encoded = idxB0.encoded.persist())
    val batch = IvfPq.searchBatch(idxB, qs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = qs.collect().flatMap { r =>
      val q1 = r.getSeq[Float](1).toArray
      IvfPq.search(idxB, q1, "vec_id", "embedding", 5)
        .collect().map(x => (r.getLong(0), x.getLong(0), x.getDouble(1)))
    }.toSet
    assert(batch == single)
    // on-disk serving layout: identical results, and phase 1 scans the
    // codes column only inside partition-pruned cluster directories —
    // the float column's pages stay closed until the re-rank fetch.
    val path = java.nio.file.Files.createTempDirectory("ivfpq-spec").toString
    IvfPq.writeIndex(idx, path)
    def serve() = IvfPq.searchIndexed(spark, path, q, "vec_id", "embedding", 10)
    val direct = IvfPq.search(idx, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // above the small-relation threshold (here: none), the two-job form
    SparkTestSession.twoJobForm {
      val served = serve()
      assert(served.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == direct)
      // phase 1 is a cluster-pruned codes-only scan BY CONSTRUCTION
      // (it projects (id, cluster, pq_codes) inside the probed cells
      // before the eager shortlist resolve); the RETURNED plan is phase
      // 2, whose scan must stay cluster-pruned AND carry the shortlist
      // as a pushed In-filter on the id (row-group point reads).
      val scans = served.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("FileScan")).toSeq
      assert(scans.exists(s => s.contains("cluster") &&
          (s.contains("In(vec_id") || s.contains("vec_id IN"))),
        s"phase-2 scan lost cluster pruning or the id shortlist filter:\n${scans.mkString("\n")}")
    }
    // the written index is under the default threshold: the one-job
    // form, still cluster-pruned, with the same answer (side tables
    // read first, as searchIndexed does)
    val disk = IvfPq.Index(IvfPq.readCenters(spark, path), IvfPq.readBooks(spark, path),
      spark.read.parquet(s"$path/encoded"))
    val one = SparkJobs.assertOneJobSearch(spark)(
      IvfPq.search(disk, q, "vec_id", "embedding", 10), "vec_id", "embedding", Some("cluster"))
    assert(one.map(r => (r.getLong(0), r.getDouble(1))).toSeq == direct)
    idx.encoded.unpersist(); idxB.encoded.unpersist()
  }

  test("pipeline ops plan scale-clean: split map-only, pack/clean one exchange") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    def exchanges(d: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(d.queryExecution.executedPlan.toString).length
    // sample_split: pure map + presentation sort — exactly 1 exchange
    assert(exchanges(operators.Pipeline.sampleSplit(docs)) <= 1)
    // shard_pack / clean_corpus: one data exchange (window partition)
    // + the presentation sort
    assert(exchanges(operators.Pipeline.shardPack(docs)) <= 2)
    assert(exchanges(operators.Pipeline.cleanCorpus(docs)) <= 2)
    // frame sampling: map-only generate + presentation sort
    assert(exchanges(operators.Multimodal.frameSample(docs)) <= 1)
    // funnel: one data exchange (user window) + presentation sort —
    // stage count must NOT add shuffles
    assert(exchanges(operators.Events.funnel(
      Tables.load(spark, SparkTestSession.sfDir, "events"))) <= 3)
    // mix sampling: pure map + presentation sort
    assert(exchanges(operators.Pipeline.mixSample(docs, Map("src0" -> 0.5))) <= 1)
  }

  test("contamination: eval side broadcasts, training side never shuffles by ngram") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val plan = operators.Pipeline.contamination(
      docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "eval n-gram set not broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "training corpus shuffled through a sort-merge join")
  }

  test("IVF drift: frozen-centroid appends raise the ratio, a refit restores it") {
    val corpus = emb.filter(col("vec_id") < 400).select(col("vec_id"), col("embedding"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-drift").toString
    val (model, assigned) = IvfIndex.build(corpus, "embedding")
    IvfIndex.writeIndex(assigned, model, path)
    val healthy = IvfIndex.assignmentDrift(spark, path)
    assert(healthy > 0.95 && healthy < 1.05, s"fresh index drift $healthy")

    // appended vectors from a shifted distribution: far from every
    // fitted centroid, so the mean assignment distance must rise
    val shifted = emb.filter(col("vec_id") >= 400)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * 3.0f + 2.0f).as("embedding"))
    IvfIndex.appendAssign(spark, path, shifted, "vec_id", "embedding")
    val drifted = IvfIndex.assignmentDrift(spark, path)
    assert(drifted > 1.5, s"drift $drifted did not register the shifted appends")

    // re-fit over the full current contents restores health
    val all = spark.read.parquet(s"$path/assigned").select(col("vec_id"), col("embedding"))
    val (m2, a2) = IvfIndex.build(all, "embedding")
    IvfIndex.writeIndex(a2, m2, path)
    val refit = IvfIndex.assignmentDrift(spark, path)
    assert(refit > 0.95 && refit < 1.05, s"refit drift $refit")
  }

  test("copy-on-write delete rewrites only the victim store/index partitions") {
    val root = java.nio.file.Files.createTempDirectory("graft-cow").toString
    val lib = new VectorLibrary(spark, root, "cow-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs)
    lib.buildPartitionedIndex()
    lib.buildIvfIndex()

    // (relative-dir -> set of (file, length, mtime)) for every data
    // file under a tree: unchanged directories must keep their files
    // byte-for-byte (same name, same size, same mtime — i.e. never
    // rewritten, not merely equal content).
    def snapshot(base: java.nio.file.Path): Map[String, Set[(String, Long, Long)]] = {
      import scala.jdk.CollectionConverters._
      if (!java.nio.file.Files.exists(base)) return Map.empty
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        // visible data files only — underscore (_SUCCESS, _manifest)
        // and dot (checksum sidecars) names are commit/bookkeeping
        // artifacts that legitimately change on any manifest flip
        .filter(p => { val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".") })
        .toSeq
        .groupBy(p => base.relativize(p.getParent).toString)
        .map { case (d, fs) => d -> fs.map(p =>
          (p.getFileName.toString, java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet }
    }
    val idxBase = java.nio.file.Paths.get(s"$root/cow-lib/lsh_index")
    val ivfBase = java.nio.file.Paths.get(s"$root/cow-lib/ivf_index/assigned")
    val storeBase = java.nio.file.Paths.get(s"$root/cow-lib/chunks")
    val idxBefore = snapshot(idxBase)
    val ivfBefore = snapshot(ivfBase)
    val storeBefore = snapshot(storeBase)

    // one victim document: its chunks' bucket pairs / clusters / source
    // are the ONLY partitions allowed to change
    val victimId = docs.head.getAs[Long]("doc_id")
    val victimChunks = lib.chunks.filter(col("doc_id") === victimId)
      .select(col("chunk_id"), col("source"), col("lsh_buckets")).collect()
    assert(victimChunks.nonEmpty)
    val victimIds = victimChunks.map(_.getString(0)).toSet
    val victimDirs = victimChunks.flatMap(r =>
      r.getSeq[Int](2).zipWithIndex.map { case (b, t) => s"tbl=$t/bucket=$b" }).toSet
    val victimSources = victimChunks.map(r => s"source=${r.getString(1)}").toSet
    val victimClusters = spark.read.parquet(s"$root/cow-lib/ivf_index/assigned")
      .filter(col("chunk_id").isin(victimIds.toSeq: _*))
      .select(col("cluster")).distinct().collect().map(r => s"cluster=${r.getInt(0)}").toSet

    lib.deleteDocuments(col("doc_id") === victimId)

    // victims gone from the store and from every derived index (as the
    // probes see them — through the manifests; the victim BYTES stay on
    // disk for restoreTo until vacuum)
    import org.apache.spark.sql.types.IntegerType
    assert(lib.chunks.filter(col("doc_id") === victimId).count() == 0)
    assert(manifestRead(s"$root/cow-lib/lsh_index",
      "tbl" -> IntegerType, "bucket" -> IntegerType)
      .filter(col("chunk_id").isin(victimIds.toSeq: _*)).count() == 0)
    assert(manifestRead(s"$root/cow-lib/ivf_index/assigned",
      "cluster" -> IntegerType)
      .filter(col("chunk_id").isin(victimIds.toSeq: _*)).count() == 0)

    // every non-victim directory kept its exact files
    def unchangedOutside(before: Map[String, Set[(String, Long, Long)]],
                         after: Map[String, Set[(String, Long, Long)]],
                         touched: Set[String], what: String): Unit = {
      val untouchedBefore = before.view.filterKeys(d => !touched.contains(d)).toMap
      val untouchedAfter = after.view.filterKeys(d => !touched.contains(d)).toMap
      assert(untouchedAfter == untouchedBefore,
        s"$what: non-victim directories rewritten (touched=$touched)")
    }
    unchangedOutside(idxBefore, snapshot(idxBase), victimDirs, "lsh index")
    unchangedOutside(ivfBefore, snapshot(ivfBase), victimClusters, "ivf index")
    unchangedOutside(storeBefore, snapshot(storeBase), victimSources, "store")
    // and the victim's own directories DID change (they held its rows)
    val idxAfter = snapshot(idxBase)
    assert(victimDirs.exists(d => idxBefore.get(d) != idxAfter.get(d)),
      "no victim index directory was rewritten")

    // search still serves correctly from the surgically-edited index
    val hits = lib.searchApprox("spark join stream table filter", k = 5).collect()
    assert(hits.nonEmpty && hits.forall(r => !victimIds.contains(r.getString(0))))
    lib.setAlgorithm("ivf")
    val ivfHits = lib.search("spark join stream table filter", k = 5).collect()
    assert(ivfHits.nonEmpty && ivfHits.forall(r => !victimIds.contains(r.getString(0))))
    lib.delete()
  }

  test("AQE splits the hot minhash-bucket partition of the pair join (skew evidence)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.PartialReducerPartitionSpec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
    // One boilerplate text duplicated 800x: its banded signature is
    // identical in EVERY band, so one (band, bucket) key per band holds
    // 800 rows while filler buckets hold 1 — the hot-bucket shape a
    // 99%-duplicate corpus produces. With test-scale skew thresholds,
    // the pair join's oversized shuffle partitions must be split by
    // AQE's skew-join rule (SURVEY §4's claim, measured).
    val boiler = (0 until 800).map(i =>
      (i.toLong, "the same boilerplate disclaimer text appears verbatim in every " +
        "scraped page of this domain over and over without any variation", "a"))
    val filler = (0 until 1000).map(i =>
      ((10000 + i).toLong, s"unique document number $i discussing topic ${i * 7} " +
        s"with distinct content ${i * 13} and vocabulary item ${i * 29}", "b"))
    val skewed = (boiler ++ filler).toDF("doc_id", "text", "source")
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // skew is detected RELATIVE TO THE MEDIAN partition: with the
      // test session's 4 shuffle partitions every partition holds a
      // hot bucket and nothing looks skewed — spread the keys first
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // force a shuffle join: broadcast joins have no skew handling
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = Dedup.minhashLsh(skewed)
      // collect() executes THIS frame's own queryExecution, so the
      // adaptive plan below is the finalized one (count() would plan
      // a separate query and leave pairs' plan un-executed)
      val n = pairs.collect().length
      assert(n >= 800L * 799 / 2, s"pair count $n — hot cluster not emitted")
      def reads(p: SparkPlan): Seq[AQEShuffleReadExec] = p match {
        case a: AdaptiveSparkPlanExec => reads(a.executedPlan)
        case q: QueryStageExec => reads(q.plan)
        case r: AQEShuffleReadExec => r +: r.children.flatMap(reads)
        case other => other.children.flatMap(reads)
      }
      val splitCounts = reads(pairs.queryExecution.executedPlan).map(r =>
        r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec]))
      assert(splitCounts.exists(_ > 1),
        s"no AQE skew split fired (split counts per shuffle read: $splitCounts)")
      info(s"skew-split sub-partitions per shuffle read: $splitCounts")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("targeted delete resolves IVF/IVF-PQ victims via pruned cluster dirs only") {
    val root = java.nio.file.Files.createTempDirectory("graft-cow-prune").toString
    val lib = new VectorLibrary(spark, root, "cow-prune")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs)
    lib.buildIvfIndex()
    lib.buildIvfPqIndex()

    val victimId = docs.head.getAs[Long]("doc_id")
    val victimIds = lib.chunks.filter(col("doc_id") === victimId)
      .select(col("chunk_id")).collect().map(_.getString(0)).toSet
    assert(victimIds.nonEmpty)
    // ground truth: where the victims actually sit in each tree
    def clustersOf(tree: String): Set[String] =
      spark.read.parquet(tree)
        .filter(col("chunk_id").isin(victimIds.toSeq: _*))
        .select(col("cluster")).distinct().collect()
        .map(r => s"$tree/cluster=${r.getInt(0)}").toSet
    val ivfTree = s"$root/cow-prune/ivf_index/assigned"
    val ivfpqTree = s"$root/cow-prune/ivfpq_index/encoded"
    val ivfVictimDirs = clustersOf(ivfTree)
    val ivfpqVictimDirs = clustersOf(ivfpqTree)
    val ivfAllClusters = spark.read.parquet(ivfTree)
      .select(col("cluster")).distinct().count()
    assert(ivfAllClusters > 2, "corpus too small to demonstrate pruning")

    lib.deleteDocuments(col("doc_id") === victimId)

    // the resolution audit must show ONLY the victim cluster dirs were
    // opened — never the tree root (the full-scan fallback) and never
    // a non-victim cluster
    val audit = lib.lastDeleteAudit
    assert(audit.contains("ivf") && audit.contains("ivfpq"), audit.keys.toString)
    assert(audit("ivf").toSet == ivfVictimDirs,
      s"ivf resolution scanned ${audit("ivf")} != victim dirs $ivfVictimDirs")
    assert(audit("ivfpq").toSet == ivfpqVictimDirs,
      s"ivfpq resolution scanned ${audit("ivfpq")} != victim dirs $ivfpqVictimDirs")
    assert(audit("ivf").size < ivfAllClusters,
      "pruned resolution opened every cluster — nothing was pruned")

    // and the delete was still complete: victims gone from both trees
    // (manifest view — the retained victim bytes are restoreTo's, not
    // the probes')
    assert(manifestRead(ivfTree,
      "cluster" -> org.apache.spark.sql.types.IntegerType)
      .filter(col("chunk_id").isin(victimIds.toSeq: _*)).count() == 0)
    assert(manifestRead(ivfpqTree,
      "cluster" -> org.apache.spark.sql.types.IntegerType)
      .filter(col("chunk_id").isin(victimIds.toSeq: _*)).count() == 0)
    // searches keep serving from the surgically-edited indexes
    lib.setAlgorithm("ivf")
    assert(lib.search("spark join stream", k = 5).collect()
      .forall(r => !victimIds.contains(r.getString(0))))
    lib.setAlgorithm("ivfpq")
    assert(lib.search("spark join stream", k = 5).collect()
      .forall(r => !victimIds.contains(r.getString(0))))
    lib.delete()
  }

  test("deleting every document leaves an empty, readable library") {
    val root = java.nio.file.Files.createTempDirectory("graft-cow-all").toString
    val lib = new VectorLibrary(spark, root, "cow-all")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(10)
    lib.addDocuments(docs)
    lib.buildPartitionedIndex()
    assert(lib.chunks.count() > 0)
    lib.deleteDocuments(lit(true))
    // the store directory still exists but holds no data files — it
    // must read as empty, not fail schema inference
    assert(lib.chunks.count() == 0)
    assert(lib.search("anything", k = 3).count() == 0)
    // and re-ingest after total deletion works
    lib.addDocuments(docs)
    assert(lib.chunks.count() > 0)
    lib.delete()
  }

  test("scaleScan: heals 1-split scans, identity on split or exchanged plans") {
    import graft.GraftFunctions.scaleScan
    val p = spark.sparkContext.defaultParallelism
    // 1-split input, exchange-free plan -> repartitioned to p
    val narrow = spark.range(100).coalesce(1).toDF("id")
    assert(scaleScan(narrow).rdd.getNumPartitions == p,
      "1-split exchange-free input should be repartitioned")
    // already-split input -> identity (same plan object, no new exchange)
    val wide = spark.range(1000).repartition(p).toDF("id")
    val healedWide = scaleScan(wide)
    assert(healedWide eq wide, "already-parallel input must pass through")
    // plan CONTAINING an exchange (r14 ADVICE fix): must not probe
    // Dataset.rdd (which would materialize every upstream stage under
    // AQE) and must pass the frame through unchanged even when the
    // post-shuffle partition count is below defaultParallelism.
    val exchanged = spark.range(100).toDF("id")
      .groupBy((col("id") % 3).as("g")).count().coalesce(2)
    val healed = scaleScan(exchanged)
    assert(healed eq exchanged,
      "plans with an Exchange must pass through un-probed")
    // 1-split narrow chain whose FILTER holds a scalar subquery: the
    // Dataset.rdd probe would execute the subquery eagerly, so the
    // frame must pass through un-probed too
    spark.range(100).coalesce(1).toDF("id").createOrReplaceTempView("scale_scan_narrow")
    val subq = spark.sql(
      "SELECT id FROM scale_scan_narrow WHERE id > (SELECT avg(id) FROM range(10))")
    assert(scaleScan(subq) eq subq,
      "plans with a subquery expression must pass through un-probed")
  }
}
