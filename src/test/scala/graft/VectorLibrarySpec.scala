package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared flag + deterministic service call for the embedder-outage
  * streaming spec: throws while `down` is set (same JVM in local mode,
  * so the executor-side lambda sees the flag). */
object StreamOutageState {
  val down = new java.util.concurrent.atomic.AtomicBoolean(false)
  val call: ServiceEmbedder.BatchCall = (texts, _) => {
    if (down.get) throw new RuntimeException("embedding service down (injected)")
    texts.map { t =>
      val h = t.hashCode
      Array.tabulate(64)(i => ((math.abs(h * 31 + i * 7) % 97) + 1) / 97.0f)
    }
  }
}

class VectorLibrarySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Read an index/store tree the way the library does: through its
    * manifest. A raw `spark.read.parquet(dir)` LISTING read would also
    * adopt manifest-invisible bytes — crash orphans and the retained
    * copy-on-write victims that deletes keep on disk for restoreTo —
    * and is exactly what these specs must NOT measure. */
  private def manifestRead(dir: String,
      parts: (String, org.apache.spark.sql.types.DataType)*)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    new graft.plans.ManifestedTree(spark, dir,
      StructType(parts.map { case (n, t) => StructField(n, t) })).open()
  }

  /** Read a geometry sidecar the way the library does: the NEWEST
    * generation-numbered `<base>.g<gen>` directory. */
  private def geomRead(base: String): org.apache.spark.sql.DataFrame = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newest = fs.listStatus(p.getParent).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(p.getName + ".g")).max
    spark.read.parquet(s"${p.getParent}/$newest")
  }

  test("library lifecycle: ingest, search, stats, delete") {
    val root = Files.createTempDirectory("graft-lib").toString
    val lib = new VectorLibrary(spark, root, "test-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(100)
    lib.addDocuments(docs)

    val nChunks = lib.chunks.count()
    assert(nChunks > 0)

    val hits = lib.search("spark join stream table filter", k = 5).collect()
    assert(hits.length == 5)
    assert(hits.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))

    val approx = lib.searchApprox("spark join stream table filter", k = 5).collect()
    assert(approx.nonEmpty)

    // full-payload search (reference SearchResult.chunk): same ranking
    // as the id search, chunk columns riding along.
    val withChunks = lib.searchWithChunks("spark join stream table filter", k = 5).collect()
    assert(withChunks.map(_.getAs[String]("chunk_id")).toSeq ==
      hits.map(_.getString(0)).toSeq)
    assert(withChunks.forall(r => r.getAs[String]("chunk_text").nonEmpty &&
      r.getAs[Int]("n_tokens") > 0))

    val st = lib.stats.collect()(0)
    assert(st.getAs[Long]("vector_count") == nChunks)
    assert(st.getAs[Int]("dimension") == 64)

    // batch fetch + per-document chunk listing (reference
    // get_chunks_batch / GET /documents/{id}/chunks)
    val someIds = lib.chunks.limit(3).collect().map(_.getAs[String]("chunk_id")).toSeq
    assert(lib.chunksBatch(someIds).count() == 3)
    val dc = lib.documentChunks(docs.head.getAs[Long]("doc_id")).collect()
    assert(dc.nonEmpty)
    assert(dc.map(_.getAs[Int]("chunk_idx")).toSeq == dc.indices.toSeq)

    // incremental add (the reference's background re-index path)
    lib.addDocuments(docs.withColumn("doc_id", col("doc_id") + 100000))
    assert(lib.chunks.count() == 2 * nChunks)

    lib.delete()
    // a deleted library reads as empty, like one that never ingested
    // (the reference returns [] for an empty library, not an error)
    assert(lib.chunks.count() == 0)
  }

  test("pluggable embedder: a custom provider drives ingest and search") {
    val root = Files.createTempDirectory("graft-lib-embed").toString
    // a custom single-tower provider (different seed = a different
    // embedding space): the library must route every embed call —
    // ingest, query, batch, rebuild — through it
    val custom = new Embedder {
      val dim = 64
      def embed(text: org.apache.spark.sql.Column, inputType: String) = {
        assert(GraftFunctions.embedInputTypes(inputType), s"bad input type $inputType")
        GraftFunctions.embedText(text, dim, seed = 7L)
      }
    }
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30)
    val libC = new VectorLibrary(spark, root, "custom-emb", embedder = custom)
    libC.addDocuments(docs)
    val libD = new VectorLibrary(spark, root, "default-emb")
    libD.addDocuments(docs)

    // same chunks, different embedding space
    assert(libC.chunks.count() == libD.chunks.count())
    val embC = libC.chunks.orderBy("chunk_id").limit(1)
      .select("embedding").collect()(0).getSeq[Float](0)
    val embD = libD.chunks.orderBy("chunk_id").limit(1)
      .select("embedding").collect()(0).getSeq[Float](0)
    assert(embC != embD, "custom embedder not used at ingest")

    // search embeds the query through the same provider: results are
    // internally consistent (exact flat search returns k ranked hits)
    val hits = libC.search("spark join stream table filter", k = 5).collect()
    assert(hits.length == 5)
    assert(hits.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    // batch twin agrees with per-query search under the custom space
    val batch = libC.searchBatch(Seq("spark join stream table filter"), k = 5)
      .collect().map(_.getString(1)).toSeq
    assert(batch == hits.map(_.getString(0)).toSeq)

    // a dimension-mismatched provider fails fast
    intercept[IllegalArgumentException] {
      new VectorLibrary(spark, root, "bad-dim", dim = 32, embedder = custom)
    }
    libC.delete(); libD.delete()
  }

  test("copy-on-write delete and update flows") {
    val root = Files.createTempDirectory("graft-lib-crud").toString
    val lib = new VectorLibrary(spark, root, "crud-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(20)
    lib.addDocuments(docs)
    val before = lib.chunks.count()

    lib.deleteDocuments(col("doc_id") < 5)
    assert(lib.chunks.filter(col("doc_id") < 5).count() == 0)
    assert(lib.chunks.count() < before)

    val replacement = docs.filter(col("doc_id") === 7)
      .withColumn("text", lit("entirely new replacement text body"))
    lib.updateDocument(7L, replacement)
    val updated = lib.chunks.filter(col("doc_id") === 7).collect()
    assert(updated.nonEmpty)
    assert(updated.head.getAs[String]("chunk_text").contains("replacement"))
    lib.delete()
  }

  test("indexed search paths, algorithm switching, validation, index info") {
    val root = Files.createTempDirectory("graft-lib-algo").toString
    val lib = new VectorLibrary(spark, root, "algo-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    lib.addDocuments(docs)

    // searchApprox serves from the persisted lsh_buckets column: the
    // only signature work in the plan is the query-side probe — no
    // graft_lsh_buckets recompute over the corpus. (File-backed: the
    // store's files, not its rows held in memory.)
    SparkTestSession.twoJobForm {
      val approx = lib.searchApprox("spark join stream table filter", k = 5)
      val phys = approx.queryExecution.executedPlan.toString
      assert(!phys.contains("graft_lsh_buckets"),
        s"corpus-side signature recompute in:\n$phys")
      // (the query-side graft_lsh_probes call constant-folds into a
      // literal bucket array at plan time — even better than runtime)
      assert(phys.contains("lsh_buckets"), "stored index column not scanned")
      assert(approx.collect().nonEmpty)
    }

    // live per-library algorithm switching (reference
    // set_library_algorithm, tests/test_integration_algorithms.py)
    for (algo <- Seq("flat", "lsh", "grid", "ivf", "quantized", "binary")) {
      lib.setAlgorithm(algo)
      val hits = lib.search("spark join stream table filter", k = 3).collect()
      assert(hits.length == 3, s"algo=$algo returned ${hits.length} rows")
      assert(hits.map(_.getDouble(1)).sliding(2).forall(p => p.head >= p.last),
        s"algo=$algo not sorted by score desc")
    }
    assertThrows[IllegalArgumentException](lib.setAlgorithm("hnsw"))
    lib.setAlgorithm("flat")

    // k clamp [1,100] (search_schema.py:26) + query-dim validation
    assert(lib.search("spark", k = 500).count() <= 100)
    assert(lib.search("spark", k = -3).count() == 1)
    assertThrows[IllegalArgumentException](lib.searchVector(Seq.fill(32)(0.1f)))

    // LSH bucket-occupancy histogram (LSHIndex.get_stats analog)
    val info = lib.indexInfo.collect()(0)
    val total = info.getAs[Int]("total_buckets")
    assert(total == 8 * 256)
    assert(info.getAs[Long]("occupied_buckets") + info.getAs[Long]("empty_buckets") == total)
    assert(info.getAs[Long]("max_bucket_size") >= 1)
    assert(info.getAs[Double]("avg_bucket_size") >= 1.0)
    lib.delete()
  }

  test("rebuildIndex and compact preserve content; embed input types validated") {
    val root = Files.createTempDirectory("graft-lib-maint").toString
    val lib = new VectorLibrary(spark, root, "maint-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30)
    // several small appends = the streaming-ingest file layout
    lib.addDocuments(docs.filter(col("doc_id") < 10))
    lib.addDocuments(docs.filter(col("doc_id") >= 10 && col("doc_id") < 20))
    lib.addDocuments(docs.filter(col("doc_id") >= 20))
    val before = lib.chunks.count()
    val hitsBefore = lib.search("spark join stream", k = 5).collect().map(_.getString(0))

    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/maint-lib/chunks"))
        .count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = parquetFiles()
    lib.compact(numPartitions = 1)
    // the rewrite is history-preserving: displaced files stay on disk
    // for the restore/epoch horizon until the explicit truncate-
    // history switch reclaims them (immediately — retainNone must not
    // defer to the 7-day window) — then the merge is physical
    lib.vacuumIndexes(retainNone = true)
    assert(parquetFiles() < filesBefore, s"compaction did not merge files ($filesBefore)")
    assert(lib.chunks.count() == before)

    lib.rebuildIndex()
    assert(lib.chunks.count() == before)
    assert(lib.chunks.filter(col("lsh_buckets").isNull || col("quant").isNull).count() == 0)
    val hitsAfter = lib.search("spark join stream", k = 5).collect().map(_.getString(0))
    assert(hitsBefore.sameElements(hitsAfter), "maintenance changed search results")

    assertThrows[IllegalArgumentException](
      GraftFunctions.embedTextTyped(col("text"), "clustering"))
    lib.delete()
  }

  test("metadata persistence, listing, pre-chunked ingest, orphan cleanup") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lib-meta").toString
    val lib = new VectorLibrary(spark, root, "meta-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(20)
    lib.addDocuments(docs)

    assert(lib.metadata("name") == "meta-lib" && lib.metadata.contains("created_at"))
    lib.updateMetadata("description" -> "test \"quoted\" library")
    lib.setAlgorithm("lsh")
    // a NEW facade over the same store restores algorithm + metadata
    val reopened = new VectorLibrary(spark, root, "meta-lib")
    assert(reopened.algorithm == "lsh")
    assert(reopened.metadata("description") == "test \"quoted\" library")
    assertThrows[IllegalArgumentException](lib.updateMetadata("name" -> "x"))

    val second = new VectorLibrary(spark, root, "meta-lib2")
    second.addDocuments(docs.limit(5))
    val listed = VectorLibrary.list(spark, root).collect()
    assert(listed.map(_.getString(0)).toSeq == Seq("meta-lib", "meta-lib2"))
    assert(listed.find(_.getString(0) == "meta-lib").get
      .getAs[String]("algorithm") == "lsh")

    // pre-chunked ingest produces store rows interchangeable with
    // auto-chunked ones (embedded, indexed, token-counted)
    val pre = Seq(
      (90001L, 0, "alpha beta gamma delta", "manual"),
      (90001L, 1, "epsilon zeta eta theta", "manual")
    ).toDF("doc_id", "chunk_idx", "chunk_text", "source")
    lib.addChunkedDocuments(pre)
    val got = lib.documentChunks(90001L)
    assert(got.count() == 2)
    assert(got.filter(col("n_tokens") === 4 && size(col("embedding")) === 64 &&
      size(col("lsh_buckets")) === 8).count() == 2)

    // orphan cleanup: doc 90001 is not in the documents table
    val removed = lib.cleanupOrphans(docs)
    assert(removed == 2)
    assert(lib.documentChunks(90001L).count() == 0)
    lib.delete(); second.delete()
  }

  test("partitioned LSH index: pruned probe, identical results, incremental append") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft-lib-part").toString
    val lib = new VectorLibrary(spark, root, "part-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs.filter(col("doc_id") < 60))

    val colProbe = lib.searchApprox("spark join stream table filter", k = 10).collect()
    assert(!lib.hasPartitionedIndex)
    lib.buildPartitionedIndex()
    assert(lib.hasPartitionedIndex)

    // the probe collects its scored rows inside (one job) and returns a
    // local frame: its scan is in the executions it ran (file-backed:
    // the index's files, not its rows held in memory)
    val (partRows, partRuns) = SparkTestSession.twoJobForm(SparkJobs.executions(spark)(
      lib.searchApprox("spark join stream table filter", k = 10).collect()))
    assert(partRows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      colProbe.map(r => (r.getString(0), r.getDouble(1))).toSeq,
      "partitioned probe diverged from the column probe")

    // The probe must be partition-pruned: the lsh_index scan carries
    // partition filters and opens at most tables*(1+extraProbes) of
    // the tables*2^bits directories.
    // AQE wraps materialized stages in leaf QueryStageExec nodes;
    // descend through them to reach the file scans.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = partRuns.flatMap(r => scans(r.executedPlan))
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("lsh_index")))
    assert(scan.nonEmpty, "no file scan over lsh_index in the plan")
    assert(scan.head.partitionFilters.nonEmpty, "probe not pushed as partition filters")
    val numFiles = scan.head.metrics("numFiles").value
    assert(numFiles <= 8 * 3, s"probe opened $numFiles files — not pruned")

    // Incremental append: a later batch extends the index in place.
    import org.apache.spark.sql.types.{IntegerType, StringType}
    lib.addDocuments(docs.filter(col("doc_id") >= 60))
    val idx = manifestRead(s"$root/part-lib/lsh_index",
      "tbl" -> IntegerType, "bucket" -> IntegerType)
    assert(idx.count() == 8 * lib.chunks.count(), "index rows != tables * chunks after append")

    // Store rewrites re-derive the index: no ghost candidates (the
    // victims' bytes stay on disk for restoreTo, but the manifest —
    // what the probe plans from — must not hold them).
    lib.deleteDocuments(col("doc_id") < 5)
    val idx2 = manifestRead(s"$root/part-lib/lsh_index",
      "tbl" -> IntegerType, "bucket" -> IntegerType)
    assert(idx2.count() == 8 * lib.chunks.count(), "index stale after delete")
    assert(idx2.join(lib.chunks, Seq("chunk_id"), "left_anti").count() == 0)
    lib.delete()
  }

  test("metadata-filtered search: predicate lands inside the pruned scans, every algorithm scoped") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val root = Files.createTempDirectory("graft-lib-filt").toString
    val lib = new VectorLibrary(spark, root, "filt-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs)
    val allowed = Set("src1", "src4", "src7")
    val pred = col("source").isin(allowed.toSeq.map(x => x: Any): _*)
    val qt = "spark join stream table filter"
    def sourcesOf(hits: org.apache.spark.sql.DataFrame): Seq[String] =
      hits.join(lib.chunks.select(col("chunk_id"), col("source")), "chunk_id")
        .select(col("source")).collect().map(_.getString(0)).toSeq

    // column-probe baseline (no partitioned index yet): candidates
    // intersect the predicate before top-k
    val colProbe = lib.searchApprox(qt, 10, filter = Some(pred)).collect()
    assert(colProbe.nonEmpty)

    // partitioned probe: same results, and the predicate rides INSIDE
    // the pruned (tbl, bucket) scan as a pushed data filter (the scan
    // shapes below are file-backed: no tree is held in memory)
    lib.buildPartitionedIndex()
    val ((part, partRows), partRuns) = SparkTestSession.twoJobForm(SparkJobs.executions(spark) {
      val part = lib.searchApprox(qt, 10, filter = Some(pred))
      (part, part.collect())
    })
    assert(partRows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      colProbe.map(r => (r.getString(0), r.getDouble(1))).toSeq,
      "filtered partitioned probe diverged from the filtered column probe")
    val idxScans = partRuns.flatMap(r => scans(r.executedPlan))
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("lsh_index")))
    assert(idxScans.nonEmpty, "no lsh_index scan in the filtered probe plan")
    assert(idxScans.head.partitionFilters.nonEmpty,
      "bucket probe not pushed as partition filters")
    assert(idxScans.head.dataFilters.exists(
      _.references.exists(_.name == "source")),
      s"source predicate not in the pruned scan's data filters:\n${idxScans.head}")
    assert(sourcesOf(part).forall(allowed), "partitioned hit outside the predicate")

    // every dispatch algorithm honors the filter scan-side
    for (a <- Seq("flat", "lsh", "quantized", "binary", "grid")) {
      lib.setAlgorithm(a)
      val hits = lib.search(qt, 10, filter = Some(pred))
      assert(sourcesOf(hits).forall(allowed), s"$a hit outside the predicate")
      assert(hits.count() > 0, s"$a filtered search returned nothing")
    }

    // persisted IVF: predicate inside the cluster-pruned assigned scan
    lib.setAlgorithm("ivf")
    lib.buildIvfIndex()
    val (ivfHits, ivfScans) = SparkTestSession.twoJobForm {
      val hits = lib.search(qt, 10, filter = Some(pred))
      (hits, scans(hits.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivf_index"))))
    }
    assert(sourcesOf(ivfHits).forall(allowed), "ivf hit outside the predicate")
    assert(ivfScans.nonEmpty && ivfScans.head.partitionFilters.nonEmpty,
      "ivf probe lost its cluster pruning under a filter")
    assert(ivfScans.head.dataFilters.exists(
      _.references.exists(_.name == "source")),
      "source predicate not inside the cluster-pruned ivf scan")

    // persisted IVF-PQ: predicate composes with cell pruning + the
    // codes-only phase-1 column pruning
    lib.setAlgorithm("ivfpq")
    lib.buildIvfPqIndex()
    // (the probe collects inside and returns a local frame: its scans
    // are in the executions it ran)
    val (pqHits, pqRuns) = SparkTestSession.twoJobForm(
      SparkJobs.executions(spark)(lib.search(qt, 10, filter = Some(pred)).collect()))
    assert(sourcesOf(lib.search(qt, 10, filter = Some(pred))).forall(allowed),
      "ivfpq hit outside the predicate")
    assert(pqHits.toSeq == lib.search(qt, 10, filter = Some(pred)).collect().toSeq)
    val encScans = pqRuns.flatMap(r => scans(r.executedPlan))
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivfpq_index")))
    assert(encScans.exists(s => s.partitionFilters.nonEmpty &&
        s.dataFilters.exists(_.references.exists(_.name == "source"))),
      "ivfpq phase 1 lost cluster pruning or the source predicate")

    // batch twin carries the filter too
    lib.setAlgorithm("lsh")
    val batch = lib.searchBatch(Seq(qt, "vector index search embedding"), 5,
      filter = Some(pred))
    assert(sourcesOf(batch.select(col("chunk_id"), col("score"))).forall(allowed))

    // a predicate over a column NOT in the index rows (chunk_text)
    // falls back to a store-backed scan — correct, never an error
    val textPred = col("chunk_text").isNotNull
    val fb = lib.searchApprox(qt, 5, filter = Some(textPred))
    assert(fb.count() == 5, "fallback filtered search broke")
    lib.delete()
  }

  test("persisted grid index: fitted bounds reused, pruned probe, no per-query aggregate") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = Files.createTempDirectory("graft-lib-grid").toString
    val lib = new VectorLibrary(spark, root, "grid-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs.filter(col("doc_id") < 60))
    lib.setAlgorithm("grid")

    val q = "spark join stream table filter"
    val adhoc = lib.search(q, k = 10).collect()
    assert(!lib.hasGridIndex)
    lib.buildGridIndex()
    assert(lib.hasGridIndex)

    // same corpus, same bounds -> identical results through the index
    // (file-backed: the plan below scans the index's files)
    val indexed = SparkTestSession.twoJobForm(lib.search(q, k = 10))
    val indexedRows = indexed.collect()
    assert(lib.search(q, k = 10).collect().toSeq == indexedRows.toSeq)
    assert(indexedRows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      adhoc.map(r => (r.getString(0), r.getDouble(1))).toSeq,
      "indexed grid probe diverged from the ad-hoc expanding probe")

    // the probe plan has NO aggregate (the ad-hoc path pays a bounds
    // aggregate per query) and its cell scan is partition-pruned
    val plan = indexed.queryExecution.executedPlan.toString
    assert(!plan.contains("Aggregate"), s"probe plan re-aggregates:\n$plan")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(indexed.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("grid_index")))
    assert(scan.nonEmpty, "no file scan over grid_index in the plan")
    assert(scan.head.partitionFilters.nonEmpty, "probe not pushed as partition filters")

    // batch twin agrees with per-query search through the index
    val qs = Seq(q, "table scan filter hash")
    val batch = lib.searchBatch(qs, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    qs.zipWithIndex.foreach { case (t, i) =>
      assert(batch(i.toLong) == lib.search(t, k = 5).collect().map(_.getString(0)).toSeq)
    }

    // incremental append under FROZEN bounds: index tracks the store
    lib.addDocuments(docs.filter(col("doc_id") >= 60))
    import org.apache.spark.sql.types.StringType
    val cells = manifestRead(s"$root/grid-lib/grid_index/cells",
      "cell" -> StringType)
    assert(cells.count() == lib.chunks.count(), "grid rows != chunks after append")
    assert(cells.join(lib.chunks, Seq("chunk_id"), "left_anti").count() == 0)

    // copy-on-write delete removes victims from the grid index too
    lib.deleteDocuments(col("doc_id") < 5)
    val cells2 = manifestRead(s"$root/grid-lib/grid_index/cells",
      "cell" -> StringType)
    assert(cells2.count() == lib.chunks.count(), "grid index stale after delete")
    assert(cells2.join(lib.chunks, Seq("chunk_id"), "left_anti").count() == 0)

    // drop falls back to the ad-hoc probe
    lib.dropGridIndex()
    assert(!lib.hasGridIndex)
    assert(lib.search(q, k = 5).count() == 5)
    lib.delete()
  }

  test("filtered BATCH search: predicate inside the pruned scans on the ivf/pq/ivfpq batch arms") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = Files.createTempDirectory("graft-lib-fbatch").toString
    val lib = new VectorLibrary(spark, root, "fbatch-lib")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(100))
    val qs = Seq("spark join stream table filter", "vector index search embedding")
    val allowed = Set("src1", "src4", "src7")
    val pred = col("source").isin(allowed.toSeq: _*)
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    def sourcesOf(hits: org.apache.spark.sql.DataFrame): Seq[String] =
      lib.chunks.join(hits.select(col("chunk_id")).distinct(), "chunk_id")
        .select(col("source")).collect().map(_.getString(0)).toSeq

    // build the three persisted layouts once
    lib.buildIvfIndex(); lib.buildPqIndex(); lib.buildIvfPqIndex()
    for ((algo, tree) <- Seq(("ivf", "ivf_index"), ("pq", "pq_index"),
        ("ivfpq", "ivfpq_index"))) {
      lib.setAlgorithm(algo)
      // file-backed: the plan below scans the index's files
      val batch = SparkTestSession.twoJobForm(lib.searchBatch(qs, 5, filter = Some(pred)))
      assert(batch.count() > 0, s"$algo filtered batch returned nothing")
      assert(sourcesOf(batch).forall(allowed), s"$algo batch hit outside the predicate")
      val idxScans = scans(batch.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains(tree)))
      assert(idxScans.nonEmpty, s"$algo batch abandoned the persisted index")
      // the predicate must land INSIDE the index scan: as a data
      // filter next to the partition pruning (ivf/ivfpq cluster dirs)
      // or as the partition filter itself (pq codes are partitioned
      // by source)
      assert(idxScans.exists(s =>
        s.dataFilters.exists(_.references.exists(_.name == "source")) ||
        s.partitionFilters.exists(_.references.exists(_.name == "source"))),
        s"$algo batch: source predicate not inside the pruned index scan")
      if (algo != "pq")
        assert(idxScans.exists(_.partitionFilters.nonEmpty),
          s"$algo batch lost its partition pruning under a filter")
      // batch ≡ per-query under the same filter
      val byQ = batch.collect().groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getInt(3)).map(_.getString(1)).toSeq).toMap
      qs.zipWithIndex.foreach { case (t, i) =>
        assert(byQ(i.toLong) ==
          lib.search(t, 5, filter = Some(pred)).collect().map(_.getString(0)).toSeq,
          s"$algo filtered batch diverged from per-query search")
      }
    }
    lib.delete()
  }

  test("filtered grid search probes the fitted index with a filtered radius") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = Files.createTempDirectory("graft-lib-gridf").toString
    val lib = new VectorLibrary(spark, root, "gridf-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(120)
    lib.addDocuments(docs)
    lib.setAlgorithm("grid")
    lib.buildGridIndex()

    val qt = "spark join stream table filter"
    val allowed = Set("src1", "src4", "src7")
    val pred = col("source").isin(allowed.toSeq: _*)
    // file-backed: the plan below scans the index's files
    val hits = SparkTestSession.twoJobForm(lib.search(qt, 10, filter = Some(pred)))
    val hitRows = hits.collect()
    assert(hitRows.nonEmpty, "filtered fitted-grid search returned nothing")
    assert(lib.search(qt, 10, filter = Some(pred)).collect().toSeq == hitRows.toSeq)

    // every hit satisfies the predicate
    val srcs = lib.chunks.join(hits, "chunk_id")
      .select(col("source")).collect().map(_.getString(0))
    assert(srcs.forall(allowed), "fitted-grid hit outside the predicate")

    // plan shape: the probe scans the grid_index (NOT the store), the
    // cell probe is partition-pruned, and the predicate rides inside
    // the pruned scan as a data filter
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val gScans = scans(hits.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("grid_index")))
    assert(gScans.nonEmpty, "filtered grid search abandoned the fitted index")
    assert(gScans.head.partitionFilters.nonEmpty,
      "filtered grid probe lost its cell partition pruning")
    assert(gScans.head.dataFilters.exists(
      _.references.exists(_.name == "source")),
      "source predicate not inside the cell-pruned scan")
    assert(!hits.queryExecution.executedPlan.toString.contains("Aggregate"),
      "filtered fitted probe re-aggregates in the probe plan")

    // equality: identical to the expanding rule under the SAME frozen
    // bounds over the filtered subset, derived from the STORE (catches
    // a stale or mixed-schema index)
    val (lo, hi, gd, cpd) = {
      val m = geomRead(s"$root/gridf-lib/grid_index/bounds")
        .collect().sortBy(_.getInt(0))
      (m.map(_.getDouble(1)), m.map(_.getDouble(2)), m.length, 4)
    }
    val storeSide = lib.chunks.where(pred)
      .select(col("chunk_id"), col("embedding"),
        operators.VectorSearch.cellKeyCol(col("embedding"), lo, hi, cpd).as("cell"))
    val expect = operators.VectorSearch.gridKnnIndexed(storeSide, lo, hi,
      lib.queryVector(qt), "chunk_id", "embedding", 10, "cosine", gd, cpd)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(hitRows.map(r => (r.getString(0), r.getDouble(1))).toSeq == expect,
      "fitted filtered probe diverged from the store-derived expanding rule")

    // batch twin: same arm, same results as per-query
    val qs2 = Seq(qt, "table scan filter hash")
    val batch = lib.searchBatch(qs2, 5, filter = Some(pred)).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    qs2.zipWithIndex.foreach { case (t, i) =>
      assert(batch(i.toLong) ==
        lib.search(t, 5, filter = Some(pred)).collect().map(_.getString(0)).toSeq,
        s"filtered grid batch diverged for query $i")
    }

    lib.delete()
  }

  test("filtered grid occupancy is memoized per filter: each source filter keeps its own radius") {
    val root = Files.createTempDirectory("graft-lib-gridmemo").toString
    val lib = new VectorLibrary(spark, root, "gridmemo-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    lib.addDocuments(docs.limit(120))
    lib.setAlgorithm("grid")
    lib.buildGridIndex()
    val qt = "spark join stream table filter"
    val q = lib.queryVector(qt)
    val sources = lib.chunks.groupBy("source").count()
      .orderBy(col("count").desc, col("source").asc).collect().map(_.getString(0))
    val preds = Seq(col("source") =!= sources.last, col("source") === sources.last)
    /** The filtered subset of the store, keyed by its cell under the
      * fitted bounds. */
    def subset(pred: org.apache.spark.sql.Column) = {
      val m = geomRead(s"$root/gridmemo-lib/grid_index/bounds").collect().sortBy(_.getInt(0))
      (lib.chunks.where(pred).select(col("chunk_id"), col("embedding"),
        operators.VectorSearch.cellKeyCol(col("embedding"), m.map(_.getDouble(1)),
          m.map(_.getDouble(2)), 4).as("cell")), m)
    }
    /** The expanding rule over the filtered subset, with `counts` as
      * its occupancy (default: the subset's own). */
    def expected(pred: org.apache.spark.sql.Column,
                 counts: Option[Seq[(String, Long)]] = None): Seq[(String, Double)] = {
      val (rows, m) = subset(pred)
      operators.VectorSearch.gridKnnIndexed(rows, m.map(_.getDouble(1)), m.map(_.getDouble(2)),
        q, "chunk_id", "embedding", 10, "cosine", m.length, 4, countsOpt = counts)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    def search(pred: org.apache.spark.sql.Column) = SparkJobs.count(spark)(
      lib.search(qt, 10, filter = Some(pred)).collect().map(r => (r.getString(0), r.getDouble(1)))
        .toSeq)
    val expect = preds.map(expected(_))
    // the spec can tell the filters apart: the small subset under the
    // large one's occupancy gets another answer
    val largeCounts = operators.VectorSearch.gridCellCounts(subset(preds(0))._1)
    assert(expected(preds(1), Some(largeCounts)) != expect(1),
      "both filters give one answer: the spec cannot see a shared memo")
    // warm, a search runs its probe alone: one job over the index's
    // files, none over its rows held in memory
    for (fileBacked <- Seq(true, false); round <- 1 to 2; (pred, e) <- preds.zip(expect)) {
      val (hits, jobs) = if (fileBacked) SparkTestSession.twoJobForm(search(pred)) else search(pred)
      assert(hits == e, s"round $round, filter $pred")
      if (round == 2) assert(jobs == (if (fileBacked) 1 else 0),
        s"warm filtered grid search launched $jobs jobs (file-backed: $fileBacked)")
    }
    // another spelling of a memoized predicate resolves to its entry
    val (hits, jobs) = SparkTestSession.twoJobForm(search(lit(sources.last) === col("source")))
    assert(hits == expect(1) && jobs == 1, s"$jobs jobs")
    // a drop forgets the memo: the rebuilt layout restarts at generation
    // 1 over more rows
    lib.dropGridIndex()
    lib.addDocuments(docs.filter(col("doc_id") >= 120).limit(60))
    lib.buildGridIndex()
    preds.foreach(pred => assert(search(pred)._1 == expected(pred), s"after rebuild, $pred"))
    lib.delete()
  }

  /** A library holding all five persisted layouts over `docs`. */
  private def fiveLayoutLibrary(tag: String,
      docs: org.apache.spark.sql.DataFrame): (VectorLibrary, String) = {
    val root = Files.createTempDirectory(s"graft-lib-$tag").toString
    val lib = new VectorLibrary(spark, root, s"$tag-lib")
    lib.addDocuments(docs)
    lib.buildPartitionedIndex(); lib.buildIvfIndex(nCentroids = 4); lib.buildGridIndex()
    lib.buildPqIndex(m = 2, kk = 8); lib.buildIvfPqIndex(nCentroids = 4, m = 2, kk = 8)
    (lib, root)
  }

  test("addDocuments appends every layout once, leaves nothing to repair, and trees open without a job") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    val (lib, root) = fiveLayoutLibrary("fanout", docs.filter(col("doc_id") < 40))
    def generations() = lib.manifestInfo.collect()
      .map(r => r.getAs[String]("tree") -> r.getAs[Long]("generation")).toMap
    val before = generations()
    assert(before.keySet == Set("store", "lsh", "ivf", "grid", "pq", "ivfpq"),
      s"not every tree is manifested: $before")
    lib.addDocuments(docs.filter(col("doc_id") >= 40))
    val after = generations()
    assert(after == before.map { case (t, g) => t -> (g + 1) },
      s"each tree must commit exactly one generation per ingest: $before -> $after")
    val healed = lib.repairIndexes()
    assert(healed.values.forall(_ == ((0L, 0L))), s"the ingest left layouts short: $healed")

    // every tree opens from its schema record: no Spark job, and the
    // schema a listing read infers
    val trees = Seq(
      "chunks" -> Seq("source" -> StringType),
      "lsh_index" -> Seq("tbl" -> IntegerType, "bucket" -> IntegerType),
      "ivf_index/assigned" -> Seq("cluster" -> IntegerType),
      "grid_index/cells" -> Seq("cell" -> StringType),
      "pq_index/codes" -> Seq("source" -> StringType),
      "ivfpq_index/encoded" -> Seq("cluster" -> IntegerType))
    for ((rel, parts) <- trees) {
      val dir = s"$root/fanout-lib/$rel"
      val (df, jobs) = SparkJobs.count(spark)(manifestRead(dir, parts: _*))
      assert(jobs == 0, s"opening $rel launched $jobs Spark job(s)")
      assert(df.schema == spark.read.parquet(dir).schema,
        s"$rel opened as ${df.schema.simpleString}, its listing reads as " +
        spark.read.parquet(dir).schema.simpleString)
    }
    lib.delete()
  }

  test("index builds write each layout's sidecars at its head generation, with exact schemas, and record every param") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-lib-buildout").toString
    val lib = new VectorLibrary(spark, root, "buildout-lib")
    // a fitted layout has nothing to fit on an empty library
    Seq[() => Unit](() => lib.buildIvfIndex(), () => lib.buildGridIndex(),
      () => lib.buildPqIndex(), () => lib.buildIvfPqIndex())
      .foreach(build => intercept[IllegalArgumentException](build()))
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60))
    lib.buildPartitionedIndex(); lib.buildIvfIndex(nCentroids = 4)
    lib.buildGridIndex(gridDims = 3, cellsPerDim = 5)
    lib.buildPqIndex(m = 2, kk = 8); lib.buildIvfPqIndex(nCentroids = 5, m = 4, kk = 6)
    val dir = s"$root/buildout-lib"
    val heads = lib.manifestInfo.collect()
      .map(r => r.getAs[String]("tree") -> r.getAs[Long]("generation")).toMap
    def schema(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val centroids = schema("cluster" -> IntegerType, "centroid" -> ArrayType(DoubleType))
    val stats = schema("n" -> LongType, "mean_sq_dist" -> DoubleType)
    def books(word: String) =
      schema("s" -> IntegerType, "j" -> IntegerType, word -> ArrayType(DoubleType))
    val sidecars = Map(
      "grid" -> Map("bounds" -> schema("d" -> IntegerType, "lo" -> DoubleType,
        "hi" -> DoubleType, "cells_per_dim" -> IntegerType)),
      "ivf" -> Map("centroids" -> centroids, "stats" -> stats),
      "pq" -> Map("books" -> books("c")),
      "ivfpq" -> Map("centroids" -> centroids, "books" -> books("codeword"), "stats" -> stats))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("lsh", "ivf", "grid", "pq", "ivfpq").foreach { l =>
      val layoutDir = s"$dir/${l}_index"
      val written = fs.listStatus(new org.apache.hadoop.fs.Path(layoutDir))
        .map(_.getPath.getName).filter(_.contains(".g")).toSet
      val want = sidecars.getOrElse(l, Map.empty[String, StructType])
      assert(written == want.keySet.map(b => f"$b.g${heads(l)}%09d"),
        s"$l sidecars $written, expected ${want.keySet} at generation ${heads(l)}")
      want.foreach { case (base, expected) =>
        val got = spark.read.parquet(f"$layoutDir/$base.g${heads(l)}%09d").schema
        assert(got == expected, s"$l $base schema $got")
      }
    }
    val params = Map("ivf_centroids" -> "4", "grid_dims" -> "3", "grid_cells_per_dim" -> "5",
      "pq_m" -> "2", "pq_k" -> "8", "ivfpq_ncentroids" -> "5", "ivfpq_m" -> "4", "ivfpq_k" -> "6")
    assert(lib.metadata.filter { case (k, _) => params.contains(k) } == params, lib.metadata.toString)
    lib.delete()
  }

  test("a copy-on-write delete keeps the column order of every tree's files") {
    import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    val (lib, root) = fiveLayoutLibrary("colorder", docs)
    val dir = s"$root/colorder-lib"
    val trees = Seq[(String, Seq[(String, DataType)])](
      "chunks" -> Seq("source" -> StringType),
      "lsh_index" -> Seq("tbl" -> IntegerType, "bucket" -> IntegerType),
      "ivf_index/assigned" -> Seq("cluster" -> IntegerType),
      "grid_index/cells" -> Seq("cell" -> StringType),
      "pq_index/codes" -> Seq("source" -> StringType),
      "ivfpq_index/encoded" -> Seq("cluster" -> IntegerType))
    /** Per tree: its live files, and the column orders their footers hold. */
    def layout(): Map[String, (Set[String], Set[Seq[String]])] = trees.map { case (t, parts) =>
      val files = new graft.plans.ManifestedTree(spark, s"$dir/$t",
        StructType(parts.map { case (n, d) => StructField(n, d) })).readManifest().get.map(_._1)
      t -> ((files.toSet, files.map(f => graft.plans.ManifestFileIndex
        .footerSchema(spark, s"$dir/$t/$f").fieldNames.toSeq).toSet))
    }.toMap
    val before = layout()
    assert(before.values.forall(_._2.size == 1), s"mixed column orders before the delete: $before")
    lib.deleteDocuments(col("doc_id") === docs.select(min(col("doc_id"))).head.getLong(0))
    val after = layout()
    trees.foreach { case (t, _) =>
      assert(after(t)._1 != before(t)._1, s"$t rewrote no file")
      assert(after(t)._2 == before(t)._2, s"$t column orders ${before(t)._2} -> ${after(t)._2}")
    }
    lib.delete()
  }

  test("single searches: exact job counts per algorithm, and no plan broadcasts") {
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    val (lib, _) = fiveLayoutLibrary("jobs", docs)
    val qt = "spark join stream table filter"
    val src = lib.chunks.select("source").head.getString(0)
    val e = lib.epochs.last
    val calls = Seq[(String, () => Array[org.apache.spark.sql.Row])](
      "head" -> (() => lib.search(qt, 10).collect()),
      "filtered" -> (() => lib.search(qt, 10, filter = Some(col("source") === src)).collect()),
      "pinned" -> (() => lib.searchAt(e, qt, 10).collect()))
    // every physical plan a search executes, AQE re-plans included
    val broadcasts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def names(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(names)
    def record(p: SparkPlanInfo, desc: String): Unit =
      if (names(p).exists(_.contains("BroadcastExchange"))) broadcasts.add(desc)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(ev: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        ev match {
          case s: SparkListenerSQLExecutionStart => record(s.sparkPlanInfo, s.physicalPlanDescription)
          case u: SparkListenerSQLAdaptiveExecutionUpdate =>
            record(u.sparkPlanInfo, u.physicalPlanDescription)
          case _ =>
        }
    }
    def counts() = VectorLibrary.algorithms.flatMap { a =>
      lib.setAlgorithm(a)
      calls.foreach(_._2()) // warm: serving memos, geometry loads, resident rows
      SparkJobs.settle(spark)
      spark.sparkContext.addSparkListener(listener)
      try calls.map { case (kind, call) =>
        val (_, jobs) = SparkJobs.count(spark)(call())
        assert(broadcasts.isEmpty,
          s"$a $kind search broadcast:\n${broadcasts.peek}")
        s"$a.$kind" -> jobs
      } finally spark.sparkContext.removeSparkListener(listener)
    }.toMap
    def map(m: Map[String, (Int, Int, Int)]) = m.flatMap { case (a, (h, f, p)) =>
      Seq(s"$a.head" -> h, s"$a.filtered" -> f, s"$a.pinned" -> p) }
    // no job: every tree of the library is under the small-relation
    // threshold, so each search reads its generation from driver memory
    // and ranks it on the driver (the pinned epoch is the head's)
    val resident = counts()
    assert(resident == map(VectorLibrary.algorithms.map(_ -> ((0, 0, 0))).toMap),
      s"jobs per warm single search: ${resident.toSeq.sorted}")
    // file-backed (no tree is small): one job each, two for the
    // two-phase kernels, whose shortlist is re-read by an id In-filter;
    // the partitioned lsh probe and the filtered grid occupancy
    // (memoized per generation and filter) keep one
    val fileBacked = SparkTestSession.twoJobForm(counts())
    val expected = map(Map(
      "flat" -> (1, 1, 1), "lsh" -> (1, 1, 1), "grid" -> (1, 1, 1), "ivf" -> (1, 1, 1),
      "quantized" -> (2, 2, 2), "binary" -> (2, 2, 2), "pq" -> (2, 2, 2),
      "ivfpq" -> (2, 2, 2)))
    assert(fileBacked == expected, s"jobs per warm file-backed search: ${fileBacked.toSeq.sorted}")
    lib.delete()
  }

  test("resident and file-backed single searches give the same answers") {
    import org.apache.spark.sql.Row
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    val (lib, _) = fiveLayoutLibrary("same", docs)
    val texts = Seq("spark join stream table filter", "tokenize documents fast")
    val src = lib.chunks.select("source").head.getString(0)
    // one document's chunks: fewer rows than k and than any shortlist,
    // so over a resident frame the optimizer drops the ordered limit
    val smallest = lib.chunks.groupBy("doc_id").count()
      .orderBy(col("count").asc, col("doc_id").asc).head
    assert(smallest.getLong(1) < 10, s"no document has fewer than 10 chunks: $smallest")
    val filters = Seq("none" -> None, "source" -> Some(col("source") === src),
      "one document" -> Some(col("doc_id") === smallest.getLong(0)),
      "no rows" -> Some(col("source") === "no such source"))
    // 64-bit sign codes tie: the binary shortlist's boundary is decided
    // by the id tie-break
    val hamming = lib.chunks.select(GraftFunctions.bitHamming(col("bits"),
      GraftFunctions.bitPack(typedLit(lib.queryVector(texts.head)))).as("h"))
    assert(hamming.groupBy("h").count().filter(col("count") > 1).count() > 0)
    val e = lib.epochs.last
    for (a <- VectorLibrary.algorithms; t <- texts; (fname, f) <- filters;
         pinned <- Seq(false, true)) {
      lib.setAlgorithm(a)
      def run(): (org.apache.spark.sql.types.StructType, Seq[Row]) = {
        val r = if (pinned) lib.searchAt(e, t, 10, filter = f) else lib.search(t, 10, filter = f)
        (r.schema, r.collect().toSeq)
      }
      val what = s"$a '$t' filter $fname${if (pinned) " pinned" else ""}"
      val (schema1, rows1) = run()
      val (schema2, rows2) = SparkTestSession.twoJobForm(run())
      assert(rows1 == rows2, s"$what: resident $rows1, file-backed $rows2")
      assert(schema1 == schema2, s"$what: resident $schema1, file-backed $schema2")
      assert(fname != "no rows" || rows1.isEmpty, s"$what: $rows1")
      assert(a != "flat" || fname == "no rows" || rows1.nonEmpty, s"$what: no rows")
    }
    assert(lib.residentGenerations.keySet == Set("store", "lsh", "ivf", "grid", "pq", "ivfpq"),
      s"resident trees: ${lib.residentGenerations}")
    lib.delete()
  }

  test("each new generation is held in memory from its second search: one job each, then none") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    val root = Files.createTempDirectory("graft-lib-fresh").toString
    val lib = new VectorLibrary(spark, root, "fresh")
    lib.addDocuments(docs.filter(col("doc_id") < 30))
    lib.buildPartitionedIndex()
    val qt = "spark join stream table filter"
    def generation(tree: String) = lib.manifestInfo.collect()
      .find(_.getAs[String]("tree") == tree).get.getAs[Long]("generation")
    // the first search of `tree`'s new generation reads its files, the
    // second loads them in one job, and every later one reads them from
    // memory; all equal the file-backed answer
    def served(a: String, tree: String, filter: Option[org.apache.spark.sql.Column] = None) = {
      lib.setAlgorithm(a)
      def search() = SparkJobs.count(spark)(lib.search(qt, 10, filter = filter).collect().toSeq)
      val (first, jobs1) = search()
      assert(!lib.residentGenerations.get(tree).contains(generation(tree)))
      val (second, jobs2) = search()
      val (warm, jobs3) = search()
      val files = SparkTestSession.twoJobForm(lib.search(qt, 10, filter = filter).collect().toSeq)
      assert((jobs1, jobs2, jobs3) == (1, 1, 0), s"$a after a commit: $jobs1, $jobs2, $jobs3 jobs")
      assert(Seq(second, warm, files).forall(_ == first),
        s"$a: first $first, second $second, warm $warm, file-backed $files")
      assert(lib.residentGenerations(tree) == generation(tree))
      first.map(_.getString(0))
    }
    served("flat", "store"); served("lsh", "lsh")
    val added = docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)
    val addedDoc = added.select("doc_id").head.getLong(0)
    val byDoc = Some(col("doc_id") === addedDoc)
    lib.addDocuments(added)
    assert(served("flat", "store", byDoc).nonEmpty, s"added document $addedDoc not found")
    lib.deleteDocuments(col("doc_id") === addedDoc)
    assert(served("flat", "store", byDoc).isEmpty, s"deleted document $addedDoc still found")
    assert(!lib.search(qt, 100).collect().exists(_.getString(0).contains(s"#$addedDoc#")))
    val before = generation("store")
    lib.compactIndexes(maxFilesPerPartition = 1)
    assert(generation("store") > before, "compaction committed no store generation")
    assert(!served("flat", "store").exists(_.contains(s"#$addedDoc#")))
    lib.dropPartitionedIndex()
    lib.addDocuments(docs.filter(col("doc_id") >= 40))
    lib.buildPartitionedIndex()
    served("lsh", "lsh")
    lib.delete()
  }

  test("a tree over the small-relation threshold holds nothing in memory and keeps its plan") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    val root = Files.createTempDirectory("graft-lib-threshold").toString
    val lib = new VectorLibrary(spark, root, "threshold")
    lib.addDocuments(docs)
    lib.buildPartitionedIndex()
    val bytes = lib.manifestInfo.collect()
      .map(r => r.getAs[String]("tree") -> r.getAs[Long]("live_bytes")).toMap
    // the lsh index holds a row per table, so it is the larger tree: a
    // threshold between the two keeps the store resident and the index
    // on its files
    assert(bytes("lsh") > bytes("store"), s"tree bytes: $bytes")
    val qt = "spark join stream table filter"
    def search(a: String) = {
      lib.setAlgorithm(a)
      SparkJobs.plans(spark)(SparkJobs.count(spark)(lib.search(qt, 10).collect()))
    }
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold",
        ((bytes("store") + bytes("lsh")) / 2).toString) {
      for (a <- Seq("flat", "lsh"); _ <- 1 to 2) search(a)
      assert(lib.residentGenerations.keySet == Set("store"), s"resident: ${lib.residentGenerations}")
      assert(search("flat")._1._2 == 0, "a warm flat search of the resident store ran a job")
      // the index's probe as before: one job, one ordered scan of its
      // pruned directories
      val ((_, jobs), plans) = search("lsh")
      assert(jobs == 1, s"an lsh search over the index's files ran $jobs jobs")
      val scans = plans.filter(_.contains("ReadSchema"))
      assert(scans.size == 1 && scans.head.contains("TakeOrderedAndProject") &&
        scans.head.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("bucket")),
        s"lsh search plans:\n${plans.mkString("\n---\n")}")
    }
    lib.delete()
  }

  test("a tree over the residency cap is read from its files, whatever the threshold") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lib-cap").toString
    val lib = new VectorLibrary(spark, root, "cap")
    // long chunks of random words: a store past the cap in few rows
    val r = new scala.util.Random(3)
    lib.addChunkedDocuments((0 until 2000).map(i => (i / 4L, i % 4,
        Seq.fill(600)(s"w${r.nextInt(20000)}").mkString(" "), s"src${i % 20}"))
      .toDF("doc_id", "chunk_idx", "chunk_text", "source"))
    val bytes = lib.manifestInfo.collect()
      .find(_.getAs[String]("tree") == "store").get.getAs[Long]("live_bytes")
    assert(bytes > VectorLibrary.ResidentMaxBytes, s"store bytes: $bytes")
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold", (2 * bytes).toString) {
      for (i <- 1 to 3) {
        val (rows, jobs) = SparkJobs.count(spark)(lib.search("w1 w2 w3", 10).collect())
        assert(rows.length == 10 && jobs == 1, s"search $i: ${rows.length} rows, $jobs jobs")
      }
      assert(lib.residentGenerations.isEmpty, s"resident: ${lib.residentGenerations}")
    }
    lib.delete()
  }

  test("another instance's drop and rebuild at a held generation is served after this instance's next mutation") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30)
    val root = Files.createTempDirectory("graft-lib-twoheads").toString
    val a = new VectorLibrary(spark, root, "two")
    a.addDocuments(docs)
    a.buildPartitionedIndex()
    a.setAlgorithm("lsh")
    val victim = a.chunks.orderBy("chunk_id").head
    val victimId = victim.getAs[String]("chunk_id")
    // the victim's own text scores it first under the symmetric embedder
    def found(lib: VectorLibrary) = lib.search(victim.getAs[String]("chunk_text"), 10)
      .collect().map(_.getString(0)).contains(victimId)
    assert(found(a) && found(a), s"chunk $victimId not found")
    def generation(lib: VectorLibrary) = lib.manifestInfo.collect()
      .find(_.getAs[String]("tree") == "lsh").get.getAs[Long]("generation")
    val held = a.residentGenerations.get("lsh")
    assert(held.contains(generation(a)), s"resident: ${a.residentGenerations}")
    // another instance deletes the victim's document, then drops and
    // rebuilds the index, which restarts at the generation `a` holds
    val b = new VectorLibrary(spark, root, "two")
    b.deleteDocuments(col("doc_id") === victim.getAs[Long]("doc_id"))
    b.dropPartitionedIndex()
    b.buildPartitionedIndex()
    assert(held.contains(generation(b)), s"rebuilt at ${generation(b)}, held $held")
    assert(!found(b))
    // `a` adopts the other instance's commits at its own next mutation,
    // one that leaves the lsh tree alone; then the rebuilt generation
    // is read from its files and held again
    a.buildIvfIndex(4)
    assert(!a.residentGenerations.contains("lsh"), s"resident: ${a.residentGenerations}")
    for (i <- 1 to 3) assert(!found(a), s"search $i after the mutation returned deleted chunk $victimId")
    assert(a.residentGenerations.get("lsh") == held)
    a.delete()
  }

  test("queryVector launches no job and no SQL execution, and returns the embedder's floats") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lib-qvec").toString
    val lib = new VectorLibrary(spark, root, "qvec")
    val embedder = new DeterministicEmbedder(64, 42L)
    for (t <- Seq("spark join stream table filter", "", "tokenize documents fast")) {
      lib.queryVector(t) // warm
      val ((qv, jobs), runs) = SparkJobs.executions(spark)(SparkJobs.count(spark)(lib.queryVector(t)))
      assert(jobs == 0 && runs.isEmpty, s"'$t': $jobs jobs, ${runs.size} SQL executions")
      val collected = Seq(t).toDF("t").select(embedder.embed(col("t"), "search_query"))
        .collect()(0).getSeq[Float](0)
      assert(qv.toSeq == collected, s"'$t': $qv differs from ${collected}")
    }
    lib.delete()
  }

  test("grid bounds load in one job") {
    val root = Files.createTempDirectory("graft-lib-gridbounds").toString
    val lib = new VectorLibrary(spark, root, "gb")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30))
    lib.buildGridIndex(gridDims = 3, cellsPerDim = 5)
    val sidecar = geomRead(s"$root/gb/grid_index/bounds").inputFiles.head
      .replaceAll("/[^/]+$", "")
    val (current, jobs) = SparkJobs.count(spark)(lib.gridBoundsAt(sidecar))
    assert(jobs == 1, s"loading the bounds sidecar launched $jobs jobs")
    assert(current._3 == 3 && current._4 == 5)
    lib.delete()
  }

  test("an index build keeps the other layouts' generation facts: the next grid search pays no extra job") {
    val root = Files.createTempDirectory("graft-lib-genmemo").toString
    val lib = new VectorLibrary(spark, root, "genmemo")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40))
    lib.buildGridIndex()
    lib.setAlgorithm("grid")
    val qt = "spark join stream table filter"
    lib.search(qt, 5).collect()
    val (warmHits, warm) = SparkJobs.count(spark)(lib.search(qt, 5).collect())
    // a build of another layout commits only its own tree: the store's
    // emptiness, the grid occupancy and the bounds it loaded still hold
    lib.buildPqIndex(m = 4, kk = 8)
    val (hits, next) = SparkJobs.count(spark)(lib.search(qt, 5).collect())
    assert(next <= warm, s"grid search after a pq build launched $next jobs, warm $warm")
    assert(hits.toSeq == warmHits.toSeq)
    lib.delete()
  }

  test("fan-out jobs carry the calling thread's Spark local properties") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    val (lib, _) = fiveLayoutLibrary("props", docs.filter(col("doc_id") < 40))
    val sc = spark.sparkContext
    val key = "graft.spec.caller"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!SparkJobs.isMarker(e))
          seen.add(String.valueOf(Option(e.properties).map(_.getProperty(key)).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "A")
      lib.addDocuments(docs.filter(col("doc_id") >= 40))
      SparkJobs.settle(spark)
      assert(seen.size > 0 && seen.toArray.forall(_ == "A"), s"add jobs carried $seen")
      seen.clear()
      // the delete's resolutions and rewrites fan out across its six
      // trees right after the add's appends fanned out across five
      sc.setLocalProperty(key, "B")
      lib.deleteDocuments(col("doc_id") < 20)
      SparkJobs.settle(spark)
      import scala.jdk.CollectionConverters._
      val props = seen.asScala.toSeq
      assert(props.nonEmpty && props.forall(_ == "B"),
        s"delete jobs carried ${props.groupBy(identity).map { case (p, n) => p -> n.size }}")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    lib.delete()
  }

  test("a failed delete rethrows only after every concurrent resolution and rewrite finished") {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    val (lib, root) = fiveLayoutLibrary("cowfail", docs)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    // Flip one byte inside the embedding column of every live lsh file,
    // behind the filesystem's back: its checksum no longer matches, so
    // the lsh tree's part of the delete fails while the other five
    // trees' resolutions and rewrites run on.
    val lshRoot = s"$root/cowfail-lib/lsh_index"
    graft.plans.ManifestedTree.liveManifestText(spark, lshRoot).split('\n')
      .map(_.split('\t')(0)).foreach { rel =>
        val p = new Path(s"$lshRoot/$rel")
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        val column = try reader.getFooter.getBlocks.get(0).getColumns.asScala
          .find(_.getPath.toDotString.startsWith("embedding")).get
          finally reader.close()
        val at = column.getStartingPos + column.getTotalSize / 2
        val raw = new java.io.RandomAccessFile(p.toUri.getPath, "rw")
        try { raw.seek(at); val b = raw.read(); raw.seek(at); raw.write(b ^ 0xff) }
        finally raw.close()
      }
    def cowState(): Map[String, Long] =
      fs.globStatus(new Path(s"$root/cowfail-lib/.*_cow")).toSeq.flatMap { d =>
        val it = fs.listFiles(d.getPath, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => f.getPath.toString -> f.getLen).toSeq
      }.toMap

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!SparkJobs.isMarker(e)) starts.put(e.jobId, e.time)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
    }
    SparkJobs.settle(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      intercept[Exception](lib.deleteDocuments(col("doc_id") < 30))
      val returnedAt = System.currentTimeMillis()
      val cow = cowState()
      // a task still running would write or launch jobs meanwhile
      Thread.sleep(3000)
      assert(cowState() == cow, "a copy-on-write rewrite kept writing after the delete threw")
      SparkJobs.settle(spark)
      val late = starts.asScala.collect {
        case (j, t) if t > returnedAt || !ends.containsKey(j) || ends.get(j) > returnedAt => j
      }
      assert(starts.size > 0 && late.isEmpty,
        s"jobs ${late.mkString(",")} were still running when deleteDocuments threw")
    } finally spark.sparkContext.removeSparkListener(listener)
    lib.delete()
  }

  test("quantized index probe: fully index-resident, codes-only phase 1") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = Files.createTempDirectory("graft-lib-quant").toString
    val lib = new VectorLibrary(spark, root, "quant-lib")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80))
    lib.buildPartitionedIndex()

    // With a rerank window covering every candidate, the two-phase
    // probe must equal the exact float probe over the same buckets.
    val exact = lib.searchApprox("spark join stream table filter", k = 10).collect()
    val wide = lib.searchApproxQuantized("spark join stream table filter",
      k = 10, rerankFactor = 10000).collect()
    assert(wide.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      exact.map(r => (r.getString(0), r.getDouble(1))).toSeq,
      "wide-window quantized probe diverged from the float probe")

    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    def probe() = SparkJobs.executions(spark)(
      lib.searchApproxQuantized("spark join stream table filter", k = 10).collect())
    def scansUnder(runs: Seq[org.apache.spark.sql.execution.QueryExecution], tree: String => Boolean) =
      runs.flatMap(r => scans(r.executedPlan))
        .filter(_.relation.location.rootPaths.exists(p => tree(p.toString)))

    // Above the small-relation threshold (here: none), two jobs. Both
    // phases scan the index, never the store; phase 1 reads the codes
    // column only (the float embeddings stay on disk).
    val (res, runs) = SparkTestSession.twoJobForm(probe())
    assert(res.length == 10)
    val idxScans = scansUnder(runs, _.contains("lsh_index"))
    assert(idxScans.size >= 2, "expected phase-1 and phase-2 scans over lsh_index")
    assert(idxScans.forall(_.partitionFilters.nonEmpty), "probe not partition-pruned")
    assert(idxScans.exists(s => s.schema.fieldNames.contains("quant") &&
      !s.schema.fieldNames.contains("embedding")),
      "no codes-only phase-1 scan — embedding column read in phase 1")
    val storeScans = scansUnder(runs, _.endsWith("chunks"))
    assert(storeScans.isEmpty, "quantized probe touched the chunk store")
    // Under it, one pruned index scan that carries the floats, and the
    // same answer.
    val (one, oneRuns) = probe()
    assert(one.toSeq == res.toSeq)
    val oneScans = scansUnder(oneRuns, _.contains("lsh_index"))
    assert(oneScans.size == 1 && oneScans.head.partitionFilters.nonEmpty &&
      oneScans.head.schema.fieldNames.contains("embedding"),
      s"the one-job probe is not one pruned scan carrying the floats: $oneScans")
    assert(scansUnder(oneRuns, _.endsWith("chunks")).isEmpty,
      "quantized probe touched the chunk store")
    lib.delete()
  }

  test("empty library: reads and searches yield empty results, not errors") {
    val root = Files.createTempDirectory("graft-lib-empty").toString
    val lib = new VectorLibrary(spark, root, "empty-lib")
    assert(lib.chunks.count() == 0)
    assert(lib.search("anything", 5).count() == 0)
    assert(lib.searchApprox("anything", 5).count() == 0)
    assert(lib.searchVector(Seq.fill(64)(0.1f), 5).count() == 0)
    assert(lib.searchBatch(Seq("a", "b"), 5).count() == 0)
    val st = lib.stats.collect()(0)
    assert(st.getAs[Long]("vector_count") == 0)
    lib.delete()
  }

  test("searchDiverse returns MMR-ordered distinct chunks seeded by the top hit") {
    val root = Files.createTempDirectory("graft-lib-mmr").toString
    val lib = new VectorLibrary(spark, root, "mmr-lib")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30))
    val q = "spark join stream table filter"
    val div = lib.searchDiverse(q, 5).collect()
    assert(div.length == 5)
    assert(div.map(_.getInt(0)).toSeq == (1 to 5))
    assert(div.map(_.getString(1)).distinct.length == 5)
    // rank 1 of the diverse list IS the flat top hit (MMR seed rule)
    val flat = lib.search(q, 1).collect()
    assert(div.head.getString(1) == flat.head.getString(0))
    assert(div.head.getDouble(2) == flat.head.getDouble(1))

    // batch twin: per-query selection ORDER identical to single-query
    val qs = Seq(q, "vector index search embedding", "window aggregate retention")
    val batch = lib.searchDiverseBatch(qs, 5).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getDouble(3))).toSeq)
      .toMap
    qs.zipWithIndex.foreach { case (t, i) =>
      val single = lib.searchDiverse(t, 5).collect()
        .map(r => (r.getString(1), r.getDouble(2))).toSeq
      assert(batch(i.toLong) == single,
        s"searchDiverseBatch diverged from searchDiverse for query $i")
    }
    // filter composes: every batch hit satisfies the predicate
    val pred = col("source").isin("src1", "src2", "src3", "src4", "src5")
    val fb = lib.searchDiverseBatch(qs, 3, filter = Some(pred))
    val fbSrcs = lib.chunks.join(fb.withColumnRenamed("chunk_id", "chunk_id"),
      "chunk_id").select(col("source")).collect().map(_.getString(0))
    assert(fbSrcs.forall(Set("src1", "src2", "src3", "src4", "src5")),
      "filtered searchDiverseBatch hit outside the predicate")
    lib.delete()
  }

  test("storeFileStats flags fragmented sources; compact clears the flag") {
    val root = Files.createTempDirectory("graft-lib-filestats").toString
    val lib = new VectorLibrary(spark, root, "fs-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(10)
    lib.addDocuments(docs)
    // second append hits the SAME sources (new doc ids) — each source
    // partition now holds one file per micro-batch, the fragmentation
    // streaming ingest produces
    lib.addDocuments(docs.withColumn("doc_id", col("doc_id") + 1000))
    val before = lib.storeFileStats().collect()
    assert(before.nonEmpty)
    assert(before.map(_.getLong(1)).sum >= 2, "two appends must leave >= 2 files")
    assert(before.exists(_.getBoolean(5)), "fragmented source not flagged")
    val total = before.map(_.getLong(2)).sum
    lib.compact(1)
    val after = lib.storeFileStats().collect()
    assert(after.map(_.getLong(1)).max == 1, "compact(1) must leave 1 file/source")
    assert(after.forall(!_.getBoolean(5)), "compacted store still flagged")
    // bytes are conserved within parquet re-encoding slack
    assert(after.map(_.getLong(2)).sum > 0 && total > 0)
    // row content untouched
    assert(lib.chunks.count() ==
      lib.chunks.select(col("chunk_id")).distinct().count())
    lib.delete()
  }

  test("ivf index info reports cluster occupancy and drift") {
    val root = Files.createTempDirectory("graft-lib-ivfinfo").toString
    val lib = new VectorLibrary(spark, root, "ivfinfo-lib")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40))
    intercept[IllegalArgumentException] { lib.ivfIndexInfo }
    lib.buildIvfIndex(nCentroids = 8)

    val info = lib.ivfIndexInfo.collect()(0)
    val occupied = info.getAs[Long]("occupied_clusters")
    assert(info.getAs[Int]("total_clusters") == 8)
    assert(occupied > 0 && occupied <= 8)
    assert(info.getAs[Long]("empty_clusters") == 8 - occupied)
    assert(info.getAs[Long]("max_cluster_size") >=
      math.ceil(info.getAs[Double]("avg_cluster_size")).toLong)
    // a freshly built index has drift ~ 1.0 by construction
    val drift = info.getAs[Double]("drift_ratio")
    assert(drift > 0.99 && drift < 1.01, s"fresh-build drift $drift")
    lib.delete()
  }

  test("allIndexInfo rolls up every library's index health in one frame") {
    val root = Files.createTempDirectory("graft-lib-fleet").toString
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    val a = new VectorLibrary(spark, root, "fleet-a")
    a.addDocuments(docs.filter(col("doc_id") < 20))
    a.buildIvfIndex()
    a.buildGridIndex()
    a.setAlgorithm("ivf")
    val b = new VectorLibrary(spark, root, "fleet-b")
    b.addDocuments(docs.filter(col("doc_id") >= 20))
    b.buildIvfPqIndex()
    b.setAlgorithm("ivfpq")
    val c = new VectorLibrary(spark, root, "fleet-empty") // no data: no rows

    val info = VectorLibrary.allIndexInfo(spark, root)
    val rows = info.collect().map(r =>
      (r.getAs[String]("library"), r.getAs[String]("index_type")) -> r).toMap
    // every populated library contributes its LSH row plus one row per
    // persisted cluster index; the empty library contributes nothing
    assert(rows.keySet == Set(
      ("fleet-a", "lsh"), ("fleet-a", "grid"), ("fleet-a", "ivf"),
      ("fleet-b", "lsh"), ("fleet-b", "ivfpq")), rows.keySet.toString)
    val aGrid = rows(("fleet-a", "grid"))
    assert(aGrid.getAs[Long]("occupied_cells") > 0 &&
      aGrid.getAs[Long]("occupied_cells") <= aGrid.getAs[Long]("total_cells"))
    assert(aGrid.isNullAt(aGrid.fieldIndex("drift_ratio")))
    assert(!rows.keys.exists(_._1 == "fleet-empty"))
    val aIvf = rows(("fleet-a", "ivf"))
    assert(aIvf.getAs[String]("algorithm") == "ivf")
    assert(aIvf.getAs[Long]("occupied_cells") > 0)
    assert(aIvf.getAs[Long]("total_cells") ==
      aIvf.getAs[Long]("occupied_cells") + aIvf.getAs[Long]("empty_cells"))
    assert(!aIvf.isNullAt(aIvf.fieldIndex("drift_ratio")))
    // LSH rows have no frozen geometry: drift is null there
    assert(rows(("fleet-a", "lsh")).isNullAt(
      rows(("fleet-a", "lsh")).fieldIndex("drift_ratio")))
    val bPq = rows(("fleet-b", "ivfpq"))
    assert(bPq.getAs[String]("algorithm") == "ivfpq")
    assert(bPq.getAs[Long]("max_cell_size") >=
      math.ceil(bPq.getAs[Double]("avg_cell_size")).toLong)
    a.delete(); b.delete(); c.delete()
  }

  test("updateChunk re-embeds one chunk in place, identity preserved") {
    val root = Files.createTempDirectory("graft-lib-upd").toString
    val lib = new VectorLibrary(spark, root, "upd-lib")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(20))
    val target = lib.chunks.orderBy(col("chunk_id")).limit(1).collect()(0)
    val id = target.getAs[String]("chunk_id")
    val before = lib.chunks.count()

    lib.updateChunk(id, "replacement text about spark joins")
    assert(lib.chunks.count() == before, "chunk count changed")
    val updated = lib.chunks.filter(col("chunk_id") === id).collect()(0)
    assert(updated.getAs[String]("chunk_text") == "replacement text about spark joins")
    assert(updated.getAs[Long]("doc_id") == target.getAs[Long]("doc_id"))
    assert(updated.getAs[String]("source") == target.getAs[String]("source"))
    assert(updated.getSeq[Float](updated.fieldIndex("embedding")) !=
      target.getSeq[Float](target.fieldIndex("embedding")),
      "embedding not re-derived")

    // the identity fetch prunes: with a source hint the store scan
    // carries partition filters (one source= directory), and the
    // doc_id parsed from the chunk_id rides as a data filter for
    // row-group skipping — never a full-store scan per PUT
    {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val src = target.getAs[String]("source")
      val lookup = lib.chunkLookup(id, Some(src))
      assert(lookup.count() == 1)
      val scan = scans(lookup.queryExecution.executedPlan)
      assert(scan.nonEmpty, "no file scan in chunk lookup plan")
      assert(scan.head.partitionFilters.nonEmpty,
        "source hint not pushed as a partition filter")
      assert(scan.head.dataFilters.exists(_.references.exists(_.name == "doc_id")),
        "parsed doc_id not pushed as a data filter")
      // sourceless lookup still narrows by the parsed doc_id
      val bare = lib.chunkLookup(id)
      assert(scans(bare.queryExecution.executedPlan)
        .head.dataFilters.exists(_.references.exists(_.name == "doc_id")))
      // source-hinted update behaves identically to the bare one
      lib.updateChunk(id, "second replacement text", Some(src))
      assert(lib.chunks.filter(col("chunk_id") === id).head
        .getAs[String]("chunk_text") == "second replacement text")
    }

    intercept[IllegalArgumentException] { lib.updateChunk("no-such-chunk", "x") }

    // metric threads through the approx paths (candidates from the
    // LSH buckets, ranking by the requested similarity)
    assert(lib.searchApprox("spark joins", 3, "dot_product").count() == 3)
    lib.delete()
  }

  test("searchBatch routes every algorithm and matches per-query search") {
    val root = Files.createTempDirectory("graft-lib-dispatch").toString
    val lib = new VectorLibrary(spark, root, "dispatch-lib")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40))
    val qs = Seq("spark join stream table filter", "vector index search embedding")
    for (alg <- Seq("flat", "lsh", "grid", "ivf", "quantized", "binary", "pq")) {
      lib.setAlgorithm(alg)
      // batch first: under "ivf" it builds the on-disk index that the
      // per-query path then probes, so both sides serve the same index.
      val rows = lib.searchBatch(qs, 5).collect()
      val byQuery = qs.indices.map(i => rows.filter(_.getLong(0) == i.toLong)
        .sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq)
      val single = qs.map(q => lib.search(q, 5).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq)
      assert(byQuery == single, s"algorithm $alg: batch diverged from per-query")
    }

    // payload variant: same hits, chunk columns riding along
    lib.setAlgorithm("flat")
    val withChunks = lib.searchBatchWithChunks(qs, 5).collect()
    assert(withChunks.length == qs.size * 5)
    assert(withChunks.forall(r => r.getAs[String]("chunk_text").nonEmpty))

    // raw-vector entry point routes through the same dispatch: with a
    // non-flat algorithm, searchVector(embed(q)) == search(q)
    lib.setAlgorithm("quantized")
    val qv = spark.range(1).select(graft.GraftFunctions.embedTextTyped(
      lit(qs.head), "search_query", 64, 42L).as("v")).head.getSeq[Float](0)
    val viaVector = lib.searchVector(qv, 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaText = lib.search(qs.head, 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaVector == viaText, "searchVector did not route through the algorithm dispatch")
    lib.delete()
  }

  test("partitioned index compaction: only oversized dirs rewrite, results unchanged") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-compact").toString
    val lib = new VectorLibrary(spark, root, "compact-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    lib.addDocuments(docs.filter(col("doc_id") < 20))
    lib.buildPartitionedIndex()
    // Three incremental appends leave up to 4 files per touched dir.
    (1 to 3).foreach(i => lib.addDocuments(
      docs.filter(col("doc_id") >= i * 20 - 20 && col("doc_id") < i * 20)
        .withColumn("doc_id", col("doc_id") + i * 1000)))

    val idxRoot = new Path(s"$root/compact-lib/lsh_index")
    val idxSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tbl",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType)))
    // fragmentation is what readers PLAN: census the manifest-live
    // files per dir (a fresh handle per call — external handles cache
    // their own state). The on-disk listing also holds the retained
    // pre-compact fragments (restore horizon) — never count those.
    def freshTree() =
      new graft.plans.ManifestedTree(spark, idxRoot.toString, idxSchema)
    def fileCounts(): Map[String, Int] = freshTree().readManifest().get
      .groupBy(e => e._1.substring(0, e._1.lastIndexOf('/')))
      .map { case (d, fls) => d -> fls.size }

    val before = fileCounts()
    assert(before.values.max > 1, "appends did not produce multi-file dirs")
    val hitsBefore = lib.searchApprox("spark join stream table filter", k = 10).collect()
    val rowsBefore = freshTree().open().count()

    val n = lib.compactPartitionedIndex(maxFilesPerPartition = 1)
    assert(n == before.count(_._2 > 1), "compacted dir count != oversized dir count")
    val after = fileCounts()
    assert(after.values.max == 1, s"dirs still oversized: ${after.filter(_._2 > 1)}")
    // Untouched (already-single-file) dirs kept their file unmodified.
    assert(after.keySet == before.keySet, "compaction changed the directory set")

    assert(freshTree().open().count() == rowsBefore,
      "compaction changed index row count")
    val hitsAfter = lib.searchApprox("spark join stream table filter", k = 10).collect()
    assert(hitsAfter.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      hitsBefore.map(r => (r.getString(0), r.getDouble(1))).toSeq,
      "compaction changed search results")

    // Second pass is a no-op.
    assert(lib.compactPartitionedIndex(maxFilesPerPartition = 1) == 0)
    lib.delete()
  }

  test("index manifest: readers plan from committed files only; orphans invisible and vacuumed") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-manifest").toString
    val lib = new VectorLibrary(spark, root, "man-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs.filter(col("doc_id") < 20))
    lib.buildPartitionedIndex()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxRoot = s"$root/man-lib/lsh_index"
    assert(graft.plans.ManifestedTree.manifestExists(spark, idxRoot),
      "build must publish a manifest")
    val q = "spark join stream table filter"
    val before = lib.searchApprox(q, k = 10).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq

    // Plant an ORPHAN: a crashed writer's duplicate part-file in a
    // populated bucket dir. A listing reader would double those rows;
    // the manifest reader must not see it.
    val someFile = (for {
      t <- fs.listStatus(new Path(idxRoot)).toSeq if t.isDirectory
      b <- fs.listStatus(t.getPath).toSeq if b.isDirectory
      f <- fs.listStatus(b.getPath).toSeq
      if !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_")
    } yield f.getPath).head
    val orphan = new Path(someFile.getParent, "part-orphan-crashed.snappy.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, someFile, fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    lib.invalidateIndexes() // force a fresh plan — the point under test
    val withOrphan = lib.searchApprox(q, k = 10).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(withOrphan == before,
      "an uncommitted file changed search results — reader is not manifest-scoped")

    // Append commits THROUGH the manifest: new docs searchable, the
    // orphan still invisible.
    lib.addDocuments(docs.filter(col("doc_id") >= 20)
      .withColumn("doc_id", col("doc_id") + 1000))
    val manifest = graft.plans.ManifestedTree.liveManifestText(spark, idxRoot)
    assert(!manifest.contains("part-orphan-crashed"),
      "append splice adopted an uncommitted file into the manifest")

    // Compaction's vacuum removes unreferenced files in the dirs it
    // compacts; wherever the orphan's dir got compacted it is gone,
    // and results are unchanged either way.
    val afterAppend = lib.searchApprox(q, k = 10).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    // maxFiles=0 forces every populated dir (including the orphan's)
    // through the compact-flip-vacuum cycle
    lib.compactPartitionedIndex(maxFilesPerPartition = 0)
    val afterCompact = lib.searchApprox(q, k = 10).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(afterCompact == afterAppend, "compaction changed search results")
    assert(!fs.exists(orphan),
      "vacuum left an unreferenced file in a compacted directory")

    lib.delete()
  }

  test("a crash before the store's first manifest commit leaves orphans no read or append adopts") {
    val root = Files.createTempDirectory("graft-lib-firstcrash").toString
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(20)
    val src = new VectorLibrary(spark, Files.createTempDirectory("graft-lib-firstcrash-src").toString, "src")
    src.addDocuments(docs)
    val n = src.chunks.count()
    // the batch's rows reached the store directory; its commit never did
    src.chunks.write.partitionBy("source").parquet(s"$root/crash-lib/chunks")
    val lib = new VectorLibrary(spark, root, "crash-lib")
    assert(lib.chunks.count() == 0, "a store with no committed generation read its orphans")
    assert(manifestRead(s"$root/crash-lib/chunks",
      "source" -> org.apache.spark.sql.types.StringType).count() == 0,
      "a tree with no committed generation opened its orphans")
    lib.addDocuments(docs)
    assert(lib.chunks.count() == n, s"the first commit adopted orphans: ${lib.chunks.count()} != $n")
    assert(lib.chunks.select("chunk_id").distinct().count() == n)
    src.delete()
    lib.delete()
  }

  test("repairIndexes: a crash between tree commits heals from the store") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    import graft.plans.ManifestedTree
    val root = Files.createTempDirectory("graft-lib-repair").toString
    val lib = new VectorLibrary(spark, root, "repair-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs.filter(col("doc_id") < 20))
    lib.buildPartitionedIndex(); lib.buildGridIndex()
    val lshRoot = s"$root/repair-lib/lsh_index"
    val storeRoot = s"$root/repair-lib/chunks"
    def lshExt = new ManifestedTree(spark, lshRoot, StructType(Seq(
      StructField("tbl", IntegerType), StructField("bucket", IntegerType))))
    def storeExt = new ManifestedTree(spark, storeRoot, StructType(Seq(
      StructField("source", StringType))))
    val lshGenClean = lshExt.generations().last._1
    val storeGenClean = storeExt.generations().last._1
    lib.addDocuments(docs.filter(col("doc_id") >= 20)
      .withColumn("doc_id", col("doc_id") + 1000))
    val storeCount = lib.chunks.count()

    // clean library: repair is a no-op census
    assert(lib.repairIndexes().values.forall(_ == ((0L, 0L))),
      "repair touched a consistent library")

    // CRASH SHAPE 1 (missing): writer died after the store commit,
    // before the lsh commit — replayed by rolling the lsh manifest
    // back to its pre-append generation (batch-2 files become
    // invisible orphans, exactly the on-disk state a crash leaves)
    lshExt.rollbackTo(lshGenClean)
    lib.invalidateIndexes()
    val r1 = lib.repairIndexes()
    assert(r1("lsh")._1 > 0 && r1("lsh")._2 == 0,
      s"missing rows not detected/appended: $r1")
    assert(r1("grid") == ((0L, 0L)), s"grid was clean but repaired: $r1")
    val hit = lib.searchApprox("spark join stream table filter", k = 40)
    assert(hit.count() > 0, "search broke after repair")
    assert(lib.chunks.count() == storeCount, "repair must not touch the store")

    // CRASH SHAPE 2 (ghosts): writer died mid copy-on-write delete —
    // store committed, indexes kept the victims. Replayed by rolling
    // the STORE back to its pre-append generation: both indexes now
    // carry chunk_ids the store no longer holds.
    storeExt.rollbackTo(storeGenClean)
    lib.invalidateIndexes()
    val r2 = lib.repairIndexes()
    assert(r2("lsh")._2 > 0 && r2("grid")._2 > 0,
      s"ghost rows not detected: $r2")
    // fixed point: a second pass finds a fully consistent library
    val r3 = lib.repairIndexes()
    assert(r3.values.forall(_ == ((0L, 0L))), s"repair not a fixed point: $r3")
    lib.delete()
  }

  test("store/index skew window: a reader between the two commits sees a bounded, documented lag") {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import graft.plans.ManifestedTree
    // Ingest commits the store manifest, then each index manifest,
    // SEPARATELY (reference parity: background_tasks.py rebuilds are
    // async w.r.t. storage writes too). The CONTRACT a reader in that
    // window gets: (1) `chunks` is always the source of truth and
    // already shows the batch; (2) an index search still works and lags
    // by AT MOST the in-flight batch — never stale beyond it, never
    // wrong rows; (3) once the mutating call returns, search sees
    // everything. Interleaving is replayed exactly like the repair
    // spec: the index tree rolled to its pre-append generation is the
    // on-disk state between the two commits.
    val root = Files.createTempDirectory("graft-lib-skew").toString
    val lib = new VectorLibrary(spark, root, "skew-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs.filter(col("doc_id") < 20))
    lib.buildPartitionedIndex()
    val lshExt = new ManifestedTree(spark, s"$root/skew-lib/lsh_index",
      StructType(Seq(StructField("tbl", IntegerType),
        StructField("bucket", IntegerType))))
    val preGen = lshExt.generations().last._1
    val preIds = lib.chunks.select("chunk_id").collect().map(_.getString(0)).toSet

    lib.addDocuments(docs.filter(col("doc_id") >= 20)
      .withColumn("doc_id", col("doc_id") + 9000))
    val allIds = lib.chunks.select("chunk_id").collect().map(_.getString(0)).toSet

    // the between-commits window: store committed, index not yet
    lshExt.rollbackTo(preGen)
    lib.invalidateIndexes()
    // (1) the store is the source of truth — batch already visible
    assert(lib.chunks.count() == allIds.size)
    // (2) index search works and lags by at most the in-flight batch
    val winHits = lib.searchApprox("spark join stream table filter", k = 50)
      .collect().map(_.getString(0)).toSet
    assert(winHits.nonEmpty, "search broke inside the skew window")
    assert(winHits.subsetOf(preIds),
      "window search returned rows outside the pre-batch corpus")
    // (3) writer finishes (here: the repair path replays the index
    // commit); search now covers the batch
    lib.repairIndexes()
    val afterHits = lib.searchApprox("spark join stream table filter", k = 200)
      .collect().map(_.getString(0)).toSet
    assert(afterHits.exists(id => !preIds.contains(id)),
      "post-window search still missing the committed batch")
    assert(afterHits.subsetOf(allIds))
    lib.delete()
  }

  test("consistency epochs: an epoch reader never sees the skew window; crash leaves the previous epoch") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import graft.plans.ManifestedTree
    val root = Files.createTempDirectory("graft-lib-epoch").toString
    val lib = new VectorLibrary(spark, root, "epoch-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs.filter(col("doc_id") < 20))
    lib.buildPartitionedIndex()
    val eIdx = lib.epochs.last
    // an epoch tuple is cross-tree consistent: same chunk_id set on
    // both sides, by construction (recorded after ALL commits)
    def consistent(e: Long): Unit = {
      val v = lib.consistentAt(e)
      val store = v("store").select("chunk_id")
      val idx = v("lsh").select("chunk_id").distinct()
      assert(idx.join(store, Seq("chunk_id"), "left_anti").count() == 0,
        s"epoch $e: index ghosts vs its own store")
      assert(store.join(idx, Seq("chunk_id"), "left_anti").count() == 0,
        s"epoch $e: index missing rows vs its own store")
    }
    consistent(eIdx)
    val preIds = lib.chunksAt(eIdx).select("chunk_id").collect()
      .map(_.getString(0)).toSet

    lib.addDocuments(docs.filter(col("doc_id") >= 20)
      .withColumn("doc_id", col("doc_id") + 9000))
    val eBatch = lib.epochs.last
    assert(eBatch > eIdx, "mutation did not record a new epoch")
    consistent(eBatch)

    // CRASH replay: the writer died after the store commit, before the
    // index commit — so the index generation AND the epoch record never
    // happened. Roll the index back and drop the post-crash epoch; the
    // on-disk state is what the crash leaves.
    val lshExt = new ManifestedTree(spark, s"$root/epoch-lib/lsh_index",
      StructType(Seq(StructField("tbl", IntegerType),
        StructField("bucket", IntegerType))))
    lshExt.rollbackTo(lib.epochInfo(eIdx)("lsh"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    lib.epochs.filter(_ > eIdx).foreach { e =>
      fs.delete(new Path(f"$root/epoch-lib/_epochs/epoch.$e%09d"), false) }
    lib.invalidateIndexes()

    // the head reader sees the documented (bounded) lag; the EPOCH
    // reader sees the last completed mutation — fully consistent
    assert(lib.chunks.count() > preIds.size, "store lost the committed batch")
    assert(lib.epochs.last == eIdx, "crash left a half-committed epoch")
    consistent(eIdx)
    val hits = lib.searchApproxAt(eIdx, "spark join stream table filter", k = 50)
      .collect().map(_.getString(0)).toSet
    assert(hits.nonEmpty && hits.subsetOf(preIds),
      "epoch-pinned search saw rows from the half-committed mutation")

    // repair (a mutator) heals the head and records a fresh epoch
    lib.repairIndexes()
    val eHealed = lib.epochs.last
    assert(eHealed > eIdx)
    consistent(eHealed)
    assert(lib.chunksAt(eHealed).count() == lib.chunks.count())
    lib.delete()
  }

  test("epochs: a rebuilt library records its first epoch even when generation numbering repeats") {
    val root = Files.createTempDirectory("graft-lib-epoch2").toString
    val lib = new VectorLibrary(spark, root, "epoch2-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(10)
    lib.addDocuments(docs)
    assert(lib.epochs.nonEmpty)
    lib.delete()
    assert(lib.epochs.isEmpty)
    // the rebuilt library restarts tree generations at 1 — the SAME
    // tuple the writer's epoch cache last recorded. A stale cache here
    // suppressed the first epoch entirely (no consistentAt/restoreToEpoch
    // point for the completed mutation).
    lib.addDocuments(docs)
    assert(lib.epochs.nonEmpty,
      "rebuilt library's first mutation recorded no epoch")
    assert(lib.chunksAt(lib.epochs.last).count() == lib.chunks.count())
    lib.delete()
  }

  test("epochs: two writer instances alternating under the lease never overwrite an installed epoch") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-epoch3").toString
    // two instances of the SAME library, correctly taking turns under
    // the file lease — each carries its own epoch cache, so the second
    // writer's cache goes stale the moment the first commits. A stale
    // cache must be treated as a hint: the install re-lists on
    // collision instead of renaming onto (and silently overwriting,
    // on a local fs) an epoch a reader may be pinned to.
    val a = new VectorLibrary(spark, root, "epoch3-lib")
    val b = new VectorLibrary(spark, root, "epoch3-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def epochBody(e: Long): String = {
      val in = fs.open(new Path(f"$root/epoch3-lib/_epochs/epoch.$e%09d"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }

    a.addDocuments(docs.filter(col("doc_id") < 10))          // epoch 1 (a caches 1)
    b.addDocuments(docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)) // epoch 2 (b lists, caches 2)
    val e2Body = epochBody(b.epochs.last)
    val countAtE2 = b.chunks.count()
    a.addDocuments(docs.filter(col("doc_id") >= 20))         // a's stale cache says next=2 — must re-list to 3

    val all = a.epochs
    assert(all.size >= 3, s"an epoch was overwritten instead of appended: $all")
    assert(all == all.sorted && all.distinct == all, s"epoch numbering broken: $all")
    assert(epochBody(all(1)) == e2Body,
      "a stale-cached writer overwrote an installed epoch in place")
    // CONTENT visibility, not just counts: all three batches' documents
    // are live to a fresh reader (a stale-cached store commit would
    // have silently de-referenced b's files — and equal row counts
    // could mask that)
    val freshReader = new VectorLibrary(spark, root, "epoch3-lib")
    assert(freshReader.chunks.select("doc_id").distinct().count() == 30,
      "an alternating writer's documents were de-referenced")
    // every epoch still resolves, and the middle one still reads the
    // state it recorded
    assert(a.chunksAt(all(1)).count() == countAtE2,
      "epoch-pinned read changed after a later writer's install")
    assert(a.chunksAt(all.last).count() == a.chunks.count())
    a.delete()
  }

  test("sequential deletes in one partition: retained victim bytes are never re-adopted") {
    // After delete #1, the pre-delete file F stays on disk (manifest-
    // dead, kept for the restore/epoch horizon) in the SAME directory
    // as its live rewrite F'. Delete #2's victim resolution must scan
    // the manifest-LIVE set only: a directory-listing scan would find
    // the victim id in dead F too, and the survivor rewrite would then
    // resurrect delete #1's rows and duplicate every row F and F'
    // share into the fresh commit.
    val root = Files.createTempDirectory("graft-lib-redelete").toString
    val lib = new VectorLibrary(spark, root, "redelete-lib")
    val docs = spark.range(0, 30).select(
      col("id").as("doc_id"),
      concat(lit("one short sentence about topic "),
        col("id").cast("string")).as("text"),
      lit("en").as("lang"), lit("s0").as("source"), lit(40L).as("n_chars"))
    lib.addDocuments(docs)
    lib.buildPartitionedIndex()
    val n0 = lib.chunks.count()

    lib.deleteDocuments(col("doc_id") === 3)
    val n1 = lib.chunks.count()
    assert(n1 < n0)
    lib.deleteDocuments(col("doc_id") === 7)
    val n2 = lib.chunks.count()

    assert(lib.chunks.filter(col("doc_id") === 3).count() == 0,
      "delete #2 resurrected delete #1's rows from retained dead bytes")
    assert(lib.chunks.filter(col("doc_id") === 7).count() == 0)
    assert(lib.chunks.select("chunk_id").distinct().count() == n2,
      "delete #2 duplicated surviving rows from dead + live file copies")
    // the index tracks: 8 signature rows per surviving chunk, unique
    val idx = manifestRead(s"$root/redelete-lib/lsh_index",
      "tbl" -> org.apache.spark.sql.types.IntegerType,
      "bucket" -> org.apache.spark.sql.types.IntegerType)
    assert(idx.count() == 8L * n2, "index rows diverged from the store after re-delete")
    assert(idx.select("chunk_id", "tbl").distinct().count() == 8L * n2)
    lib.delete()
  }

  test("conflict scope: every epoch of an interleaved mutation mix is a complete cross-tree state") {
    // The invariant a per-tree-lease relaxation (PLANS.md: multi-writer
    // conflict scope, r10 design note) must preserve. Today the library
    // lease serializes ALL of these; a relaxed scheme may run the
    // disjoint-tree pairs concurrently, but every recorded epoch must
    // still resolve to a COMPLETE state — the maintained indexes track
    // the store exactly at every epoch, never a half-committed tuple
    // (which is why the design validates the assembled tuple against
    // the re-read heads before install).
    val root = Files.createTempDirectory("graft-lib-conflict").toString
    val lib = new VectorLibrary(spark, root, "conflict-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs.filter(col("doc_id") < 10))   // store only
    lib.buildPartitionedIndex()                          // lsh tree born
    lib.addDocuments(docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)) // store+lsh
    lib.buildPqIndex()                                   // pq tree born
    lib.compactIndexes()                                 // per-tree deltas
    lib.addDocuments(docs.filter(col("doc_id") >= 20))   // store+lsh+pq
    lib.deleteDocuments(col("doc_id") === 3)             // all-tree COW
    lib.vacuumIndexes()                                  // read-mostly
    val es = lib.epochs
    assert(es.size >= 5, s"mutation mix recorded too few epochs: $es")
    val oldestStore = lib.chunksAt(es.head).count()
    for (e <- es) {
      val trees = lib.consistentAt(e)
      val n = trees("store").count()
      // the maintained index tracks the store EXACTLY at every epoch
      for (df <- trees.get("lsh"))
        assert(df.count() == 8L * n,
          s"epoch $e: lsh rows != 8x store ($n) — a torn cross-tree state")
      // every tree the epoch references resolves (no pruned/vacuumed gap)
      trees.foreach { case (name, df) =>
        assert(df.count() >= 0L, s"epoch $e: $name failed to resolve") }
    }
    // pinned content held still through the whole mix
    assert(lib.chunksAt(es.head).count() == oldestStore,
      "oldest epoch drifted across the mutation mix")
    lib.delete()
  }

  test("restoreTo: one call undoes a bad delete AND a bad ingest across store and indexes") {
    val root = Files.createTempDirectory("graft-lib-restore").toString
    val lib = new VectorLibrary(spark, root, "restore-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs)
    lib.buildPartitionedIndex(); lib.buildGridIndex()
    val before = lib.chunks.count()
    val preGen = lib.storeGenerations().last._1
    val q = "spark join stream table filter"
    def hits(): Set[(String, Double)] = lib.searchApprox(q, k = 15).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    val preHits = hits()
    assert(preHits.nonEmpty)

    // BAD DELETE: a predicate that takes out half the library. The COW
    // rewrite removes the victims from store + indexes; their bytes
    // stay on disk (manifest-invisible) so the restore can re-live them.
    lib.deleteDocuments(col("doc_id") < 20)
    assert(lib.chunks.count() < before, "delete removed nothing")
    val rep1 = lib.restoreTo(preGen)
    assert(lib.chunks.count() == before, "store not restored after delete")
    assert(rep1("lsh")._1 > 0 || rep1("lsh")._2 > 0,
      s"indexes were not reconciled after restore: $rep1")
    assert(hits() == preHits, "search results differ from pre-delete")

    // BAD INGEST: restore must also roll junk arrivals back out
    // (ghost path — the indexes rebuilt from the restored store).
    val restoredGen = lib.storeGenerations().last._1
    lib.addDocuments(docs.withColumn("doc_id", col("doc_id") + 5000))
    assert(lib.chunks.count() > before)
    val rep2 = lib.restoreTo(restoredGen)
    assert(lib.chunks.count() == before, "store not restored after ingest")
    assert(rep2("lsh")._2 > 0, s"junk-ingest ghosts not detected: $rep2")
    assert(hits() == preHits, "search results differ from pre-ingest")

    // fixed point: a repaired, restored library is consistent
    assert(lib.repairIndexes().values.forall(_ == ((0L, 0L))))
    lib.delete()
  }

  test("vacuum clocks retention from de-reference time: a fresh delete survives an aged-file vacuum") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-vacret").toString
    val lib = new VectorLibrary(spark, root, "vacret-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs)
    val before = lib.chunks.count()
    val preGen = lib.storeGenerations().last._1
    lib.deleteDocuments(col("doc_id") < 20)
    assert(lib.chunks.count() < before)
    // age every store file's mtime two hours into the past: a vacuum
    // clocking retention from file CREATION would now collect the
    // just-de-referenced victims despite a one-hour window — the
    // de-reference happened seconds ago (the delete's manifest commit),
    // so they must survive and the restore point with them
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val past = System.currentTimeMillis() - 7200000L
    def age(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) age(st.getPath)
      else if (!st.getPath.getName.startsWith("_manifest"))
        fs.setTimes(st.getPath, past, -1)
    }
    age(new Path(s"$root/vacret-lib/chunks"))
    assert(lib.vacuumIndexes(olderThanMs = 3600000L)("store") == 0,
      "vacuum collected files de-referenced seconds ago — retention is " +
      "clocking from file creation, not from the delete's commit")
    val rep = lib.restoreTo(preGen)
    assert(lib.chunks.count() == before,
      s"restore failed after the windowed vacuum: $rep")
    // explicit truncate-history semantics: after the restore
    // re-references the victims, a retainNone vacuum collects only the
    // delete's rewrites — the current generation is always protected
    lib.vacuumIndexes(0L, retainNone = true)
    assert(lib.chunks.count() == before)
    lib.delete()
  }

  test("derived-tree manifests: ivf/grid/pq/ivfpq plan from committed files; orphans invisible") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-man4").toString
    val lib = new VectorLibrary(spark, root, "man4-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    lib.addDocuments(docs.filter(col("doc_id") < 40))
    lib.buildIvfIndex(); lib.buildGridIndex(); lib.buildPqIndex(); lib.buildIvfPqIndex()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trees = Seq("ivf" -> "ivf_index/assigned", "grid" -> "grid_index/cells",
      "pq" -> "pq_index/codes", "ivfpq" -> "ivfpq_index/encoded")
    for ((a, rel) <- trees)
      assert(graft.plans.ManifestedTree.manifestExists(spark, s"$root/man4-lib/$rel"),
        s"$a build did not publish a manifest")

    val q = "spark join stream table filter"
    def results(algo: String): Seq[(String, Double)] = {
      lib.setAlgorithm(algo)
      lib.search(q, k = 10).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    val before = trees.map { case (a, _) => a -> results(a) }.toMap

    // Plant a crashed writer's duplicate part-file in a populated
    // partition dir of EVERY tree: a listing reader would double
    // those rows (duplicate ids in the top-k); the manifest reader
    // must plan the identical result set.
    val orphans = trees.map { case (a, rel) =>
      val treeRoot = new Path(s"$root/man4-lib/$rel")
      val someFile = (for {
        d <- fs.listStatus(treeRoot).toSeq if d.isDirectory
        f <- fs.listStatus(d.getPath).toSeq
        if !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_")
      } yield f.getPath).head
      val orphan = new Path(someFile.getParent, s"part-orphan-$a.snappy.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, someFile, fs, orphan, false,
        spark.sparkContext.hadoopConfiguration)
      a -> orphan
    }.toMap
    lib.invalidateIndexes()
    for ((a, _) <- trees)
      assert(results(a) == before(a),
        s"an uncommitted file changed $a search results — reader is not manifest-scoped")

    // Appends commit through the manifests (appendBatch maintains all
    // four trees): orphans are never adopted, searches keep working.
    lib.addDocuments(docs.filter(col("doc_id") >= 40)
      .withColumn("doc_id", col("doc_id") + 1000))
    for ((a, rel) <- trees) {
      val manifest = graft.plans.ManifestedTree
        .liveManifestText(spark, s"$root/man4-lib/$rel")
      assert(!manifest.contains(s"part-orphan-$a"),
        s"$a append adopted an uncommitted file into the manifest")
      assert(results(a).size == 10, s"$a search broke after append")
    }

    // Copy-on-write delete commits its file swaps through the
    // manifests too: victims leave, results stay orphan-free.
    lib.deleteDocuments(col("doc_id") < 3)
    for ((a, rel) <- trees) {
      val manifest = graft.plans.ManifestedTree
        .liveManifestText(spark, s"$root/man4-lib/$rel")
      assert(!manifest.contains(s"part-orphan-$a"),
        s"$a delete swap adopted an uncommitted file")
      val hits = results(a)
      assert(hits.size == 10 && hits.map(_._1).distinct.size == 10,
        s"$a search returned duplicates or too few rows after the delete swap")
    }
    lib.delete()
  }

  test("compactIndexes/vacuumIndexes: one maintenance pass defragments and cleans all five layouts") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-optimize").toString
    val lib = new VectorLibrary(spark, root, "opt-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs.filter(col("doc_id") < 30))
    lib.buildPartitionedIndex()
    lib.buildIvfIndex(); lib.buildGridIndex(); lib.buildPqIndex(); lib.buildIvfPqIndex()
    // three incremental appends fragment every tree (one small file
    // per touched partition directory per batch — the streaming shape)
    for (lo <- Seq(30, 45, 60))
      lib.addDocuments(docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 15)
        .withColumn("doc_id", col("doc_id") + lo * 1000))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trees = Seq("store" -> "chunks", "lsh" -> "lsh_index",
      "ivf" -> "ivf_index/assigned", "grid" -> "grid_index/cells",
      "pq" -> "pq_index/codes", "ivfpq" -> "ivfpq_index/encoded")
    def dataFiles(rel: String): Seq[String] = {
      def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st))
      walk(new Path(s"$root/opt-lib/$rel")).map(_.getPath.getName)
        .filter(n => !n.startsWith(".") && !n.startsWith("_"))
    }
    val filesBefore = trees.map { case (n, rel) => n -> dataFiles(rel).size }.toMap
    val q = "spark join stream table filter"
    def results(algo: String): Seq[(String, Double)] = {
      lib.setAlgorithm(algo)
      lib.search(q, k = 10).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    val algos = Seq("lsh", "ivf", "grid", "pq", "ivfpq")
    val before = algos.map(a => a -> results(a)).toMap

    val compacted = lib.compactIndexes(maxFilesPerPartition = 0)
    assert(compacted.keySet == trees.map(_._1).toSet,
      s"maintenance skipped a tree: $compacted")
    // compaction flips manifests: readers PLAN fewer files, but the
    // replaced fragments stay ON DISK — still the live set of the
    // retained pre-compact generation, i.e. the restore/epoch horizon
    val liveAfter = lib.manifestInfo.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    for ((n, rel) <- trees) {
      assert(compacted(n) > 0, s"$n: nothing compacted after 3 fragmenting appends")
      assert(liveAfter(n) < filesBefore(n),
        s"$n: compaction did not reduce the planned file count " +
          s"(${filesBefore(n)} -> ${liveAfter(n)})")
      assert(dataFiles(rel).size > filesBefore(n),
        s"$n: compaction deleted files of the retained pre-compact " +
          "generation — the restore horizon is not surviving OPTIMIZE")
    }
    for (a <- algos)
      assert(results(a) == before(a), s"$a results changed across compaction")

    // reclaim the fragment bytes: the EXPLICIT truncate-history switch
    val reclaimed = lib.vacuumIndexes(0L, retainNone = true)
    for ((n, rel) <- trees) {
      assert(reclaimed(n) > 0, s"$n: retainNone vacuum reclaimed nothing")
      assert(dataFiles(rel).size < filesBefore(n),
        s"$n: fragments not reclaimed (${filesBefore(n)} -> ${dataFiles(rel).size})")
    }

    // vacuum: a crash orphan in a HEALTHY (not-being-compacted) dir of
    // each tree is unreferenced by the manifest and gets removed
    val orphans = trees.map { case (n, rel) =>
      val treeRoot = new Path(s"$root/opt-lib/$rel")
      def firstFile(p: Path): Path =
        fs.listStatus(p).toSeq.sortBy(_.getPath.getName).collectFirst {
          case st if st.isDirectory &&
            !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_") => firstFile(st.getPath)
          case st if !st.isDirectory &&
            !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_") => st.getPath
        }.get
      val src = firstFile(treeRoot)
      val orphan = new Path(src.getParent, s"part-orphan-$n.snappy.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, orphan, false,
        spark.sparkContext.hadoopConfiguration)
      n -> orphan
    }.toMap
    // a window-0 DEFAULT vacuum removes them (an orphan was never
    // referenced by any generation — history protection doesn't apply)
    val vacuumed = lib.vacuumIndexes(0L)
    for ((n, orphan) <- orphans) {
      assert(vacuumed(n) >= 1, s"$n: vacuum removed nothing")
      assert(!fs.exists(orphan), s"$n: vacuum left the orphan")
    }
    lib.invalidateIndexes()
    for (a <- algos)
      assert(results(a) == before(a), s"$a results changed across vacuum")

    // idempotence: every directory now holds a single compacted file,
    // so a second pass at threshold 1 finds nothing to do (threshold 0
    // would re-qualify any dir with one small file, by definition)
    assert(lib.compactIndexes(maxFilesPerPartition = 1).values.sum == 0,
      "second compaction pass was not a no-op")
    assert(lib.vacuumIndexes(0L, retainNone = true).values.sum == 0,
      "second vacuum was not a no-op")

    // the census reads only the manifests and agrees with the disk
    val info = lib.manifestInfo.collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(info.keySet == trees.map(_._1).toSet, s"census missed a tree: $info")
    for ((n, rel) <- trees) {
      assert(info(n)._1, s"$n not manifested after maintenance")
      assert(info(n)._2 == dataFiles(rel).size,
        s"$n census ${info(n)._2} != on-disk ${dataFiles(rel).size}")
    }
    lib.delete()
  }

  test("deferred vacuum: readers of the previous generation survive a compaction until the grace period ends") {
    val root = Files.createTempDirectory("graft-lib-grace").toString
    val lib = new VectorLibrary(spark, root, "grace-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    lib.addDocuments(docs.filter(col("doc_id") < 30))
    for (lo <- Seq(30, 45))
      lib.addDocuments(docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 15)
        .withColumn("doc_id", col("doc_id") + lo * 1000))
    val nRows = lib.chunks.count()

    // the in-flight reader: planned against THIS generation's file set
    val oldReader = lib.chunks
    assert(oldReader.count() == nRows)

    // compact with the vacuum deferred: the manifest flips (new
    // readers plan the compacted files) but the fragments stay on
    // disk for the grace period
    val compacted = lib.compactIndexes(maxFilesPerPartition = 0, vacuumAfter = false)
    assert(compacted("store") > 0, "store did not compact")
    assert(lib.chunks.count() == nRows, "new-generation reader lost rows")
    assert(oldReader.count() == nRows,
      "previous-generation reader broke during the grace period")

    // a young-files-only vacuum respects the grace window
    assert(lib.vacuumIndexes(olderThanMs = 3600L * 1000).values.sum == 0,
      "vacuum removed files younger than the grace period")
    assert(oldReader.count() == nRows)

    // even a window-0 DEFAULT vacuum keeps them: the fragments are the
    // live set of the retained pre-compact generation — the structural
    // history protection a default-arg vacuum must never pierce
    assert(lib.vacuumIndexes(0L).values.sum == 0,
      "a default vacuum deleted files of a retained generation")
    assert(oldReader.count() == nRows)

    // explicit truncate: the fragments go, the live generation is unaffected
    assert(lib.vacuumIndexes(0L, retainNone = true).values.sum > 0,
      "deferred fragments were not vacuumed")
    assert(lib.chunks.count() == nRows)
    lib.delete()
  }

  test("restore/epoch horizon survives default maintenance: compact + default vacuum never eat a retained epoch") {
    val root = Files.createTempDirectory("graft-lib-horizon").toString
    val lib = new VectorLibrary(spark, root, "horizon-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs)
    lib.buildPartitionedIndex()
    val full = lib.chunks.count()
    val q = "spark join stream table filter"
    val pinnedResults = lib.searchApprox(q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val e = lib.epochs.last // the full-corpus epoch a reader pins

    // COW delete (victims retained on disk, manifest-invisible), an
    // append (fragments the trees), then the routine maintenance pass
    // a deployment schedules with DEFAULT arguments — exactly the
    // sequence that once silently destroyed the restore horizon
    // (compact's inline cleanup had zero retention)
    lib.deleteDocuments(col("doc_id") < 20)
    assert(lib.chunks.count() < full)
    lib.addDocuments(docs.filter(col("doc_id") >= 20)
      .withColumn("doc_id", col("doc_id") + 100000))
    lib.compactIndexes(maxFilesPerPartition = 0) // inline cleanup path
    lib.vacuumIndexes()                          // default window
    lib.vacuumIndexes(0L)                        // even RETAIN-0: history protected

    // the epoch-pinned reads still resolve, bit-exact
    assert(lib.chunksAt(e).count() == full,
      "epoch-pinned store read lost rows after default maintenance")
    val pinnedNow = lib.searchApproxAt(e, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(pinnedNow == pinnedResults,
      "epoch-pinned search changed after default maintenance")

    // and the restore itself still succeeds
    lib.restoreToEpoch(e)
    assert(lib.chunks.count() == full,
      "restoreToEpoch failed after default maintenance")
    lib.delete()
  }

  test("batch approximate search matches per-query results on both index paths") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = Files.createTempDirectory("graft-lib-batch").toString
    val lib = new VectorLibrary(spark, root, "batch-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    lib.addDocuments(docs)
    val qs = Seq("spark join stream table filter",
                 "vector index search embedding",
                 "window aggregate partition shuffle")

    def perQuery(): Seq[Seq[(String, Double)]] = qs.map(q =>
      lib.searchApprox(q, k = 5).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
    def viaBatch(): Seq[Seq[(String, Double)]] = {
      val rows = lib.searchApproxBatch(qs, k = 5).collect()
      qs.indices.map(i => rows.filter(_.getLong(0) == i.toLong)
        .sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq)
    }

    // Column-probe fallback path.
    assert(!lib.hasPartitionedIndex)
    assert(viaBatch() == perQuery(), "column-probe batch diverged from per-query")

    // Partitioned path: same results, and ONE pruned scan serves all
    // three queries (union of probe partitions, still planning-time;
    // file-backed: the plan below scans the index's files).
    lib.buildPartitionedIndex()
    assert(viaBatch() == perQuery(), "resident partitioned batch diverged from per-query")
    val batch = SparkTestSession.twoJobForm(lib.searchApproxBatch(qs, k = 5))
    val batchRows = qs.indices.map(i => batch.collect().filter(_.getLong(0) == i.toLong)
      .sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq)
    assert(batchRows == perQuery(), "partitioned batch diverged from per-query")

    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val idxScans = scans(batch.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("lsh_index")))
    assert(idxScans.size == 1, s"expected one index scan, got ${idxScans.size}")
    assert(idxScans.head.partitionFilters.nonEmpty, "batch probe not partition-pruned")
    val numFiles = idxScans.head.metrics("numFiles").value
    assert(numFiles <= qs.size * 8 * 3, s"batch probe opened $numFiles files — not pruned")
    lib.delete()
  }

  test("on-disk IVF index: pruned probe, incremental assign, survives reopen") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = Files.createTempDirectory("graft-lib-ivf").toString
    val lib = new VectorLibrary(spark, root, "ivf-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs.filter(col("doc_id") < 60))
    lib.buildIvfIndex(nCentroids = 8)
    assert(lib.hasIvfIndex)
    lib.setAlgorithm("ivf")

    // file-backed: the plan below scans the index's files
    val res = SparkTestSession.twoJobForm(lib.search("spark join stream table filter", k = 5))
    val rows = res.collect()
    assert(rows.length == 5)
    assert(lib.search("spark join stream table filter", k = 5).collect().toSeq == rows.toSeq)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))

    // fresh index is healthy; the drift-gated refit declines to run
    assert(lib.ivfDrift > 0.95 && lib.ivfDrift < 1.05)
    assert(!lib.refitIvfIfDrifted())
    // the drift BASELINE itself must be real — a degenerate (zero-row,
    // null-mean) stats sidecar also yields drift == 1.0 and would mute
    // the refit trigger forever (regression: writeIndex once re-read
    // its rows from the dot-prefixed rebuild tmp, which Spark's
    // DataSource silently ignores as a hidden path)
    val baseStats = geomRead(s"$root/ivf-lib/ivf_index/stats").head
    assert(baseStats.getLong(0) > 0 && !baseStats.isNullAt(1)
        && baseStats.getDouble(1) > 0.0,
      s"IVF drift baseline is degenerate: $baseStats")

    // the probe must scan only the probed cluster directories
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(res.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivf_index")))
    assert(scan.nonEmpty, "no file scan over ivf_index in the plan")
    assert(scan.head.partitionFilters.nonEmpty, "probe not pushed as partition filters")
    assert(scan.head.metrics("numFiles").value <= 4,
      s"probe opened ${scan.head.metrics("numFiles").value} files for nProbe=4")

    // incremental append assigns new vectors to existing centroids
    lib.addDocuments(docs.filter(col("doc_id") >= 60))
    val assigned = spark.read.parquet(s"$root/ivf-lib/ivf_index/assigned")
    assert(assigned.count() == lib.chunks.count(), "ivf assignment stale after append")
    assert(assigned.groupBy("chunk_id").count().filter(col("count") > 1).count() == 0)

    // a NEW facade over the same store probes with zero build cost and
    // the same routing (algorithm persisted in metadata)
    val reopened = new VectorLibrary(spark, root, "ivf-lib")
    assert(reopened.algorithm == "ivf" && reopened.hasIvfIndex)
    assert(reopened.search("spark join stream table filter", k = 5).count() == 5)
    lib.delete()
  }

  test("persisted PQ index: codes-only probe, append under frozen books, COW delete") {
    val root = Files.createTempDirectory("graft-lib-pq").toString
    val lib = new VectorLibrary(spark, root, "pq-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs.filter(col("doc_id") < 60))
    lib.buildPqIndex(m = 8, kk = 8)
    assert(lib.hasPqIndex)
    lib.setAlgorithm("pq")

    val res = lib.search("spark join stream table filter", k = 5)
    val rows = res.collect()
    assert(rows.length == 5)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    // approximate shortlist, exact re-rank: top hit agrees with flat
    lib.setAlgorithm("flat")
    val exactTop = lib.search("spark join stream table filter", k = 1)
      .collect()(0).getString(0)
    lib.setAlgorithm("pq")
    assert(rows(0).getString(0) == exactTop, "pq top-1 diverged from flat")

    // batch matches per-query
    val qs = Seq("spark join stream table filter", "tokenize documents fast")
    val batch = lib.searchBatch(qs, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val singles = qs.zipWithIndex.flatMap { case (q, i) =>
      lib.search(q, k = 3).collect().map(r => (i.toLong, r.getString(0), r.getDouble(1)))
    }.toSet
    assert(batch == singles)

    // append encodes under the FROZEN codebooks
    val booksBefore = geomRead(s"$root/pq-lib/pq_index/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    lib.addDocuments(docs.filter(col("doc_id") >= 60))
    val booksAfter = geomRead(s"$root/pq-lib/pq_index/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(booksAfter == booksBefore, "append refit the codebooks")
    val codes = spark.read.parquet(s"$root/pq-lib/pq_index/codes")
    assert(codes.count() == lib.chunks.count(), "pq codes stale after append")
    assert(codes.groupBy("chunk_id").count().filter(col("count") > 1).count() == 0)

    // targeted delete copy-on-writes the codes tree in step
    val victimDoc = lib.chunks.select(col("doc_id")).distinct()
      .orderBy(col("doc_id")).collect()(0).getLong(0)
    lib.deleteDocuments(col("doc_id") === victimDoc)
    assert(manifestRead(s"$root/pq-lib/pq_index/codes",
      "source" -> org.apache.spark.sql.types.StringType).count()
      == lib.chunks.count(), "pq codes stale after delete")
    assert(lib.search("spark join stream table filter", k = 5).count() == 5)

    // a NEW facade over the same store serves pq with zero build cost
    val reopened = new VectorLibrary(spark, root, "pq-lib")
    assert(reopened.algorithm == "pq" && reopened.hasPqIndex)
    assert(reopened.search("spark join stream table filter", k = 5).count() == 5)
    lib.delete()
  }

  test("persisted IVF-PQ index: pruned codes-only probe, frozen-geometry append, COW delete") {
    val root = Files.createTempDirectory("graft-lib-ivfpq").toString
    val lib = new VectorLibrary(spark, root, "ivfpq-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(80)
    lib.addDocuments(docs.filter(col("doc_id") < 60))
    lib.buildIvfPqIndex(nCentroids = 8, m = 8, kk = 8)
    assert(lib.hasIvfPqIndex)
    lib.setAlgorithm("ivfpq")

    val rows = lib.search("spark join stream table filter", k = 5).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    // cell-pruned ADC shortlist + exact re-rank: top hit agrees with flat
    lib.setAlgorithm("flat")
    val exactTop = lib.search("spark join stream table filter", k = 1)
      .collect()(0).getString(0)
    lib.setAlgorithm("ivfpq")
    assert(rows(0).getString(0) == exactTop, "ivfpq top-1 diverged from flat")
    // the first search after a commit (here one that builds another
    // layout) reads the layout's files, as a generation is held in
    // memory from its second search: under the small-relation
    // threshold, the one-job form, a cluster-pruned phase 1 carrying
    // the floats
    lib.buildPartitionedIndex()
    val one = SparkJobs.assertOneJobSearch(spark)(
      lib.search("spark join stream table filter", k = 5), "chunk_id", "embedding",
      Some("cluster"))
    assert(one.toSeq == rows.toSeq)
    // above the threshold (here: none), the two-job form: phase 1
    // (codes-only, cluster-pruned) runs eagerly inside the probe; the
    // returned plan is phase 2 — its scan must stay cluster-pruned and
    // carry the pushed id-shortlist In-filter
    SparkTestSession.twoJobForm {
      val res = lib.search("spark join stream table filter", k = 5)
      assert(res.collect().toSeq == rows.toSeq)
      val scans = res.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("FileScan")).toSeq
      assert(scans.exists(s => s.contains("cluster") &&
          (s.contains("In(chunk_id") || s.contains("chunk_id IN"))),
        s"phase-2 scan lost pruning or the id shortlist filter:\n${scans.mkString("\n")}")
    }

    // batch matches per-query
    val qs = Seq("spark join stream table filter", "tokenize documents fast")
    val batch = lib.searchBatch(qs, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val singles = qs.zipWithIndex.flatMap { case (q, i) =>
      lib.search(q, k = 3).collect().map(r => (i.toLong, r.getString(0), r.getDouble(1)))
    }.toSet
    assert(batch == singles)

    // append assigns + encodes under the FROZEN centroids and books
    val sideBefore =
      (geomRead(s"$root/ivfpq-lib/ivfpq_index/centroids").collect()
         .map(r => (r.getInt(0), r.getSeq[Double](1))).toSet,
       geomRead(s"$root/ivfpq-lib/ivfpq_index/books").collect()
         .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet)
    lib.addDocuments(docs.filter(col("doc_id") >= 60))
    val sideAfter =
      (geomRead(s"$root/ivfpq-lib/ivfpq_index/centroids").collect()
         .map(r => (r.getInt(0), r.getSeq[Double](1))).toSet,
       geomRead(s"$root/ivfpq-lib/ivfpq_index/books").collect()
         .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet)
    assert(sideAfter == sideBefore, "append refit the frozen geometry")
    val enc = spark.read.parquet(s"$root/ivfpq-lib/ivfpq_index/encoded")
    assert(enc.count() == lib.chunks.count(), "ivfpq rows stale after append")
    assert(enc.groupBy("chunk_id").count().filter(col("count") > 1).count() == 0)

    // targeted delete copy-on-writes the encoded tree in step
    val victimDoc = lib.chunks.select(col("doc_id")).distinct()
      .orderBy(col("doc_id")).collect()(0).getLong(0)
    lib.deleteDocuments(col("doc_id") === victimDoc)
    assert(manifestRead(s"$root/ivfpq-lib/ivfpq_index/encoded",
      "cluster" -> org.apache.spark.sql.types.IntegerType).count()
      == lib.chunks.count(), "ivfpq rows stale after delete")
    assert(lib.search("spark join stream table filter", k = 5).count() == 5)

    // observability: occupancy + drift; drift near 1 on in-distribution data
    val info = lib.ivfpqIndexInfo.collect()(0)
    assert(info.getAs[Long]("occupied_clusters") > 0)
    assert(info.getAs[Int]("total_clusters") == 8)
    val drift = lib.ivfpqDrift
    assert(drift > 0.5 && drift < 2.0, s"unexpected drift $drift")
    // a refit with an impossible threshold runs and restores drift = 1
    assert(lib.refitIvfPqIfDrifted(threshold = 0.0))
    assert(math.abs(lib.ivfpqDrift - 1.0) < 1e-9)
    assert(!lib.refitIvfPqIfDrifted(threshold = 1.5), "healthy index must not refit")

    // a NEW facade over the same store serves ivfpq with zero build cost
    val reopened = new VectorLibrary(spark, root, "ivfpq-lib")
    assert(reopened.algorithm == "ivfpq" && reopened.hasIvfPqIndex)
    assert(reopened.search("spark join stream table filter", k = 5).count() == 5)
    lib.delete()
  }

  test("streaming indexed ingest maintains store and partitioned index per batch") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-lib-spart").toString
    val docsDir = Files.createTempDirectory("graft-docs-spart").toString
    val lib = new VectorLibrary(spark, root, "spart-lib")

    Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
      .write.mode("overwrite").parquet(docsDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val q = lib.ingestStreamIndexed(
      spark.readStream.schema(schema).parquet(docsDir), s"$root/ckpt")
    q.processAllAvailable(); q.stop()

    assert(lib.hasPartitionedIndex)
    val n = lib.chunks.count()
    assert(n > 0)
    assert(spark.read.parquet(s"$root/spart-lib/lsh_index").count() == 8 * n)
    val hits = lib.searchApprox("spark join stream", k = 3).collect()
    assert(hits.nonEmpty)
    lib.delete()
  }

  test("streaming ingest rides out an embedder outage: down batches store pending, rebuildIndex heals") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-lib-outage").toString
    val rootTwin = Files.createTempDirectory("graft-lib-outage-twin").toString
    val docsDir = Files.createTempDirectory("graft-docs-outage").toString
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(48)
    (0 until 4).foreach(i => docs.filter(col("doc_id") % 4 === i)
      .coalesce(1).write.mode("append").parquet(docsDir))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(docsDir)
    // deterministic service call, shared by both libraries, that
    // throws while the outage flag is up (maxRetries=1: fail fast)
    def svc = new ServiceEmbedder(64, StreamOutageState.call,
      batchSize = 96, maxRetries = 1)
    val lib = new VectorLibrary(spark, root, "outage-lib", embedder = svc)
    StreamOutageState.down.set(false)

    // batch 0 embeds normally...
    val dirFs = new java.io.File(docsDir)
    val allFiles = dirFs.listFiles().filter(_.getName.endsWith(".parquet")).sorted
    // stage an empty dir and feed files in one at a time so WE control
    // which batches run during the outage
    val feedDir = Files.createTempDirectory("graft-docs-feed").toString
    def feed(i: Int): Unit = {
      java.nio.file.Files.copy(allFiles(i).toPath,
        java.nio.file.Paths.get(feedDir, allFiles(i).getName))
    }
    def streamFeed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(feedDir)
    feed(0)
    val q = lib.ingestStreamIndexed(streamFeed, s"$root/ckpt")
    q.processAllAvailable()
    val afterB0 = lib.chunks.count()
    assert(afterB0 > 0)
    assert(lib.unindexed.count() == 0)

    // ...the embedding service goes DOWN for batches 1-2: the stream
    // must stay up, the batches land PENDING (invisible to search)
    StreamOutageState.down.set(true)
    feed(1); feed(2)
    q.processAllAvailable()
    assert(q.isActive, "stream died during the embedder outage")
    val pending = lib.unindexed.count()
    assert(pending > 0, "outage batches did not land pending")
    val searchableCount = lib.chunks.where(col("embedding").isNotNull).count()
    assert(searchableCount == afterB0,
      "pending rows leaked into the searchable store")

    // service back up: batch 3 embeds normally, pending rows stay put
    StreamOutageState.down.set(false)
    feed(3)
    q.processAllAvailable(); q.stop()
    assert(lib.unindexed.count() == pending)

    // rebuildIndex() is the catch-up: embeds every pending row in bulk
    lib.rebuildIndex()
    assert(lib.unindexed.count() == 0)

    // final state ≡ the all-up run: a twin library ingesting the same
    // stream with the service up throughout holds identical rows
    val twin = new VectorLibrary(spark, rootTwin, "outage-lib", embedder = svc)
    val q2 = twin.ingestStreamIndexed(stream, s"$rootTwin/ckpt")
    q2.processAllAvailable(); q2.stop()
    def state(l: VectorLibrary): Set[String] =
      l.chunks.select(col("chunk_id"), col("embedding"))
        .collect().map(r => r.getString(0) + ":" +
          r.getSeq[Float](1).map(f => f"$f%.5f").mkString(",")).toSet
    assert(state(lib) == state(twin),
      "healed outage run diverged from the all-up run")
    lib.delete(); twin.delete()
  }

  test("streaming ingest self-compacts the partitioned index on schedule") {
    import org.apache.spark.sql.types._
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-mtick").toString
    val docsDir = Files.createTempDirectory("graft-docs-mtick").toString
    val lib = new VectorLibrary(spark, root, "mtick-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(48)
    // four files -> four micro-batches with maxFilesPerTrigger=1
    (0 until 4).foreach(i => docs.filter(col("doc_id") % 4 === i)
      .coalesce(1).write.mode("append").parquet(docsDir))

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val q = lib.ingestStreamIndexed(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(docsDir),
      s"$root/ckpt", compactEvery = 2, maxFilesPerPartition = 1)
    q.processAllAvailable(); q.stop()

    // the periodic compaction kept PLANNED fragmentation bounded: no
    // dir's manifest-live set holds more than (batches since last
    // tick) + already-compacted 1 file. The disk also holds the
    // history-retained pre-compact fragments — the restore horizon,
    // not fragmentation: readers never plan them, and the census that
    // schedules compaction doesn't count them either.
    val idxTree = new graft.plans.ManifestedTree(spark,
      s"$root/mtick-lib/lsh_index", StructType(Seq(
        StructField("tbl", IntegerType), StructField("bucket", IntegerType))))
    val maxFiles = idxTree.readManifest().get
      .groupBy(e => e._1.substring(0, e._1.lastIndexOf('/')))
      .values.map(_.size).max
    assert(maxFiles <= 2, s"index fragmented: $maxFiles live files in one dir")
    assert(idxTree.open().count() == 8 * lib.chunks.count())
    assert(lib.searchApprox("spark join stream", k = 3).collect().nonEmpty)
    lib.delete()
  }

  test("streaming ingest onto a pre-existing store indexes the old chunks too") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-lib-preexist").toString
    val docsDir = Files.createTempDirectory("graft-docs-preexist").toString
    val lib = new VectorLibrary(spark, root, "preexist-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    // batch-ingested history, NO index built yet
    lib.addDocuments(docs.filter(col("doc_id") < 40))
    assert(!lib.hasPartitionedIndex)
    val preexisting = lib.chunks.count()

    docs.filter(col("doc_id") >= 40).write.mode("overwrite").parquet(docsDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val q = lib.ingestStreamIndexed(
      spark.readStream.schema(schema).parquet(docsDir), s"$root/ckpt")
    q.processAllAvailable(); q.stop()

    // the index must cover BOTH the pre-existing and the streamed rows
    assert(lib.hasPartitionedIndex)
    val idx = spark.read.parquet(s"$root/preexist-lib/lsh_index")
    assert(idx.count() == 8 * lib.chunks.count(),
      "partitioned index does not cover the full store")
    assert(idx.select("chunk_id").distinct().count() == lib.chunks.count())
    lib.delete()
  }

  test("searchBatch honors the metric under every algorithm") {
    val root = Files.createTempDirectory("graft-lib-metric").toString
    val lib = new VectorLibrary(spark, root, "metric-lib")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30))
    val q = "spark join stream table filter"
    for (alg <- Seq("flat", "lsh", "quantized", "binary", "pq")) {
      lib.setAlgorithm(alg)
      val single = lib.search(q, 5, "euclidean").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val batch = lib.searchBatch(Seq(q), 5, "euclidean").collect()
        .sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq
      assert(batch == single, s"algorithm $alg ignored the metric in batch")
    }
    lib.delete()
  }

  test("streaming ingest embeds and indexes arriving documents") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-lib-stream").toString
    val docsDir = Files.createTempDirectory("graft-docs").toString
    val lib = new VectorLibrary(spark, root, "stream-lib")

    Tables.load(spark, SparkTestSession.sfDir, "documents").limit(50)
      .write.mode("overwrite").parquet(docsDir)

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val q = lib.ingestStream(stream, s"$root/ckpt")
    q.processAllAvailable(); q.stop()

    assert(lib.chunks.count() > 0)
    val hits = lib.search("spark join stream", k = 3).collect()
    assert(hits.length == 3)
    // streamed micro-batches commit through the store manifest (the
    // native parquet sink would leave files a manifested store never
    // adopts), so the store is manifested from the first batch
    assert(graft.plans.ManifestedTree
      .manifestExists(spark, s"$root/stream-lib/chunks"),
      "streaming ingest bypassed the store manifest")
    lib.delete()
  }

  test("streaming ingest onto a MANIFESTED store: arrivals are adopted, not orphaned") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-lib-stream2").toString
    val docsDir = Files.createTempDirectory("graft-docs2").toString
    val lib = new VectorLibrary(spark, root, "stream2-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    // batch ingest first: the store commits a manifest generation
    lib.addDocuments(docs.filter(col("doc_id") < 20))
    val before = lib.chunks.count()
    docs.filter(col("doc_id") >= 20).withColumn("doc_id", col("doc_id") + 7000)
      .write.mode("overwrite").parquet(docsDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val q = lib.ingestStream(
      spark.readStream.schema(schema).parquet(docsDir), s"$root/ckpt2")
    q.processAllAvailable(); q.stop()
    // the regression this guards: the old parquet-sink form wrote
    // files the manifest never adopted — streamed rows were invisible
    assert(lib.chunks.count() > before,
      "streamed rows invisible on a manifested store")
    assert(lib.chunks.filter(col("doc_id") >= 7000).count() > 0)
    lib.delete()
  }

  test("indexed stream restart heals a crash-left index gap, not just the store dup") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.types.{IntegerType => IntT}
    val root = Files.createTempDirectory("graft-lib-stream4").toString
    val docsDir = Files.createTempDirectory("graft-docs4").toString
    val lib = new VectorLibrary(spark, root, "stream4-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30)
    // seed batch + index: gives the LSH tree a pre-stream generation
    lib.addDocuments(docs.filter(col("doc_id") < 15))
    lib.buildPartitionedIndex()
    val lshExt = new graft.plans.ManifestedTree(spark,
      s"$root/stream4-lib/lsh_index",
      StructType(Seq(StructField("tbl", IntT), StructField("bucket", IntT))))
    val preGen = lshExt.generations().last._1
    docs.filter(col("doc_id") >= 15).withColumn("doc_id", col("doc_id") + 7000)
      .write.mode("overwrite").parquet(docsDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def stream = spark.readStream.schema(schema).parquet(docsDir)
    val q1 = lib.ingestStreamIndexed(stream, s"$root/ckptA")
    q1.processAllAvailable(); q1.stop()
    val nChunks = lib.chunks.count()
    assert(nChunks > 0)
    // the crash shape: store committed the batch, the LSH index commit
    // never landed, the checkpoint never committed → the batch replays.
    // Replay reconcile drops the rows from the STORE append (they are
    // there), which previously left the index silently short forever —
    // the dropped rows are the EVIDENCE that triggers the heal.
    lshExt.rollbackTo(preGen)
    lib.invalidateIndexes()
    val q2 = lib.ingestStreamIndexed(stream, s"$root/ckptB")
    q2.processAllAvailable(); q2.stop()
    assert(lib.chunks.count() == nChunks,
      "replayed indexed micro-batch committed store duplicates")
    // fresh handle: lshExt cached the rolled-back state when it
    // committed the rollback; the heal appended through the library's
    val idx = new graft.plans.ManifestedTree(spark,
      s"$root/stream4-lib/lsh_index",
      StructType(Seq(StructField("tbl", IntT), StructField("bucket", IntT))))
      .open()
    assert(idx.count() == 8 * nChunks,
      s"index gap not healed on restart: ${idx.count()} != ${8 * nChunks}")
    assert(idx.select("chunk_id").distinct().count() == nChunks)
    lib.delete()
  }

  test("replayed streaming micro-batch commits no duplicate rows (restart reconcile)") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-lib-stream3").toString
    val docsDir = Files.createTempDirectory("graft-docs3").toString
    val lib = new VectorLibrary(spark, root, "stream3-lib")
    Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30)
      .write.mode("overwrite").parquet(docsDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def stream = spark.readStream.schema(schema).parquet(docsDir)
    val q1 = lib.ingestStream(stream, s"$root/ckptA")
    q1.processAllAvailable(); q1.stop()
    val after = lib.chunks.count()
    assert(after > 0)
    // crash replay in its worst form: a FRESH checkpoint re-delivers
    // every already-committed source file as batch 0 — the first batch
    // after (re)start, exactly the one the reconcile anti-joins against
    // the store. Before the reconcile this doubled every chunk (the
    // at-least-once regression the r8 foreachBatch migration accepted).
    val q2 = lib.ingestStream(stream, s"$root/ckptB")
    q2.processAllAvailable(); q2.stop()
    assert(lib.chunks.count() == after,
      "replayed micro-batch committed duplicate rows")
    assert(lib.chunks.select("chunk_id").distinct().count() == after)
    lib.delete()
  }

  test("geometry epochs: pinned encoded-tree search is identical across a rebuild that replaces geometry") {
    val root = Files.createTempDirectory("graft-lib-geom").toString
    val lib = new VectorLibrary(spark, root, "geom-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs.filter(col("doc_id") < 25))
    lib.buildIvfPqIndex(nCentroids = 4, m = 4, kk = 8)
    lib.buildPqIndex(m = 4, kk = 8)
    lib.buildGridIndex(gridDims = 3, cellsPerDim = 3)
    lib.buildIvfIndex(nCentroids = 4)
    val e = lib.epochs.last
    val q = "spark join stream table filter"
    def pinned(alg: String): Seq[String] =
      lib.searchAt(e, q, k = 10, algorithm = Some(alg))
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val before = Seq("ivfpq", "pq", "grid", "ivf").map(a => a -> pinned(a)).toMap
    assert(before.values.forall(_.nonEmpty))

    // ingest new rows, then rebuild EVERY index with different
    // parameters — new centroids, codebooks, and bounds. Before r11
    // these sidecars overwrote in place, so the pinned code frames of
    // epoch `e` decoded under the NEW geometry: silently wrong reads.
    lib.addDocuments(docs.filter(col("doc_id") >= 25)
      .withColumn("doc_id", col("doc_id") + 9000))
    lib.buildIvfPqIndex(nCentroids = 8, m = 8, kk = 16)
    lib.buildPqIndex(m = 8, kk = 16)
    lib.buildGridIndex(gridDims = 4, cellsPerDim = 4)
    lib.buildIvfIndex(nCentroids = 8)

    Seq("ivfpq", "pq", "grid", "ivf").foreach { alg =>
      assert(pinned(alg) == before(alg),
        s"epoch-pinned $alg search changed across a geometry rebuild")
    }
    // the head, meanwhile, serves the NEW corpus under the new geometry
    val headIds = lib.search(q, k = 100).collect().map(_.getString(0)).toSet
    assert(headIds.exists(_.nonEmpty))
    lib.delete()
  }

  test("searchAtBatch: identical to per-query searchAt across a mutation, all algorithms") {
    val root = Files.createTempDirectory("graft-lib-atbatch").toString
    val lib = new VectorLibrary(spark, root, "atbatch-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs.filter(col("doc_id") < 25))
    lib.buildPartitionedIndex()
    lib.buildIvfPqIndex(nCentroids = 4, m = 4, kk = 8)
    lib.buildPqIndex(m = 4, kk = 8)
    lib.buildGridIndex(gridDims = 3, cellsPerDim = 3)
    lib.buildIvfIndex(nCentroids = 4)
    val e = lib.epochs.last
    val texts = Seq("spark join stream table filter",
      "synthetic sentence about topic 7", "vector index probe")
    val algs = Seq("flat", "lsh", "quantized", "binary",
      "grid", "ivf", "pq", "ivfpq")

    def perQuery(alg: String): Map[Int, Seq[String]] =
      texts.zipWithIndex.map { case (t, i) =>
        i -> lib.searchAt(e, t, k = 6, algorithm = Some(alg))
          .select("chunk_id", "score").collect()
          .map(r => f"${r.getString(0)}|${r.getDouble(1)}%.9f")
          .sorted.toSeq
      }.toMap
    def batch(alg: String): Map[Int, Seq[String]] =
      lib.searchAtBatch(e, texts, k = 6, algorithm = Some(alg))
        .select("query_id", "chunk_id", "score").collect()
        .groupBy(_.getLong(0).toInt)
        .map { case (qid, rs) =>
          qid -> rs.map(r => f"${r.getString(1)}|${r.getDouble(2)}%.9f")
            .sorted.toSeq }

    // pinned-batch ≡ pinned-per-query on the untouched head first
    algs.foreach { alg =>
      assert(batch(alg) == perQuery(alg),
        s"searchAtBatch($alg) != per-query searchAt before mutation") }

    // mutate EVERYTHING the pinned resolution could accidentally read:
    // new rows, then every index rebuilt with different geometry
    lib.addDocuments(docs.filter(col("doc_id") >= 25)
      .withColumn("doc_id", col("doc_id") + 9000))
    lib.buildIvfPqIndex(nCentroids = 8, m = 8, kk = 16)
    lib.buildPqIndex(m = 8, kk = 16)
    lib.buildGridIndex(gridDims = 4, cellsPerDim = 4)
    lib.buildIvfIndex(nCentroids = 8)
    lib.buildPartitionedIndex()

    // the pinned batch still equals the pinned per-query — and both
    // still serve epoch e's corpus, not the mutated head
    algs.foreach { alg =>
      val b = batch(alg)
      assert(b == perQuery(alg),
        s"searchAtBatch($alg) != per-query searchAt after mutation")
      assert(b.values.forall(_.nonEmpty), s"empty pinned results for $alg")
      // chunk_id = "<lib>#<doc_id>#<idx>": post-epoch docs are 9000+
      assert(!b.values.flatten.exists(_.split('#')(1).toLong >= 9000),
        s"pinned $alg batch leaked post-epoch rows")
    }
    lib.delete()
  }

  test("commit-time skew heal: an ingest landing mid-build is folded into the committed index, no manual repair") {
    val root = Files.createTempDirectory("graft-lib-skew").toString
    val lib = new VectorLibrary(spark, root, "skew-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    lib.addDocuments(docs.filter(col("doc_id") < 30))

    def indexIds(): Set[String] =
      manifestRead(s"$root/skew-lib/ivf_index/assigned",
        "cluster" -> org.apache.spark.sql.types.IntegerType)
        .select("chunk_id").distinct().collect().map(_.getString(0)).toSet

    // FIRST BUILD racing an ingest: the hook fires between the build's
    // row job (which read the pre-ingest store snapshot) and its
    // manifest commit — the interleave the per-tree leases permit when
    // the reentrant/all-tree frames compose. Without the commit-time
    // heal the fresh index silently lacks the batch until someone runs
    // repairIndexes.
    var fired = 0
    lib.onRebuildBeforeCommit = () => if (fired == 0) {
      fired += 1
      lib.addDocuments(docs.filter(col("doc_id") >= 30)
        .withColumn("doc_id", col("doc_id") + 5000))
    }
    lib.buildIvfIndex(nCentroids = 4)
    lib.onRebuildBeforeCommit = () => ()
    assert(fired == 1)
    val storeIds = lib.chunks.where(col("embedding").isNotNull)
      .select("chunk_id").collect().map(_.getString(0)).toSet
    val ivfIds = indexIds()
    assert(ivfIds == storeIds,
      s"ivf index misses ${(storeIds -- ivfIds).size} interleaved rows " +
      "(commit-time skew heal did not run)")
    // and the healed rows are SERVED: a searchAt at the latest epoch
    // (recorded by the build frame, after the heal) sees them
    lib.setAlgorithm("ivf")
    assert(lib.search("spark join stream table filter", k = 5).collect().length == 5)

    // REBUILD of an existing index racing an ingest: the interleaved
    // append advances the ivf tree itself, so the build's predicted
    // generation goes stale and its sidecars re-number at commit.
    lib.onRebuildBeforeCommit = () => if (fired == 1) {
      fired += 1
      lib.addDocuments(docs.filter(col("doc_id") >= 30)
        .withColumn("doc_id", col("doc_id") + 7000))
    }
    lib.buildIvfIndex(nCentroids = 8)
    lib.onRebuildBeforeCommit = () => ()
    assert(fired == 2)
    val storeIds2 = lib.chunks.where(col("embedding").isNotNull)
      .select("chunk_id").collect().map(_.getString(0)).toSet
    val ivfIds2 = indexIds()
    assert(ivfIds2 == storeIds2,
      s"rebuild skew heal missed ${(storeIds2 -- ivfIds2).size} rows")
    assert(lib.search("spark join stream table filter", k = 5).collect().length == 5)

    // PENDING interleave: a deferred-embedding ingest mid-build must
    // NOT be healed into the index — pending rows are invisible to
    // every index until rebuildIndex embeds them (searchable-store
    // discipline inside healRebuildSkew too)
    lib.onRebuildBeforeCommit = () => if (fired == 2) {
      fired += 1
      lib.addChunkedDocuments(
        docs.filter(col("doc_id") < 5).select(
          (col("doc_id") + 8000).as("doc_id"), lit("srcp").as("source"),
          lit(0).as("chunk_idx"), col("text").as("chunk_text")),
        deferEmbedding = true)
    }
    lib.buildIvfIndex(nCentroids = 8)
    lib.onRebuildBeforeCommit = () => ()
    assert(fired == 3)
    val pendingN = lib.unindexed.count()
    assert(pendingN > 0, "deferred interleave stored no pending rows")
    val ivfIds3 = indexIds()
    val searchable3 = lib.chunks.where(col("embedding").isNotNull)
      .select("chunk_id").collect().map(_.getString(0)).toSet
    assert(ivfIds3 == searchable3,
      "pending rows leaked into (or searchable rows missed from) the healed index")
    assert(!ivfIds3.exists(_.contains("#80")),
      "a pending chunk_id reached the index before embedding")
    lib.delete()
  }

  test("epoch-pinned filtered search: head parity when static, stable across mutation, all hits in scope") {
    val root = Files.createTempDirectory("graft-lib-pinf").toString
    val lib = new VectorLibrary(spark, root, "pinf-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(50)
    lib.addDocuments(docs.filter(col("doc_id") < 30))
    lib.buildPartitionedIndex()
    lib.buildGridIndex(gridDims = 3, cellsPerDim = 3)
    lib.buildIvfIndex(nCentroids = 4)
    lib.buildPqIndex(m = 4, kk = 8)
    lib.buildIvfPqIndex(nCentroids = 4, m = 4, kk = 8)
    val e = lib.epochs.last
    val q = "spark join stream table filter"
    // a predicate that keeps a strict, non-empty subset
    val src = lib.chunks.groupBy("source").count()
      .orderBy(col("count").desc).head.getString(0)
    val f = col("source") === src
    val inScope = lib.chunks.where(f)
      .select("chunk_id").collect().map(_.getString(0)).toSet
    assert(inScope.nonEmpty && inScope.size < lib.chunks.count())

    val algos = Seq("flat", "lsh", "quantized", "binary",
      "grid", "ivf", "pq", "ivfpq")
    def pinned(alg: String): Seq[String] =
      lib.searchAt(e, q, k = 8, algorithm = Some(alg), filter = Some(f))
        .collect().map(_.toSeq.mkString("|")).toSeq
    val before = algos.map { alg =>
      lib.setAlgorithm(alg)
      val head = lib.search(q, k = 8, filter = Some(f))
        .collect().map(_.toSeq.mkString("|")).toSeq
      val pin = pinned(alg)
      // nothing has mutated since the epoch: pinned == head
      assert(pin == head, s"pinned filtered $alg diverged from head on a static library")
      // scoping contract: every hit satisfies the predicate
      assert(pin.forall(h => inScope.contains(h.split('|').head)),
        s"pinned filtered $alg returned an out-of-scope hit")
      // approx probes (lsh buckets, pruned cells) may legitimately
      // find nothing inside a narrow subset — head parity above is
      // the correctness check; only the exact scans must fill k
      if (Seq("flat", "quantized", "binary").contains(alg))
        assert(pin.nonEmpty, s"pinned filtered $alg returned nothing")
      alg -> pin
    }.toMap

    // mutate (same source keeps the filter live) + rebuild geometry:
    // the pinned filtered results must not move
    lib.addDocuments(docs.filter(col("doc_id") >= 30)
      .withColumn("doc_id", col("doc_id") + 4000))
    lib.buildIvfIndex(nCentroids = 8)
    lib.buildPqIndex(m = 8, kk = 16)
    algos.foreach { alg =>
      assert(pinned(alg) == before(alg),
        s"pinned filtered $alg search changed across a mutation")
    }

    // head == searchAt(latest epoch) where no layout can serve: a filter
    // no layout row carries (what every filter is to a pre-metadata
    // layout), and a library with no persisted layout at all
    val bare = new VectorLibrary(spark, root, "pinf-bare")
    bare.addDocuments(docs.filter(col("doc_id") < 30))
    val unserved = Seq(
      ("uncovered filter", lib, Some(col("chunk_idx") <= 1 && f)),
      ("no layout, filtered", bare, Some(f)),
      ("no layout", bare, None))
    for ((what, l, flt) <- unserved; alg <- algos) {
      l.setAlgorithm(alg)
      val head = l.search(q, k = 8, filter = flt)
        .collect().map(_.toSeq.mkString("|")).toSeq
      val pin = l.searchAt(l.epochs.last, q, k = 8, algorithm = Some(alg), filter = flt)
        .collect().map(_.toSeq.mkString("|")).toSeq
      assert(pin == head, s"$what: pinned $alg diverged from head")
    }
    bare.delete()
    lib.delete()
  }

  test("serving caches survive a reader thread racing a mutating writer") {
    // The r12 resolve caches are cleared by every mutation while a
    // concurrent reader thread may be mid-getOrElseUpdate — TrieMaps
    // make that race benign (worst case a duplicated load). This spec
    // drives the exact shape: one thread searches in a loop across
    // algorithms while the writer ingests, rebuilds geometry, and
    // deletes. Any cache-corruption exception fails the run.
    val root = Files.createTempDirectory("graft-lib-race").toString
    val lib = new VectorLibrary(spark, root, "race-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(60)
    lib.addDocuments(docs.filter(col("doc_id") < 30))
    lib.buildIvfIndex(nCentroids = 4)
    lib.buildPqIndex(m = 4, kk = 8)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      val algos = Seq("flat", "lsh", "ivf", "pq")
      var i = 0
      while (!stop.get()) {
        val alg = algos(i % algos.size)
        try {
          // a reader mid-mutation may catch a transiently absent index
          // (drop/rebuild window) — ONLY cache-corruption classes fail
          lib.searchAt(lib.epochs.last, "spark join stream table", k = 3,
            algorithm = Some(alg)).count()
          reads.incrementAndGet()
        } catch {
          case _: IllegalArgumentException => () // pruned epoch mid-read
          case t: Throwable =>
            val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
              .toSeq.last
            root match {
              case _: NullPointerException | _: ArrayIndexOutOfBoundsException
                   | _: ClassCastException => readerErrors.add(t)
              case _ => () // IO races on moving files are the ladder's domain
            }
        }
        i += 1
      }
    }, "race-reader")
    reader.setDaemon(true)
    reader.start()
    (0 until 3).foreach { r =>
      lib.addDocuments(docs.filter(col("doc_id") >= 30)
        .withColumn("doc_id", col("doc_id") + 1000 * (r + 1)))
      lib.buildIvfIndex(nCentroids = 4 + r)
      lib.deleteDocuments(col("doc_id") === lit(1000L * (r + 1) + 35))
    }
    Thread.sleep(500)
    stop.set(true)
    reader.join(10000)
    assert(readerErrors.isEmpty,
      s"cache-corruption exceptions under reader/writer race: ${readerErrors.peek()}")
    assert(reads.get() > 0, "reader never completed a search")
    assert(lib.search("spark join stream table", k = 5).collect().length == 5)
    lib.delete()
  }

  test("serving-resolution memo: repeated search/searchAt issues zero resolution listings after the first") {
    val root = Files.createTempDirectory("graft-lib-memo").toString
    val lib = new VectorLibrary(spark, root, "memo-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)
    lib.addDocuments(docs.filter(col("doc_id") < 25))
    lib.buildIvfIndex(nCentroids = 4)
    lib.buildGridIndex(gridDims = 3, cellsPerDim = 3)
    lib.buildPqIndex(m = 4, kk = 8)
    lib.buildIvfPqIndex(nCentroids = 4, m = 4, kk = 8)
    val e = lib.epochs.last
    val q = "spark join stream table filter"

    // HEAD reads: per algorithm, the second identical search must
    // re-list nothing — sidecar generations, tree emptiness, manifest
    // generations, and the geometry parquets all resolve from the memo
    Seq("ivf", "grid", "pq", "ivfpq", "flat").foreach { alg =>
      lib.setAlgorithm(alg)
      val first = lib.search(q, k = 8).collect().map(_.toSeq.mkString("|")).toSeq
      val c0 = lib.servingListCount
      val again = lib.search(q, k = 8).collect().map(_.toSeq.mkString("|")).toSeq
      assert(lib.servingListCount == c0,
        s"repeated head $alg search issued ${lib.servingListCount - c0} " +
        "resolution listings (expected 0)")
      assert(again == first, s"memoized head $alg search changed results")
    }

    // PINNED reads across a geometry rebuild: the epoch-pinned search
    // must stay list-free on repeat too (the memo keys on the RESOLVED
    // generation, so the pinned entries coexist with the head's)
    lib.addDocuments(docs.filter(col("doc_id") >= 25)
      .withColumn("doc_id", col("doc_id") + 9000))
    lib.buildIvfIndex(nCentroids = 8)
    lib.buildPqIndex(m = 8, kk = 16)
    lib.buildIvfPqIndex(nCentroids = 8, m = 8, kk = 16)
    Seq("ivf", "pq", "ivfpq").foreach { alg =>
      val first = lib.searchAt(e, q, k = 8, algorithm = Some(alg))
        .collect().map(_.toSeq.mkString("|")).toSeq
      val c0 = lib.servingListCount
      val again = lib.searchAt(e, q, k = 8, algorithm = Some(alg))
        .collect().map(_.toSeq.mkString("|")).toSeq
      assert(lib.servingListCount == c0,
        s"repeated pinned $alg search issued ${lib.servingListCount - c0} " +
        "resolution listings (expected 0)")
      assert(again == first, s"memoized pinned $alg search changed results")
    }
    lib.delete()
  }

  test("geometry vacuum: sidecar generations prune to the retained resolvers; crash orphans sweep") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-geomvac").toString
    val lib = new VectorLibrary(spark, root, "geomvac-lib")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(20)
    lib.addDocuments(docs)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sidecars(prefix: String): Seq[String] = {
      val dir = new Path(s"$root/geomvac-lib/ivfpq_index")
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(prefix)).sorted
    }
    lib.buildIvfPqIndex(nCentroids = 4, m = 4, kk = 8)
    lib.buildIvfPqIndex(nCentroids = 8, m = 4, kk = 8)
    assert(sidecars("centroids.g").size == 2,
      "each rebuild must record its own geometry generation")
    // a crash orphan: geometry numbered above the head (prediction
    // whose commit never happened) — plus a stranded rebuild tmp tree
    fs.mkdirs(new Path(s"$root/geomvac-lib/ivfpq_index/centroids.g000009999"))
    fs.mkdirs(new Path(s"$root/geomvac-lib/ivfpq_index/.encoded.rebuild_tmp/x"))
    // default-window vacuum: both rebuild generations are retained, so
    // BOTH geometry generations survive (each is a retained resolver);
    // the orphan and the tmp tree go
    lib.vacuumIndexes()
    assert(sidecars("centroids.g").size == 2,
      "vacuum removed a geometry generation a retained snapshot resolves to")
    assert(!fs.exists(new Path(s"$root/geomvac-lib/ivfpq_index/centroids.g000009999")),
      "crash-orphan geometry survived vacuum")
    assert(!fs.exists(new Path(s"$root/geomvac-lib/ivfpq_index/.encoded.rebuild_tmp")),
      "stranded rebuild tmp tree survived vacuum")

    // truncate-history: only the head generation survives -> only ONE
    // geometry generation remains, and epochs that no longer resolve
    // are dropped instead of dangling into raw read failures. Epoch 1
    // (store-only, store gen 1 still the head) stays resolvable and
    // must SURVIVE; epoch 2 (ivfpq gen 1, whose manifest just pruned)
    // must go.
    val epochsBefore = lib.epochs
    val eIvfPq1 = epochsBefore.find(e =>
      lib.epochInfo(e).get("ivfpq").contains(1L)).get
    lib.vacuumIndexes(retainNone = true)
    assert(sidecars("centroids.g").size == 1,
      "retainNone vacuum kept geometry with no retained resolver")
    assert(!lib.epochs.contains(eIvfPq1),
      "retainNone vacuum left an unresolvable epoch dangling")
    assert(lib.epochs.nonEmpty && lib.epochs.size < epochsBefore.size)
    // every SURVIVING epoch still resolves end-to-end
    lib.epochs.foreach(e => lib.consistentAt(e).foreach(_._2.count()))
    // the surviving epoch still serves a pinned read end-to-end
    lib.epochs.lastOption.foreach { e =>
      assert(lib.searchAt(e, "spark join stream", k = 5,
        algorithm = Some("ivfpq")).collect().nonEmpty)
    }

    // crash-orphan ADOPTION guard: a failed rebuild's sidecar at
    // head+1 must be swept BEFORE the next append commits onto that
    // generation — otherwise every reader silently decodes existing
    // codes under the failed build's geometry
    val head = lib.epochInfo(lib.epochs.last)("ivfpq")
    val orphan = new Path(
      f"$root/geomvac-lib/ivfpq_index/centroids.g${head + 1}%09d")
    fs.mkdirs(orphan)
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents")
      .limit(25).filter(col("doc_id") >= 20)
      .withColumn("doc_id", col("doc_id") + 7000))
    assert(!fs.exists(orphan),
      "append adopted (did not sweep) a crash-orphan geometry sidecar")
    assert(lib.search("spark join stream", k = 5).count() > 0)
    lib.delete()
  }

  test("pending chunks stay out of every index through repair; a pending-only store reads as empty") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lib-pending").toString
    val lib = new VectorLibrary(spark, root, "pending-lib")
    val pending = (0 until 8).map(i =>
      (90000L + i, 0, s"pending chunk text number $i", "s0"))
      .toDF("doc_id", "chunk_idx", "chunk_text", "source")
    lib.addChunkedDocuments(pending, deferEmbedding = true)
    // a pending-ONLY store is EMPTY for search/fit purposes: the
    // index-requiring algorithms answer [] (the empty-library
    // contract) instead of crashing a k-means fit on a zero-row frame
    for (alg <- Seq("ivf", "pq", "ivfpq", "grid", "flat")) {
      lib.setAlgorithm(alg)
      assert(lib.search("anything at all", k = 3).count() == 0,
        s"pending-only store returned rows under '$alg'")
    }
    lib.setAlgorithm("flat")

    // real rows + indexes + the pending rows: repair must NOT read
    // pending as "missing" — pre-fix it appended null vectors into
    // every index (null ADC codes; and a permanently-missing lsh
    // report on every run)
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(15)
    lib.addDocuments(docs)
    lib.buildIvfIndex(nCentroids = 4)
    lib.buildPqIndex(m = 4, kk = 8)
    val rep = lib.repairIndexes()
    assert(rep.values.forall { case (miss, gh) => miss == 0L && gh == 0L },
      s"repair treated pending chunks as index gaps: $rep")
    assert(lib.unindexed.count() == 8, "repair consumed the pending rows")
    // and the indexes hold exactly the searchable rows
    val searchableCount = lib.chunks.filter(col("embedding").isNotNull).count()
    assert(manifestRead(s"$root/pending-lib/pq_index/codes",
      "source" -> org.apache.spark.sql.types.StringType).count() == searchableCount)
    lib.delete()
  }

  test("a first-build crash orphan sidecar does not read as a live index") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-lib-orphan1").toString
    val lib = new VectorLibrary(spark, root, "orphan1-lib")
    lib.addDocuments(Tables.load(spark, SparkTestSession.sfDir, "documents").limit(10))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate buildIvfIndex crashing after the sidecar write, before
    // any ivf tree commit: a suffixed sidecar exists, the tree has no
    // generations
    fs.mkdirs(new Path(s"$root/orphan1-lib/ivf_index/centroids.g000000001"))
    assert(!lib.hasIvfIndex,
      "a crash-orphan sidecar beside a never-committed tree read as a live IVF index")
    // search still routes through the configured algorithm unharmed
    assert(lib.search("spark join stream", k = 3).count() == 3)
    lib.delete()
  }
}
