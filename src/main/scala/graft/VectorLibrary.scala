package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import graft.GraftFunctions._
import graft.functions.VectorOps
import graft.operators.{IvfIndex, IvfPq, PqIndex, TextAnalysis, VectorSearch}

/**
 * Library-level facade: the reference service's API surface
 * (create library / add documents / auto-chunk / embed / index /
 * search / stats / delete — routers/library_router.py,
 * services/library_service.py + vector_service.py) re-expressed as
 * dataset transforms over a parquet-backed store.
 *
 * Differences by design (SURVEY.md paragraph 3): persistence is parquet (not
 * PostgreSQL), embeddings come from the deterministic seeded embedder
 * (not Cohere), and "index build" materializes index columns
 * (LSH buckets, int8 codes) next to the data so a 1000-executor scan
 * can prune columns/partitions instead of consulting driver-side state.
 */
class VectorLibrary(spark: SparkSession, root: String, val name: String,
                    dim: Int = 64, seed: Long = 42L,
                    embedder: Embedder = null) {
  SparkEntry.configure(spark)

  /** The embedding provider (reference embedding_service seam):
    * deterministic seeded stand-in unless the caller plugs one in. */
  private val embed: Embedder =
    Option(embedder).getOrElse(new DeterministicEmbedder(dim, seed))
  require(embed.dim == dim,
    s"embedder dimension ${embed.dim} does not match library dimension $dim")

  private val path = s"$root/$name/chunks"
  private val indexPath = s"$root/$name/lsh_index"
  private val numTables = 8
  private val bitsPerTable = 8

  private def hadoopFs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Cross-process single-writer enforcement: every mutating entry
  // point runs under a lease-based `_writer.lock` (see [[WriterLock]];
  // reference parity: storage.py's per-process RLock +
  // background_tasks.py's per-library rebuild serialization). A second
  // live writer gets a loud ConcurrentWriterException instead of
  // silently interleaved manifest generations. Reentrant, so composed
  // mutations (updateDocument = delete + add) take one lease.
  private lazy val leaseMsConf: Long =
    spark.conf.getOption("spark.graft.writerLockLeaseMs")
      .map(_.toLong).getOrElse(300000L)
  private lazy val writerLock = new WriterLock(
    hadoopFs(root), s"$root/$name", leaseMsConf)

  // --- per-tree leases (the PLANS.md multi-writer relaxation, r11) ----
  // Through r10 ONE library-wide lease serialized every mutation (the
  // Delta-v1 position). Now each tree carries its own lease file
  // (`<treeRoot>/_writer.lock`), a mutation acquires exactly its WRITE
  // footprint in canonical order (store < grid < ivf < ivfpq < lsh <
  // pq — deadlock-free by global ordering), and the all-tree
  // transactions (ingest, delete, restore, repair, rebuild, vacuum)
  // take the library lease PLUS all six — equivalent to the old global
  // lock, and still loud against a pre-r11 peer that only knows the
  // library lease. Disjoint single-tree maintenance (compact `pq`
  // while another instance builds `grid`) now commits concurrently;
  // intersecting footprints fail loudly at acquire with
  // [[WriterLock.ConcurrentWriterException]].
  //
  // Skew under disjointness, DETECTED AND HEALED AT COMMIT (r12): an
  // index BUILD holds only its own tree's lease (the store is read
  // lock-free from a committed manifest snapshot), so an ingest can
  // land mid-build — through a reentrant frame, a stale store cache
  // over another instance's completed ingest, or a lease-expiry edge.
  // Each build method captures the store generation its PLANNING
  // reflects (before the row-source frames resolve — r13: capturing
  // at install entry raced a same-instance ingest's invalidation into
  // skipping the heal) and installRebuild, after the manifest commit,
  // fresh-compares the store
  // head: an advance triggers [[healRebuildSkew]], which appends the
  // missed rows under the frozen just-committed geometry before the
  // build's lease releases — the committed index tracks the store at
  // the next epoch with no manual [[repairIndexes]] call.
  private val TreeOrder = Seq("store", "grid", "ivf", "ivfpq", "lsh", "pq")
  // Lease files live under `_locks/<tree>/`, NOT inside the tree
  // roots: WriterLock's acquire mkdirs its root, and a dropped
  // layout's directory delete must not take a held lease with it.
  private lazy val treeLocks: Map[String, WriterLock] =
    epochTrees.map { case (n, _) =>
      n -> new WriterLock(hadoopFs(root), s"$root/$name/_locks/$n", leaseMsConf)
    }.toMap

  // One-time commit-semantics probe of the library's filesystem (see
  // [[FsCapabilities]]): every mutation passes through withLeases, so
  // a filesystem that cannot honor atomic create-if-absent /
  // non-clobbering rename fails loudly BEFORE the first lease is
  // taken — not after a silently interleaved commit. Lazy val: once
  // per library instance; the probe itself runs once per filesystem
  // per JVM. Read-only sessions never reach it.
  private lazy val fsContractVerified: Unit =
    FsCapabilities.verify(hadoopFs(root), s"$root/$name",
      // tolerant parse: "1"/"yes" mis-sets must not turn the override
      // into an IllegalArgumentException inside lazy-val init
      spark.conf.getOption("spark.graft.unsafeFs").exists(v =>
        v.equalsIgnoreCase("true") || v == "1" || v.equalsIgnoreCase("yes")))

  /** Acquire the leases of `names` in canonical order, then run body. */
  private def withLeases[T](names: Seq[String])(body: => T): T = {
    fsContractVerified
    val unknown = names.toSet -- TreeOrder.toSet
    require(unknown.isEmpty, s"unknown lease footprint trees: $unknown")
    def loop(rem: Seq[String]): T = rem match {
      case Seq() => body
      case h +: t => treeLocks(h).withLock(loop(t))
    }
    loop(TreeOrder.filter(names.contains))
  }

  // Consistency epochs ride the mutation frame: after the OUTERMOST
  // frame finishes (every tree it touched has committed) and while its
  // leases are still held, the per-tree generation tuple is recorded —
  // see [[recordEpoch]]. A reader resolving an epoch therefore never
  // observes the store/index commit skew window. Frames from
  // concurrent disjoint footprints share the depth counter: the LAST
  // frame out records (covering every commit of the overlap), and
  // recordEpoch validates its assembly optimistically when recorded
  // without the full lease set.
  private val frameLock = new Object
  private var mutationDepth = 0
  // true once some thread's OUTERMOST frame completed successfully in
  // the current overlap; consumed by the frame that brings the shared
  // depth back to 0
  private var epochPending = false
  // this thread's own nesting depth: only a thread's outermost frame
  // may mark the epoch pending — a nested inner frame's success (e.g.
  // buildIvfIndex inside a failing appendBatch) is PART of its outer
  // mutation, and recording it would publish exactly the
  // half-committed cross-tree state epochs exist to hide
  private val threadFrameDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private def enterFrame[T](body: => T): T = {
    frameLock.synchronized { mutationDepth += 1 }
    threadFrameDepth.set(threadFrameDepth.get + 1)
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val outermostOfThread = threadFrameDepth.get == 1
      threadFrameDepth.set(threadFrameDepth.get - 1)
      frameLock.synchronized {
        // Record on the 1 -> 0 TRANSITION of the SHARED depth, inside
        // the same synchronized block as the decrement: a
        // check-then-separately-decrement let two concurrent disjoint
        // frames BOTH observe depth 2 and both skip — neither commit
        // got an epoch. The last frame out records iff some thread's
        // outermost frame succeeded; an all-failed overlap records
        // nothing (crash semantics: the previous epoch stays latest).
        mutationDepth -= 1
        if (ok && outermostOfThread) epochPending = true
        if (mutationDepth == 0 && epochPending) {
          epochPending = false
          if (ok) recordEpoch()
          else
            // recording a SIBLING's success from a failed frame's
            // exit: an epoch-record failure here must not mask the
            // body's exception already propagating
            try recordEpoch()
            catch { case t: Throwable =>
              System.err.println(s"[graft] epoch record after a failed " +
                s"sibling frame threw: ${t.getMessage}") }
        }
      }
    }
  }

  /** The all-tree mutation frame: library lease + every tree lease. */
  private def withWriterLock[T](body: => T): T = writerLock.withLock {
    withLeases(TreeOrder)(enterFrame(body))
  }

  /** Footprint-scoped mutation frame: only the named trees' leases —
    * single-tree maintenance (build/drop/compact/refit of ONE index)
    * runs concurrently with disjoint maintenance from other writer
    * instances; intersecting footprints fail loudly at acquire. */
  private def withTreeLocks[T](footprint: Seq[String])(body: => T): T =
    withLeases(footprint)(enterFrame(body))

  /** True when `tree` has a committed manifest generation — the one
    * presence rule of the store and every layout. A tree without one is
    * empty, whatever files sit under its root (a crashed first write's
    * orphans). The resolved chain is memoized by the tree until its
    * next commit or [[invalidateIndexes]]; an empty tree is never
    * memoized, so its first commit shows at once. */
  private def committed(tree: graft.plans.ManifestedTree): Boolean =
    tree.readManifest().isDefined

  // --- persisted library metadata ------------------------------------
  // The reference keeps LibraryMetadata (description/created_at/
  // updated_at/extra) and preferred_index_algorithm on the Library row
  // (schemas/library_schema.py, PUT /libraries/{id}); here they live
  // in a _library.json next to the store so a NEW session (or another
  // cluster) reopens the library with the same algorithm and metadata.
  private val metaPath = s"$root/$name/_library.json"

  private def readMeta(): Map[String, String] = {
    val fs = hadoopFs(metaPath)
    val p = new org.apache.hadoop.fs.Path(metaPath)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      // flat string-to-string JSON object (written by writeMeta below)
      "\"([^\"]+)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(raw)
        .map(m => m.group(1) -> m.group(2).replace("\\\"", "\"").replace("\\\\", "\\"))
        .toMap
    }
  }

  private def writeMeta(m: Map[String, String]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")
    val fs = hadoopFs(metaPath)
    val out = fs.create(new org.apache.hadoop.fs.Path(metaPath), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  // _library.json is a read-modify-write shared by every mutation;
  // under the library lease that is serialized for free, but two
  // footprint-scoped writers (disjoint index builds from different
  // instances) would clobber each other's keys — their meta writes
  // serialize under this tiny dedicated lease instead. Lazy + only on
  // the footprint path, so the all-tree hot path (every streaming
  // micro-batch exits through touchMeta) pays nothing.
  private lazy val metaLock = new WriterLock(
    hadoopFs(root), s"$root/$name/_locks/meta", leaseMsConf)

  private def touchMeta(updates: (String, String)*): Unit = {
    def write(): Unit = {
      val now = java.time.Instant.now().toString
      val base = readMeta()
      writeMeta(base
        ++ Map("name" -> name,
          "created_at" -> base.getOrElse("created_at", now),
          "updated_at" -> now)
        ++ updates)
    }
    if (writerLock.held) write()
    else {
      // WriterLock THROWS on a live holder (mutations must be loud) —
      // but a meta write is milliseconds, and two disjoint builds
      // finishing together should not fail one of them over a
      // timestamp update. Briefly retry the tiny lease before
      // surfacing the conflict.
      var attempt = 0
      var done = false
      while (!done) {
        try { metaLock.withLock(write()); done = true }
        catch {
          case _: WriterLock.ConcurrentWriterException if attempt < 50 =>
            attempt += 1
            Thread.sleep(20L + scala.util.Random.nextInt(30))
        }
      }
    }
  }

  /** Library metadata as last persisted (reference GET /libraries/{id}). */
  def metadata: Map[String, String] = readMeta()

  /** Update description/extra metadata (reference PUT /libraries/{id}). */
  def updateMetadata(updates: (String, String)*): Unit = {
    require(!updates.exists(u => Set("name", "created_at")(u._1)),
      "name and created_at are immutable")
    // algorithm must go through setAlgorithm: a raw metadata write
    // would bypass its validation and persist a value the search
    // dispatch cannot route, breaking every future session.
    require(!updates.exists(_._1 == "algorithm"),
      "set the index algorithm via setAlgorithm, not updateMetadata")
    touchMeta(updates: _*)
  }

  /** Per-library index algorithm, switchable live AND persisted
    * (reference `preferred_index_algorithm`, services/vector_service
    * .py:314 set_library_algorithm / library_service.py:146) — a new
    * session reopening this store routes search the same way. */
  private var algo: String = readMeta().getOrElse("algorithm", "flat")
  def algorithm: String = algo
  def setAlgorithm(a: String): Unit = {
    require(VectorLibrary.algorithms(a),
      s"unknown index algorithm '$a' (expected one of ${VectorLibrary.algorithms.mkString(", ")})")
    algo = a
    touchMeta("algorithm" -> a)
  }

  // Dev/test probe: the resolution scan scope of the most recent
  // deleteVictims, per tree — the partition directories the victim-
  // file resolution actually opened (or the tree root when a
  // coverage shortfall forced the full-tree fallback). Lets specs
  // assert that targeted deletes stay pruned without instrumenting
  // the filesystem.
  @volatile private[graft] var lastDeleteAudit: Map[String, Seq[String]] = Map.empty

  // --- serving-resolution memo ---------------------------------------
  // Every filesystem fact a SEARCH resolves per call — the sidecar
  // generation listing under each geometry base and each tree's
  // generation chain — is cached between mutations and dropped by
  // [[invalidateIndexes]] from every path that changes what resolution
  // would answer: every ingest/delete/restore/repair, sweepOrphanGeom
  // + vacuumGeometry (sidecar deletes), installRebuild (new sidecar
  // generation), and the index drops. On an object store each uncached
  // search otherwise pays 1-2 LISTs + 1-2 GETs of pure latency.
  // Cross-instance staleness: another writer's commit is seen at this
  // instance's next own mutation, the documented multi-writer read
  // contract.
  // Facts keyed by something immutable survive mutations: the loaded
  // geometry (keyed by the RESOLVED sidecar, so an epoch-pinned
  // searchAt and a head search that land on the same sidecar share one
  // load) and the per-generation facts of [[memoAt]]. Only a drop
  // ([[dropLayout]], [[delete]]) forgets them: a rebuilt tree restarts
  // at generation 1 and its sidecars reuse the dropped ones' names.
  // A generation's held rows ([[resident]]) are not such a fact: every
  // mutation drops them with the chains.
  // TrieMaps, not mutable.HashMap: a reader thread may be serving
  // search() while a writer thread's mutation clears these (the
  // streaming foreachBatch + concurrent-reader shape) — concurrent
  // clear+getOrElseUpdate on a plain HashMap can corrupt bucket state.
  // TrieMap makes every race benign (worst case: one duplicated load).
  private val geomGensCache = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
  private val geomLoadCache = scala.collection.concurrent.TrieMap.empty[String, AnyRef]
  private val genMemo = scala.collection.concurrent.TrieMap.empty[String, (Long, Any)]
  /** Load-once fact about generation `gen` of tree `tree` — store
    * emptiness, grid cell occupancy. Head and epoch-pinned searches
    * resolving the same generation share one entry. One entry per
    * tree, for the newest generation asked: a pinned search of an
    * older generation loads its fact without evicting the head's. */
  private def memoAt[T](tree: String, gen: Long)(load: => T): T =
    genMemo.get(tree) match {
      case Some((g, v)) if g == gen => v.asInstanceOf[T]
      case held =>
        val v = load
        if (held.forall(_._1 < gen)) genMemo.put(tree, (gen, v))
        v
    }
  /** Test probe: filesystem LISTs issued by serving resolution (cache
    * misses in [[geomGens]]). A repeated search must not advance it.
    * Plain var: the specs that read it are single-threaded; a torn
    * count under races costs nothing. */
  private[graft] var resolveListCount: Long = 0L
  /** Test probe: TOTAL filesystem LISTs serving resolution has issued
    * for this library — sidecar-generation listings and each tree's
    * manifest-generation listings. A repeated search()/searchAt() must
    * leave it unchanged. */
  private[graft] def servingListCount: Long =
    resolveListCount + epochTrees.map(_._2.genListCount).sum

  /** Drop the memos of what the filesystem LISTS — generation
    * listings, sidecar listings, tree chains and frames — for ALL
    * trees, not just the mutation's footprint: a footprint-scoped
    * maintenance loop (only ever rebuilding pq) must still adopt
    * another instance's commits to the OTHER trees at its next own
    * mutation — the documented multi-writer read contract ("stale
    * until this instance next mutates"). */
  private[graft] def invalidateIndexes(): Unit = {
    geomGensCache.clear(); epochInfoCache.clear()
    epochTrees.foreach(_._2.invalidate())
    // held rows go with the chains they were read through: generation
    // numbers repeat (another instance's drop + rebuild, or delete +
    // re-create), and rows, unlike a derived fact, would then serve
    // another generation's chunks, deleted ones included
    genMemo.keys.filter(k => k.endsWith("/rows") || k.endsWith("/searches"))
      .foreach(genMemo.remove)
  }

  /** True when the store holds no SEARCHABLE rows (see
    * [[Resolution.storeEmpty]]). */
  private def storeIsEmpty: Boolean = head.storeEmpty

  /** The reference clamps k to [1, 100] (schemas/search_schema.py:26). */
  private def clampK(k: Int): Int = math.min(math.max(k, 1), 100)

  /**
   * Ingest documents (doc_id, text, source): chunk into fixed word
   * windows, embed each chunk, precompute the index columns (LSH
   * buckets + int8 codes), append to the library store. The write is
   * partitioned by source so per-source queries prune files.
   */
  def addDocuments(docs: DataFrame, chunkWindow: Int = 32): Unit =
    appendBatch(indexColumns(TextAnalysis.chunksUnordered(docs, chunkWindow)))

  /** Append an embedded+indexed batch to the store and, for each
    * on-disk index present, its derived rows to that index — ingest
    * stays incremental, indexes never rebuild on append. The store
    * commits first; the layouts then append concurrently, each to its
    * own tree ([[appendLayouts]], [[fanOut]]). */
  private def appendBatch(batch0: DataFrame): Unit = withWriterLock {
    // Cluster store files by doc_id: parquet keeps per-row-group
    // min/max stats, so a doc_id predicate (documentChunks, targeted
    // deletes) skips whole row groups of a sorted file. At 100 TB this
    // is the poor-man's z-order — free at write time, no layout change.
    // persist: the embed + signature pass runs once, not once per sink
    // (the store manifest commit's touched-dir resolution counts as one)
    val b = batch0.sortWithinPartitions(col("source"), col("doc_id")).persist()
    storeTree.appendCommitted(b, 0L)
    appendLayouts(b, layouts.filter(_.present))
    b.unpersist()
    invalidateIndexes()
    touchMeta()
  }

  /**
   * Ingest PRE-CHUNKED content (reference POST /documents
   * create_document_from_chunks, document_router.py:33: the caller
   * supplies the chunks; the service embeds and indexes them). Rows:
   * (doc_id, chunk_idx, chunk_text, source) — token counts, embedding
   * and index columns are derived exactly as for auto-chunked ingest,
   * so both paths produce interchangeable store rows.
   *
   * `deferEmbedding = true` stores the chunks PENDING — typed-null
   * embedding/index columns, visible via [[unindexed]] — the
   * reference's unindexed-chunk state (chunks created while the
   * embedding service is down or rate-limited; the background batch
   * re-index, background_tasks.py:260, embeds them later =
   * [[rebuildIndex]] here). Pending rows join no index until then, so
   * only the store tree appends.
   */
  def addChunkedDocuments(chunked: DataFrame,
                          deferEmbedding: Boolean = false): Unit = {
    val required = Set("doc_id", "chunk_idx", "chunk_text", "source")
    val missing = required -- chunked.columns.toSet
    require(missing.isEmpty, s"addChunkedDocuments: missing columns $missing")
    val base = chunked
      .select(col("doc_id"), col("source"), col("chunk_idx").cast("int").as("chunk_idx"),
        col("chunk_text"),
        textStats(col("chunk_text")).getField("n_tokens").as("n_tokens"))
    if (!deferEmbedding) appendBatch(indexColumns(base))
    else withWriterLock {
      storeTree.appendCommitted(
        pendingRows(base).sortWithinPartitions(col("source"), col("doc_id")), 0L)
      invalidateIndexes()
      touchMeta()
    }
  }

  /** A chunk batch as PENDING store rows: identical store schema, with
    * every embedding-derived column a TYPED null (types taken from the
    * store's own schema so the ingest paths can never drift). Shared
    * by the deferred batch ingest and the streaming embedder-outage
    * fallback. */
  private def pendingRows(base: DataFrame): DataFrame = {
    val schema = chunks.schema
    base.select(chunks.columns.map {
      case c @ ("embedding" | "lsh_buckets" | "quant" | "bits") =>
        lit(null).cast(schema(c).dataType).as(c)
      case "chunk_id" =>
        concat_ws("#", lit(name), col("doc_id"), col("chunk_idx")).as("chunk_id")
      case c => col(c)
    }.toSeq: _*)
  }

  /** Embedding + index columns for a chunk batch (shared by the batch
    * and streaming ingest paths). Embedding goes through the seam's
    * BULK hook: expression-backed embedders project a column (plan
    * unchanged, codegen intact); service-backed ones batch per
    * partition (reference generate_embeddings_batch). */
  private def indexColumns(chunked: DataFrame): DataFrame =
    derivedIndexColumns(
      embed.embedFrame(chunked, "chunk_text", "search_document", "embedding"))

  /** The non-embed index columns over an already-embedded batch —
    * graft's own deterministic expressions, split out so the
    * streaming outage fallback can classify embed-step failures
    * separately ([[embedOrPending]]). */
  private def derivedIndexColumns(embedded: DataFrame): DataFrame =
    embedded
      .withColumn("lsh_buckets", lshBuckets(col("embedding"), numTables, bitsPerTable, seed))
      .withColumn("quant", quantizeVec(l2Normalize(col("embedding"))))
      .withColumn("bits", bitPack(col("embedding")))
      .withColumn("chunk_id",
        concat_ws("#", lit(name), col("doc_id"), col("chunk_idx")))

  /** All chunks of this library. A library that has never ingested
    * returns an EMPTY frame with the full store schema (reference:
    * searching/listing an empty library yields [] — vector_service
    * returns no results, not an error), so every read path works
    * before the first write. */
  def chunks: DataFrame = {
    if (committed(storeTree))
      storeTree.open()
    else {
      import org.apache.spark.sql.types._
      val base = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("chunk_idx", IntegerType), StructField("chunk_text", StringType),
        StructField("n_tokens", IntegerType)))
      indexColumns(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], base))
    }
  }

  /** The store restricted to SEARCHABLE rows: chunks whose embedding
    * is PENDING (deferred-embedding ingest — the reference's
    * unindexed-chunk state) are invisible to every search scan and
    * index fit until [[rebuildIndex]] embeds them. Without this the
    * flat/quantized/binary store scans admit null-score rows into the
    * tail of a top-k, and a k-means/bounds fit over null vectors
    * breaks outright. The IsNotNull predicate pushes down to the
    * parquet scan (row-group stats skip it when no nulls exist). */
  private def searchable: DataFrame = chunks.where(col("embedding").isNotNull)

  /** The query text's vector under the library's doc/query-symmetric
    * embedder, computed once, on the driver. The embedding is projected
    * over a one-row local relation, which the optimizer evaluates
    * itself ([[VectorSearch.evalLocal]]): an expression-backed embedder
    * launches no Spark job and no SQL execution, and one the optimizer
    * cannot evaluate pays one job. Every single-query kernel then
    * scores against the vector as a literal. */
  private[graft] def queryVector(queryText: String): Array[Float] =
    VectorSearch.evalLocal(spark, embed.embed(lit(queryText), "search_query"))
      .getSeq[Float](0).toArray

  /**
   * k-NN search by query text (the reference's POST /search), routed
   * through the library's preferred index algorithm — the analog of
   * the reference switching index classes per library
   * (tests/test_integration_algorithms.py).
   *
   * `filter` (the reference's per-library search scoping,
   * vector_service.py:186, generalized to arbitrary metadata
   * predicates over doc_id/source/n_tokens/chunk_idx/chunk_text):
   * restricts the SEARCHABLE SET — all k results satisfy it, and it
   * is applied scan-side (inside the pruned partitions of the
   * persisted layouts, pushed down to the store scan otherwise),
   * never post-hoc on a shortlist. See [[route]].
   */
  def search(queryText: String, k: Int = 10, metric: String = "cosine",
             filter: Option[Column] = None): DataFrame =
    route(head, algo, filter, new Ask(Left(queryVector(queryText)), clampK(k), metric))

  /** True when `f` resolves against `df`'s schema — i.e. the predicate
    * can be applied to an index layout's own rows. Checked by ANALYZING
    * the filter over a zero-row projection (no data is read). Layout
    * rows carry doc_id, source and n_tokens but not chunk_idx or
    * chunk_text: a filter on those fails this and routes like an
    * absent layout (correct, just less pruned). */
  private def covers(df: DataFrame, f: Column): Boolean =
    try { df.limit(0).where(f).queryExecution.analyzed; true }
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  private def applyF(df: DataFrame, filter: Option[Column]): DataFrame =
    filter.fold(df)(df.where)

  /** Where a search reads: the store frame at generation `storeGen`,
    * and per persisted layout its (frame, generation) when it serves
    * — [[head]] or an epoch ([[at]]). Layouts resolve on demand: a
    * search opens only the layout its algorithm routes through. A
    * small tree's frame is its generation held in driver memory
    * ([[resident]]): the kernels then score and rank it on the driver
    * with no job and no file I/O. */
  private final class Resolution(storeAt: => DataFrame, storeGenAt: => Long,
                                 val layout: Layout => Option[(DataFrame, Long)]) {
    lazy val store: DataFrame = storeAt
    lazy val storeGen: Long = storeGenAt
    /** No SEARCHABLE rows, checked once per store generation. A store
      * holding only pending (null-embedding) chunks has nothing to fit
      * a k-means/grid to and nothing a search could return, so the
      * empty-library contract applies to it verbatim. */
    def storeEmpty: Boolean =
      memoAt("store", storeGen)(store.where(col("embedding").isNotNull).isEmpty)
  }

  /** The library as its heads stand now. */
  private def head: Resolution =
    new Resolution(resident("store", storeTree, headGenOf(storeTree), chunks),
      headGenOf(storeTree), l =>
        if (!l.present) None
        else {
          val g = headGenOf(l.tree)
          Some((resident(l.name, l.tree, g, l.tree.open()), g))
        })

  /** The library as of epoch `e`: every tree at the generation the
    * epoch recorded; a layout the epoch predates is absent. */
  private def at(e: Long): Resolution = {
    val info = epochInfo(e)
    new Resolution(resident("store", storeTree, info("store"), storeTree.openAt(info("store"))),
      info("store"), l => info.get(l.name).map(g => (resident(l.name, l.tree, g, l.tree.openAt(g)), g)))
  }

  /** `frame`, the rows of generation `gen` of `tree` (named `name`),
    * held in driver memory when `gen` is the tree's head, the frame is
    * at most `spark.sql.autoBroadcastJoinThreshold` and at most
    * [[VectorLibrary.ResidentMaxBytes]] by Catalyst's size estimate
    * (the manifest's byte count, [[VectorSearch.scansSmall]]) and the
    * generation is searched again: its first search scans the
    * files (a generation a commit replaces after one search, as in a
    * churning library, pays no load), the second collects them in one
    * job, and every search after that reads a local relation of those
    * rows. One generation per tree ([[memoAt]], keys `<name>/searches`
    * and `<name>/rows`), so a search pinned to an older generation
    * reads its files and never evicts the head's rows; a larger tree
    * always reads its files. Every mutation of this instance drops the
    * held rows ([[invalidateIndexes]]). The rows are held in Spark's
    * binary row format (the row encoder's UnsafeRows: a vector is its
    * packed floats, a string its UTF-8 bytes), so the heap they take
    * stays close to the generation's data bytes. */
  private def resident(name: String, tree: graft.plans.ManifestedTree, gen: Long,
                       frame: DataFrame): DataFrame =
    if (gen != headGenOf(tree) || !VectorSearch.scansSmall(frame, VectorLibrary.ResidentMaxBytes) ||
        memoAt(s"$name/searches", gen)(new java.util.concurrent.atomic.AtomicLong)
          .incrementAndGet() < 2) frame
    else memoAt(s"$name/rows", gen)(spark.createDataset(frame.collect().toSeq)(
      org.apache.spark.sql.Encoders.row(frame.schema)).toDF())

  /** Test probe: the generation of each tree held in driver memory. */
  private[graft] def residentGenerations: Map[String, Long] =
    genMemo.collect { case (k, (g, _)) if k.endsWith("/rows") => k.stripSuffix("/rows") -> g }.toMap

  /** One search's query side and kernel choice: a single search's
    * query vector (`Left`, computed once on the driver and scored as a
    * literal) or a batch's `query_id`-keyed `qvec` frame (`Right`),
    * clamped k and metric. Single and batch searches run different
    * kernels — a batch of one is a different plan — so every
    * store-side route below, and every [[Layout.probe]], picks its
    * twin by folding `q`. */
  private final class Ask(val q: Either[Array[Float], DataFrame], val kk: Int,
                          val metric: String) {
    private def vecs(store: DataFrame) = store.select(col("chunk_id"), col("embedding"))
    /** (chunk_id, score), or (query_id, chunk_id, score, rank) — no rows. */
    def empty(store: DataFrame): DataFrame = q.fold(
      _ => store.select(col("chunk_id"), lit(0.0).as("score")).limit(0),
      qs => qs.limit(0).select(col("query_id"),
        lit("").as("chunk_id"), lit(0.0).as("score"), lit(0).as("rank")))
    def exact(store: DataFrame): DataFrame = q.fold(
      qv => VectorSearch.knnFlat(vecs(store), qv, "chunk_id", "embedding", kk, metric),
      qs => VectorSearch.knnBatch(vecs(store), qs, "chunk_id", "embedding", kk, metric))
    /** Probe of the `lsh_buckets` column every store row carries. */
    def lshColumn(store: DataFrame): DataFrame = q.fold(
      qv => VectorSearch.lshKnnIndexed(store, qv, "chunk_id", "embedding",
        "lsh_buckets", kk, metric, numTables, bitsPerTable, seed),
      qs => VectorSearch.lshKnnBatchIndexed(store, qs, "chunk_id", "embedding",
        "lsh_buckets", kk, metric, numTables, bitsPerTable, seed))
    /** The reference's GridIndex.search semantics (widen until >= 2k
      * candidates), so sparse neighborhoods still fill k. */
    def gridExpanding(store: DataFrame): DataFrame = q.fold(
      qv => VectorSearch.gridKnnExpanding(vecs(store), qv, "chunk_id", "embedding", kk, metric),
      qs => VectorSearch.gridKnnExpandingBatch(vecs(store), qs, "chunk_id", "embedding", kk, metric))
    def quantized(store: DataFrame): DataFrame = q.fold(
      qv => VectorSearch.knnQuantizedIndexed(store, qv, "chunk_id", "embedding", "quant", kk, metric),
      qs => VectorSearch.knnQuantizedBatch(store, qs, "chunk_id", "embedding", "quant", kk, metric))
    /** 1-bit rung: Hamming phase 1 over the stored packed-sign column
      * (8 bytes/row at 64 dims), exact re-rank. */
    def binary(store: DataFrame): DataFrame = q.fold(
      qv => VectorSearch.knnBinaryIndexed(store, qv, "chunk_id", "embedding", "bits", kk, metric),
      qs => VectorSearch.knnBinaryBatch(store, qs, "chunk_id", "embedding", "bits", kk, metric))
  }

  /**
   * The one search router — head and epoch-pinned, single and batch.
   * An algorithm backed by a persisted layout probes it when the
   * resolution holds one whose rows carry `filter`'s columns (the
   * predicate then applies inside the pruned scan). Otherwise — no
   * layout, or a filter on columns layout rows do not carry
   * ([[covers]]) — it routes as a store-only library: lsh probes the
   * store's bucket column, grid runs the expanding probe, and
   * ivf/pq/ivfpq answer with an exact scan, like flat. The fitted
   * algorithms (grid/ivf/pq/ivfpq) answer [] on a store with no
   * searchable rows (reference empty-library semantics); the other
   * scans handle empty input natively.
   */
  private def route(r: Resolution, alg: String, filter: Option[Column], a: Ask): DataFrame = {
    val layout = layouts.find(_.name == alg)
    if (layout.exists(_.geomBases.nonEmpty) && r.storeEmpty) return a.empty(r.store)
    def store = applyF(r.store.where(col("embedding").isNotNull), filter)
    val probed = for {
      l <- layout
      (frame, gen) <- r.layout(l)
      if filter.forall(covers(frame, _))
    } yield l.probe(frame, gen, filter, a)
    probed.getOrElse(alg match {
      case "flat" | "ivf" | "pq" | "ivfpq" => a.exact(store)
      case "lsh" => a.lshColumn(store)
      case "grid" => a.gridExpanding(store)
      case "quantized" => a.quantized(store)
      case "binary" => a.binary(store)
      case other => throw new IllegalArgumentException(
        s"unknown index algorithm '$other' (expected one of " +
        s"${VectorLibrary.algorithms.mkString(", ")})")
    })
  }

  /**
   * k-NN search by raw query vector, routed through the library's
   * preferred index algorithm exactly like the text entry point;
   * validates the query dimension against the library before any scan
   * (reference algorithms.py:79).
   */
  def searchVector(qvec: Seq[Float], k: Int = 10, metric: String = "cosine",
                   filter: Option[Column] = None): DataFrame = {
    if (qvec.length != dim)
      throw new IllegalArgumentException(
        s"query dimension ${qvec.length} does not match library dimension $dim")
    route(head, algo, filter, new Ask(Left(qvec.toArray), clampK(k), metric))
  }

  /**
   * Search returning the full chunk payload (the reference's
   * SearchResponse carries each hit's chunk, not just its id —
   * schemas/search_schema.py SearchResult.chunk). The hit set is k
   * rows by construction, so the payload fetch broadcasts the hits
   * into ONE scan of the store — no shuffle, no per-hit lookups; at
   * 100 TB this is a semi-join pushdown over the chunk table, the
   * same shape chunksBatch uses.
   */
  def searchWithChunks(queryText: String, k: Int = 10,
                       metric: String = "cosine",
                       filter: Option[Column] = None): DataFrame = {
    val hits = search(queryText, k, metric, filter)
    chunks
      .select(col("chunk_id"), col("doc_id"), col("source"),
        col("chunk_idx"), col("chunk_text"), col("n_tokens"))
      .join(broadcast(hits), "chunk_id")
      .orderBy(col("score").desc, col("chunk_id").asc)
  }

  /** Approximate search through the PRE-BUILT LSH index: signatures
    * are never recomputed over the corpus at query time. With the
    * bucket-partitioned index present, the probe is a partition-pruned
    * scan of only the probed (tbl, bucket) directories — the 100 TB
    * shape; otherwise it falls back to the integer column probe over
    * the stored `lsh_buckets` (full scan of one small column). Both
    * paths return identical results (same probes, same stored
    * signatures, same exact re-rank). A metadata predicate composes
    * with the probe predicate INSIDE the pruned scan. */
  def searchApprox(queryText: String, k: Int = 10,
                   metric: String = "cosine",
                   filter: Option[Column] = None): DataFrame =
    route(head, "lsh", filter, new Ask(Left(queryVector(queryText)), clampK(k), metric))

  /**
   * Two-phase approximate search served ENTIRELY from the partitioned
   * index: the pruned (tbl, bucket) directories are scanned twice —
   * once reading only the int8 `quant` codes (phase-1 ranking, ~1/4
   * the bytes of the float probe) and once reading floats for just the
   * rerankFactor*k phase-1 survivors (exact re-rank). Falls back to
   * `searchApprox` when the partitioned index is absent or its rows do
   * not carry the filter's columns. Recall matches `searchApprox`
   * whenever the int8 ranking preserves the true top-k inside its
   * rerank window.
   */
  def searchApproxQuantized(queryText: String, k: Int = 10,
                            rerankFactor: Int = 4,
                            metric: String = "cosine",
                            filter: Option[Column] = None): DataFrame = {
    if (hasPartitionedIndex && filter.forall(covers(partitionedIndex, _)))
      VectorSearch.lshKnnPartitionedQuantized(applyF(partitionedIndex, filter),
        queryVector(queryText),
        "chunk_id", "embedding", "quant", clampK(k), metric,
        numTables, bitsPerTable, seed, rerankFactor = rerankFactor)
    else searchApprox(queryText, k, metric, filter)
  }

  /** Embedded query frame for the batch endpoints: query_id = position
    * in the input list. */
  private def queriesFrame(queryTexts: Seq[String]): DataFrame = {
    require(queryTexts.nonEmpty, "queryTexts must be non-empty")
    import spark.implicits._
    queryTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "qtext")
      .select(col("query_id"),
        embed.embed(col("qtext"), "search_query").as("qvec"))
  }

  /**
   * Batch k-NN search routed through the library's preferred index
   * algorithm — the batch twin of `search`, so N query texts cost one
   * pass over whichever index serves them (union-pruned scan for
   * lsh/ivf/grid, one int8 scan for quantized, one corpus scan for
   * flat) instead of N.
   */
  def searchBatch(queryTexts: Seq[String], k: Int = 10,
                  metric: String = "cosine",
                  filter: Option[Column] = None): DataFrame =
    route(head, algo, filter, new Ask(Right(queriesFrame(queryTexts)), clampK(k), metric))

  /** Batch approximate search: N query texts answered in ONE pass over
    * the LSH index. With the partitioned index present, the scan reads
    * the UNION of all queries' probe partitions once (planning-time
    * pruning), so Q queries cost one pruned scan, not Q; otherwise the
    * stored `lsh_buckets` column probes in a single bucket join. Rows:
    * (query_id, chunk_id, score, rank), query_id = position in input. */
  def searchApproxBatch(queryTexts: Seq[String], k: Int = 10,
                        metric: String = "cosine",
                        filter: Option[Column] = None): DataFrame =
    route(head, "lsh", filter, new Ask(Right(queriesFrame(queryTexts)), clampK(k), metric))

  /**
   * Diversity-aware search (MMR, the RAG retrieval endpoint): the
   * distributed relevance shortlist comes from the flat corpus scan,
   * the greedy lambda-blend selection diversifies it — near-duplicate
   * chunks (adjacent chunks of one document are often near-identical)
   * stop crowding out coverage of the result list. Returns
   * (rank, chunk_id, score) in selection order.
   */
  def searchDiverse(queryText: String, k: Int = 10,
                    lambda: Double = 0.7,
                    filter: Option[Column] = None): DataFrame =
    operators.VectorSearch.mmrRerank(
      applyF(searchable, filter).select(col("chunk_id"), col("embedding")),
      queryVector(queryText), "chunk_id", "embedding", clampK(k), lambda)
      .withColumnRenamed("rel", "score")

  /** Batch twin of [[searchDiverse]]: N query texts share ONE
    * relevance-shortlist scan (bounded per-query heap + one In-filter
    * vector fetch); the greedy lambda-blend selection runs per query
    * over its k-scale candidates, identical in order to the
    * single-query form. Rows (query_id, rank, chunk_id, score). */
  def searchDiverseBatch(queryTexts: Seq[String], k: Int = 10,
                         lambda: Double = 0.7,
                         filter: Option[Column] = None): DataFrame =
    operators.VectorSearch.mmrRerankBatch(
      applyF(searchable, filter).select(col("chunk_id"), col("embedding")),
      queriesFrame(queryTexts), "chunk_id", "embedding", clampK(k), lambda)
      .withColumnRenamed("rel", "score")

  /** Batch search with full chunk payloads: the Q*k-row hit set
    * broadcasts into ONE store scan, same as searchWithChunks. */
  def searchBatchWithChunks(queryTexts: Seq[String], k: Int = 10,
                            metric: String = "cosine",
                            filter: Option[Column] = None): DataFrame = {
    val hits = searchBatch(queryTexts, k, metric, filter)
    chunks
      .select(col("chunk_id"), col("doc_id"), col("source"),
        col("chunk_idx"), col("chunk_text"), col("n_tokens"))
      .join(broadcast(hits), "chunk_id")
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  // --- bucket-partitioned exploded LSH index -------------------------
  // The on-disk analog of the reference's in-memory per-bucket lists
  // (LSHIndex._tables, algorithms.py:300-360): one directory per
  // (table, bucket) holding the (chunk_id, embedding) rows hashed
  // there. A probe reads ~numTables*(1+extraProbes) of the
  // numTables*2^bits directories — I/O proportional to the candidate
  // set, not the corpus. Embeddings are duplicated numTables times
  // (the classic LSH space/time trade); the chunk store remains the
  // source of truth and the index is derived, rebuildable data.

  /** True when the partitioned index has been built. */
  def hasPartitionedIndex: Boolean = lshLayout.present

  // --- derived-layout file manifests ----------------------------------
  // Every persisted index layout publishes its LIVE file set through
  // root-level generation-numbered manifests (graft.plans.
  // ManifestedTree): readers plan from the manifest chain instead of
  // listing the partition directories (zero-stat opens), incremental
  // mutations commit O(batch) DELTA manifests (full rebase every 16),
  // and every install is a rename to a fresh generation file (atomic
  // commits with a reader grace chain — a crashed writer's orphans
  // are invisible by construction). The same commit discipline a lake
  // table format applies, scoped to the derived layouts. A tree with
  // no committed generation is empty: nothing reads its directory.

  // The STORE itself carries the same discipline — it is the biggest
  // tree of all, and the one a recovery re-derives everything from.
  private val storeTree = new graft.plans.ManifestedTree(spark, path,
    StructType(Seq(StructField("source", StringType))))

  /**
   * One persisted index layout: everything that differs between the
   * five lives in its entry of [[layouts]], and every per-index list
   * of the library — epochs, leases, serving memos, compaction,
   * vacuum, repair, ingest appends, copy-on-write deletes, search
   * routing — is a loop over that table.
   *
   * `dir` is the layout's directory (rows tree + geometry sidecars),
   * `root` its manifested rows tree, partitioned by `partCols`, with
   * data files rolling at `maxRecords` rows.
   */
  private abstract class Layout(val name: String, val dir: String, root: String,
                                val partCols: Seq[String], partType: DataType,
                                val maxRecords: Int) {
    val tree = new graft.plans.ManifestedTree(spark, root,
      StructType(partCols.map(StructField(_, partType))))
    /** The fitted geometry the rows decode under. */
    type Geom
    /** Build params as (`_library.json` key, default), in the order
      * the public build method takes them. */
    def params: Seq[(String, Int)] = Nil
    /** Fit the geometry to the searchable store under build params
      * `p` (in [[params]] order); the rows to write, clustered per
      * partition directory. A fit over no rows throws. */
    def fit(store: DataFrame, p: Seq[Int]): (Geom, DataFrame)
    /** Geometry sidecars as (base, frame) pairs: each frame lands at
      * `<dir>/<base>.g<gen>` beside the rows generation it serves. */
    def sidecars: Seq[(String, (Geom, DataFrame) => DataFrame)] = Nil
    /** Generation-numbered geometry sidecar bases (`<base>.g<gen>`). */
    final def geomBases: Seq[String] = sidecars.map(sc => s"$dir/${sc._1}")
    /** Geometry serving tree generation `gen`, loaded once per resolved
      * sidecar ([[geomLoad]]). */
    def geomAt(gen: Long): Geom
    final def headGeom: Geom = geomAt(headGenOf(tree))
    /** Built (its tree has a committed generation): searches probe it
      * and ingest keeps it current. */
    final def present: Boolean = committed(tree)
    /** Rebuild from the store with the params `_library.json` records. */
    final def rebuild(meta: Map[String, String]): Unit =
      buildLayout(this, params.map { case (k, d) => meta.get(k).fold(d)(_.toInt) })
    /** A batch's rows under the frozen head geometry. */
    protected def rows(batch: DataFrame): DataFrame
    /** Append a batch's rows under the FROZEN head geometry, as one
      * manifest delta ([[appendLayouts]] swept orphan sidecars first). */
    final def appendFrozen(batch: DataFrame): Unit =
      tree.appendCommitted(rows(batch), maxRecords)
    /** Partition directories holding a delete's victims. */
    def victimDirs(victims: DataFrame): Seq[String]
    /** True when [[victimDirs]] re-derives placement and must be
      * coverage-checked ([[deleteVictims]]). */
    def derivedDirs: Boolean = false
    /** Single-query or batch probe over one resolved (frame, gen). */
    def probe(frame: DataFrame, gen: Long, filter: Option[Column], a: Ask): DataFrame

    /** Centroid layouts (ivf, ivfpq): the vector the rows were
      * assigned by (raw for ivf, L2-normalized for ivfpq) and a
      * geometry's centroids. */
    def cells: Option[(Column, Geom => Seq[(Int, Array[Double])])] = None
    /** The `stats` sidecar: the build-time drift baseline. */
    final def baseline(g: Geom, rows: DataFrame): DataFrame = {
      val (vec, centers) = cells.get
      IvfIndex.meanSqDist(rows, centers(g), vec)
    }
    /** Drift ratio of a centroid layout: the head rows' mean squared
      * distance to the head centroids over the [[baseline]];
      * 1.0 = as healthy as at build. */
    final def drift: Double = {
      val (vec, centers) = cells.get
      val base = s"$dir/stats"
      IvfIndex.driftRatio(tree.open(), centers(headGeom), vec,
        base + geomSuffixAt(base, headGenOf(tree)))
    }
    /** What the index-health views call a cell: bucket, cell or
      * cluster ("" for pq, which has no health view). */
    def unit: String = if (cells.isEmpty) "" else "cluster"
    /** [[allIndexInfo]] reports this layout's health now. */
    def reported: Boolean = unit.nonEmpty && present
    /** The head's occupancy; a centroid layout counts rows per cluster. */
    def occupancy: Occupancy = {
      val (_, centers) = cells.get
      Occupancy(Int.box(centers(headGeom).size),
        cellSizes(tree.open(), col("cluster")), Some(drift))
    }
  }

  /** One index's health: its cell count (the Int or Long its view's
    * total column carries), the row count of each occupied cell, and a
    * centroid layout's drift ratio. */
  private case class Occupancy(total: Number, sizes: Seq[Long], drift: Option[Double]) {
    def avg: Option[Double] =
      if (sizes.isEmpty) None else Some(VectorOps.roundTo(sizes.sum.toDouble / sizes.size, 4))
    def max: Option[Long] = sizes.maxOption
  }

  /** Rows per occupied cell of `frame`, cells keyed by `keys`. */
  private def cellSizes(frame: DataFrame, keys: Column*): Seq[Long] =
    frame.groupBy(keys: _*).count().collect().map(_.getLong(keys.size)).toSeq

  /** An index-health view: the layout's [[Occupancy]] under its
    * unit's column names, then `extras`, library and algorithm. */
  private def occupancyView(l: Layout, extras: Column*): DataFrame = {
    import spark.implicits._
    val o = l.occupancy
    val u = l.unit
    Seq((o.sizes.size.toLong, o.avg, o.max))
      .toDF(s"occupied_${u}s", s"avg_${u}_size", s"max_${u}_size")
      .withColumn(s"total_${u}s", lit(o.total))
      .withColumn(s"empty_${u}s", lit(o.total) - col(s"occupied_${u}s"))
      .select(col("*") +: (o.drift.map(d => lit(VectorOps.roundTo(d, 6)).as("drift_ratio")) ++: extras): _*)
      .withColumn("library", lit(name))
      .withColumn("algorithm", lit(algo))
  }

  /** The one index build: fit `l` to the searchable store under
    * `values` (its [[Layout.params]], in order), install its rows and
    * geometry sidecars as the tree's next generation
    * ([[installRebuild]]), then record the params. The store
    * generation is captured before the fit plans (see
    * [[installRebuild]]). */
  private def buildLayout(l: Layout, values: Seq[Int]): Unit = withTreeLocks(Seq(l.name)) {
    val storeSnapGen = storeTree.snapshotGen()
    // a fit over a store with no searchable rows throws: only then is
    // the store's emptiness checked (one job), to say why
    val (geom, fitted) =
      try l.fit(searchable, values)
      catch { case scala.util.control.NonFatal(e) if storeIsEmpty =>
        throw new IllegalArgumentException(
          s"library $name is empty — nothing to fit the ${l.name} index to", e) }
    installRebuild(l.tree, Some(l), storeSnapGen) { (tmp, gen) =>
      // a sidecar derived from the rows (`stats`) reads them again:
      // persisted across the row write and that pass
      val rows = if (l.cells.isEmpty) fitted else fitted.persist()
      try {
        // ROWS FIRST: the Overwrite write nukes the whole tmp dir,
        // including anything staged under it. Then the sidecars,
        // STAGED under the tmp tree: installRebuild renames them
        // beside the rows tree right before the manifest commit, so a
        // crashed row job leaves no orphan sidecar for a later commit
        // to adopt.
        rows.write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", l.maxRecords)
          .partitionBy(l.partCols: _*).parquet(tmp)
        l.sidecars.foreach { case (base, frame) =>
          frame(geom, rows).coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(s"$tmp/${VectorLibrary.GeomStageDir}/$base${geomSuffix(gen)}")
        }
      } finally if (rows ne fitted) rows.unpersist()
    }
    touchMeta(l.params.map(_._1).zip(values.map(_.toString)): _*)
  }

  /** Re-fit a centroid layout when its drift ratio exceeds
    * `threshold`; true when a re-fit ran. */
  private def refitIfDrifted(l: Layout, threshold: Double): Boolean =
    withTreeLocks(Seq(l.name)) {
      if (!l.present || l.drift <= threshold) false
      else { l.rebuild(readMeta()); true }
    }

  /** The five layouts, in epoch/maintenance order. */
  private lazy val layouts: Seq[Layout] =
    Seq(lshLayout, ivfLayout, gridLayout, pqLayout, ivfpqLayout)

  /** Append a batch to the layouts `ls` — the index half of every
    * ingest ([[appendBatch]], [[ingestStreamIndexed]]) and of the
    * repair and rebuild-skew heals. Each layout appends under its
    * FROZEN geometry.
    *
    * The orphan-sidecar sweeps (which must precede each tree's
    * commit) run on the calling thread. The appends then run
    * concurrently ([[fanOut]]): one row job and one manifest delta per
    * layout, each on its own tree, so an ingest pays the slowest
    * layout's append instead of the sum. */
  private def appendLayouts(batch: DataFrame, ls: Seq[Layout]): Unit = {
    ls.foreach(sweepOrphanGeom)
    fanOut(ls.map(l => () => l.appendFrozen(batch)))
  }

  /** Run `tasks` concurrently, one thread each; their results, in
    * order. The threads start from the calling thread and end with the
    * call, so every task's jobs carry the caller's Spark local
    * properties (job group, description, scheduler pool): those are an
    * InheritableThreadLocal, copied when a thread is created, and a
    * pooled thread would keep the properties of whichever call created
    * it. Waits for EVERY task before returning or throwing, then throws
    * the first failure with the others attached as suppressed: a task
    * still running after the caller's `finally` (an unpersisted input,
    * a released lease) would race the next mutation. A task must not
    * take the writer lease or a tree lease — those are JVM monitors the
    * calling thread holds. A lone task runs on the calling thread. */
  private def fanOut[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val outcomes = new Array[Either[Throwable, A]](tasks.size)
      val threads = tasks.zipWithIndex.map { case (t, i) =>
        val th = new Thread(() =>
          outcomes(i) = try Right(t()) catch { case e: Throwable => Left(e) },
          s"graft-$name-fanout-$i")
        th.setDaemon(true)
        th.start()
        th
      }
      threads.foreach(_.join())
      outcomes.toSeq.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.toSeq.collect { case Right(a) => a }
      }
    }

  private def escape(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  /** `cluster=` directories of the victims' re-derived cells. */
  private def clusterDirs(l: Layout, withCluster: DataFrame): Seq[String] =
    withCluster.select(col("cluster")).distinct().collect()
      .filter(!_.isNullAt(0))
      .map(r => s"${l.tree.root}/cluster=${r.getInt(0)}").toSeq

  /** Drop a layout's directory (search then routes as if it was never
    * built — see [[route]]). Its generation facts and loaded geometry
    * go too: a rebuild restarts at generation 1. */
  private def dropLayout(l: Layout): Unit = withTreeLocks(Seq(l.name)) {
    hadoopFs(l.dir).delete(new org.apache.hadoop.fs.Path(l.dir), true)
    genMemo.keys.filter(t => t == l.name || t.startsWith(l.name + "/")).foreach(genMemo.remove)
    geomLoadCache.keys.filter(_.startsWith(l.dir + "/")).foreach(geomLoadCache.remove)
    invalidateIndexes()
  }

  private object lshLayout extends Layout("lsh", indexPath, indexPath,
      Seq("tbl", "bucket"), IntegerType, indexMaxRecordsPerFile) {
    type Geom = Unit
    def geomAt(gen: Long): Unit = ()
    def fit(store: DataFrame, p: Seq[Int]): (Unit, DataFrame) = ((), indexRows(store))
    protected def rows(batch: DataFrame): DataFrame = indexRows(batch)
    def victimDirs(victims: DataFrame): Seq[String] =
      victims.select(posexplode(col("lsh_buckets")).as(Seq("tbl", "bucket")))
        .distinct().collect()
        .map(r => s"$indexPath/tbl=${r.getInt(0)}/bucket=${r.getInt(1)}").toSeq
    def probe(frame: DataFrame, gen: Long, filter: Option[Column], a: Ask): DataFrame =
      a.q.fold(
        qv => VectorSearch.lshKnnPartitioned(applyF(frame, filter), qv,
          "chunk_id", "embedding", a.kk, a.metric, numTables, bitsPerTable, seed),
        qs => VectorSearch.lshKnnPartitionedBatch(applyF(frame, filter), qs,
          "chunk_id", "embedding", a.kk, a.metric, numTables, bitsPerTable, seed))
    // The health view reads the `lsh_buckets` column every store row
    // carries (reference LSHIndex.get_stats, algorithms.py:420-441),
    // so it reports whenever the store holds searchable rows.
    override def unit = "bucket"
    override def reported: Boolean = !storeIsEmpty
    override def occupancy: Occupancy =
      Occupancy(Int.box(numTables * (1 << bitsPerTable)),
        cellSizes(chunks.select(posexplode(col("lsh_buckets")).as(Seq("tbl", "bucket"))),
          col("tbl"), col("bucket")), None)
  }

  /** The bucket-partitioned index, memoized per manifest generation. */
  private def partitionedIndex: DataFrame = lshLayout.tree.open()

  /** Exploded index rows of an embedded chunk batch, clustered per
    * (tbl, bucket) partition directory and SORTED BY chunk_id within
    * it (the shuffle moves only id+vector+codes, never the text). The
    * sort is what makes targeted deletes cheap: with file sizes
    * bounded by [[indexMaxRecordsPerFile]], one document's rows sit
    * contiguously and land in one or two files per directory, so a
    * copy-on-write delete rewrites those files — not the whole bucket,
    * however hot it is (LSH buckets are skewed by construction: near-
    * duplicate corpora pile identical signatures into few buckets).
    * The int8 `quant` codes ride along so a two-phase probe can run
    * fully index-resident (phase 1 over codes, phase 2 over floats —
    * both column-pruned reads of the same directories). */
  private def indexRows(embedded: DataFrame): DataFrame =
    embedded.select(col("chunk_id"), col("embedding"), col("quant"),
      // Filterable metadata rides IN the index rows (doc_id, source,
      // n_tokens — ints + a short string next to a 64-float vector),
      // so a metadata-scoped search applies its predicate inside the
      // pruned (tbl, bucket) scan — partition pruning x row-group
      // pushdown — instead of post-hoc on the shortlist.
      col("doc_id"), col("source"), col("n_tokens"),
      posexplode(col("lsh_buckets")).as(Seq("tbl", "bucket")))
      .repartition(col("tbl"), col("bucket"))
      .sortWithinPartitions(col("tbl"), col("bucket"), col("chunk_id"))

  /** Rolling threshold for index data files (~5 MB at the 64-dim row
    * shape): bounds the unit of a copy-on-write rewrite. Without it a
    * partition directory is one monolithic file and deleting a single
    * document from a hot bucket rewrites the entire bucket. */
  private val indexMaxRecordsPerFile = 16384

  /** Build (or rebuild) the bucket-partitioned index from the store.
    * Later `addDocuments` / `ingestStreamIndexed` batches append only
    * their own rows to the affected partitions — incremental, never a
    * full rewrite. */
  def buildPartitionedIndex(): Unit = buildLayout(lshLayout, Nil)

  /** Install a rebuild history-preservingly: the fresh tree writes to
    * a tmp sibling, its files rename INTO the live root beside the
    * previous generation's files (fresh UUID part-names — no clashes,
    * no directory swap, no vanished paths for a concurrent reader
    * mid-plan or pinned to an epoch), and the manifest commits a FULL
    * generation referencing exactly the fresh set
    * ([[graft.plans.ManifestedTree.commitReplaceAll]]). The displaced
    * files stay on disk, manifest-invisible, until vacuum — the
    * Delta REPLACE shape, same as delete's [[cowTree]] install. A
    * crash before the commit leaves only invisible orphans (the
    * dot-prefixed tmp sibling — swept by [[vacuumIndexes]]).
    *
    * `write(tmp, gen)` receives the GENERATION this rebuild will
    * commit (head+1 — exact while this writer holds the lease) so
    * geometry sidecars (centroids/books/bounds/stats) land
    * generation-numbered (`<base>.g<gen>`, [[geomSuffix]]) BEFORE any
    * visibility flip: head readers keep resolving the previous
    * geometry (newest sidecar <= old head), and the new geometry
    * becomes resolvable atomically WITH the manifest commit. A crash
    * after the sidecar write but before the commit leaves the sidecar
    * numbered ABOVE the head — invisible to resolution, overwritten
    * by the next rebuild's identical prediction. This closes the two
    * r10 holes at once: no crash window pairs new geometry with old
    * manifested rows, and [[consistentAt]]/[[searchAt]] readers of
    * encoded trees decode old codes under the OLD geometry across a
    * rebuild. */
  /** Test seam: runs after a rebuild's rows+sidecars are staged but
    * before the manifest commit — the window in which a concurrent
    * ingest's store commit would make the fresh index stale. Specs
    * install an ingest here to exercise the commit-time skew heal. */
  private[graft] var onRebuildBeforeCommit: () => Unit = () => ()

  /** `storeSnapGen` is the store generation the BUILD METHOD captured
    * at planning time (via [[buildSnapGen]], before its row-source
    * frames resolve). Capturing here at install entry instead would
    * race a concurrent same-instance ingest (a streaming foreachBatch
    * thread) whose invalidateIndexes cleared the store stateCache
    * between planning and install: snapshotGen() would fall back to
    * the POST-ingest fresh head while the row job still reads the
    * pre-ingest planned files — exactly the skew the heal exists to
    * detect, silently skipped. Capture-before-plan errs the benign
    * way: an ingest landing between capture and plan makes the heal
    * fire on an already-included batch (empty anti-join, no append). */
  private def installRebuild(tree: graft.plans.ManifestedTree,
                             layout: Option[Layout] = None,
                             storeSnapGen: Long = -1L)
                            (write: (String, Long) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val treeRoot = tree.root.stripSuffix("/")
    val rootP = new Path(treeRoot)
    // dot-prefixed (consistent with .chunks_cow): invisible to any
    // listing-based reader, and vacuumIndexes sweeps crash leftovers
    val tmp = new Path(rootP.getParent, s".${rootP.getName}.rebuild_tmp").toString
    val fs = hadoopFs(treeRoot)
    fs.delete(new Path(tmp), true)
    // FRESH head, not the memoized listing: the predicted generation
    // names the sidecar files, and a stale cache over another
    // instance's commit would number them onto an EXISTING generation
    // (overwriting its live geometry at install). The commit itself
    // self-heals staleness (assertHeadFresh + retry); the prediction
    // must start fresh.
    tree.invalidate()
    val gen = math.max(tree.freshHeadGen(), 0L) + 1
    write(tmp, gen)
    val fresh = graft.plans.ManifestedTree.listTree(spark, tmp, None)
    // rebuilding an empty tree from no rows leaves it empty: a commit
    // of nothing would carry no schema record to open it by
    if (fresh.isEmpty && !committed(tree)) { fs.delete(new Path(tmp), true); return }
    fresh.foreach { case (rel, _) =>
      val dst = new Path(s"$treeRoot/$rel")
      fs.mkdirs(dst.getParent)
      if (!fs.rename(new Path(s"$tmp/$rel"), dst))
        throw new java.io.IOException(s"rebuild: cannot install $treeRoot/$rel")
    }
    // Geometry sidecars were STAGED by the callback under `$tmp/_geom`
    // (invisible to listTree — underscore) and install here, AFTER the
    // row job and immediately BEFORE the manifest commit: a crash
    // anywhere in the long row job leaves the sidecars inside the tmp
    // tree (cleared by the next rebuild, swept by vacuum), so the
    // window in which an orphan `<base>.g<head+1>` exists without its
    // commit is a few driver-side renames — and even that residue is
    // swept by every append/compact/delete/vacuum path before a later
    // commit could land on (and silently adopt) the orphan's
    // generation ([[sweepOrphanGeom]]).
    // Test seam BEFORE the sidecar install: a reentrant ingest fired
    // here sweeps no staged sidecar (none exists yet) — the same
    // ordering an interleaved writer's append-before-our-install has.
    onRebuildBeforeCommit()
    val geomStage = new Path(s"$tmp/${VectorLibrary.GeomStageDir}")
    if (fs.exists(geomStage)) fs.listStatus(geomStage).foreach { st =>
      val dst = new Path(rootP.getParent, st.getPath.getName)
      fs.delete(dst, true)
      if (!fs.rename(st.getPath, dst))
        throw new java.io.IOException(s"rebuild: cannot install sidecar $dst")
    }
    fs.delete(new Path(tmp), true)
    // commitReplaceAll RETURNS the generation it installed — the only
    // race-free answer. Re-listing the tree here instead would adopt a
    // foreign commit landing in the replace→list window (lease-expiry
    // edge), and the staged sidecar would be renamed to the FOREIGN
    // generation: the rebuild's rows would silently decode under an
    // older geometry.
    val committedGen = tree.commitReplaceAll(fresh)
    // new sidecar generation + new tree head: resolution answers change
    invalidateIndexes()
    // If an interleaved commit advanced THIS tree between the gen
    // prediction and the replace (commitFull retried onto a fresh
    // number), the staged sidecars are numbered at the interleaver's
    // generation: re-number them to the generation the rebuild rows
    // actually committed at, so (a) the head decodes its fresh rows
    // under the fresh geometry and (b) the interleaved generation
    // keeps resolving the geometry ITS rows were encoded under.
    if (committedGen != gen) {
      layout.toSeq.flatMap(_.geomBases).foreach { base =>
          val src = new Path(base + geomSuffix(gen))
          val gfs = hadoopFs(base)
          if (!gfs.exists(src) || !gfs.rename(src, new Path(base + geomSuffix(committedGen))))
            throw new IllegalStateException(s"rebuild of $treeRoot " +
              s"committed at generation $committedGen (predicted $gen) and " +
              s"its staged geometry at $src is gone — an interleaved " +
              "writer swept it; re-run this index build")
      }
      // a concurrent reader may have repopulated geomGensCache from
      // the pre-rename listing in the rename window — drop again so
      // the renamed sidecar resolves without waiting for this
      // instance's next mutation (mirrors sweepOrphanGeom)
      invalidateIndexes()
    }
    layout.foreach(l => healRebuildSkew(tree, storeSnapGen, appendLayouts(_, Seq(l))))
  }

  /** Commit-time skew detection (r11 verdict #3): if the store head
    * advanced past the snapshot a just-committed index build read,
    * fold the missed rows in — under the build's FROZEN geometry, via
    * the same per-tree append [[repairIndexes]] uses — before the
    * build's lease releases. The committed index then tracks the
    * store at the next epoch with no manual repair. Rows DELETED
    * mid-build (a ghost skew) cannot be healed by an append; they are
    * detected and reported loudly with the existing repairIndexes
    * remedy (a delete interleave requires the all-tree footprint, so
    * it can only reach here through lease-expiry edge cases). */
  private def healRebuildSkew(tree: graft.plans.ManifestedTree,
                              storeSnapGen: Long,
                              append: DataFrame => Unit): Unit = {
    if (storeTree.freshHeadGen() <= storeSnapGen) return
    // see the interleaved batch: this instance's store caches predate
    // it (the append's head geometry already resolves at the
    // JUST-COMMITTED generation — installRebuild dropped the memos)
    storeTree.invalidate()
    val ids = tree.open().select(col("chunk_id")).distinct()
    val missing = searchable
      .join(ids, Seq("chunk_id"), "left_anti").persist()
    try {
      if (missing.limit(1).count() > 0) {
        System.err.println(s"[graft] rebuild of ${tree.root}: store " +
          s"advanced past the build snapshot (gen $storeSnapGen) — " +
          "appending the interleaved rows under the frozen geometry")
        append(missing)
      }
      val ghosts = ids.join(searchable.select("chunk_id"),
        Seq("chunk_id"), "left_anti").count()
      if (ghosts > 0)
        System.err.println(s"[graft] rebuild of ${tree.root}: $ghosts " +
          "index rows have no store row (rows were deleted mid-build) — " +
          "run repairIndexes() to rebuild this index against the store")
    } finally missing.unpersist()
  }

  /** Delete geometry sidecars numbered ABOVE the tree's head — a
    * failed rebuild's prediction whose commit never happened (the
    * staging above makes this a crash-between-renames residue only).
    * MUST run, under the tree's held lease, before any NON-REBUILD
    * commit that advances this tree's generation (append, compact
    * swap, COW delete): that commit would otherwise land ON the
    * orphan's generation and every reader would adopt the failed
    * build's geometry for rows it never encoded. A tree with no
    * committed generations sweeps every suffixed sidecar (nothing can
    * resolve them, and the next commit is generation 1). */
  private def sweepOrphanGeom(l: Layout): Unit = if (l.geomBases.nonEmpty) {
    // this runs only at the head of a mutation (under the tree's
    // lease): re-list EVERYTHING from disk — including the tree's own
    // generation listing (r12 memo), which may predate another
    // instance's rebuild; a stale head here would sweep that
    // rebuild's LIVE sidecar as an "orphan"
    invalidateIndexes()
    // a never-committed tree reads as -1: every suffixed sidecar is
    // an orphan
    val head = headGenOf(l.tree)
    l.geomBases.foreach { base =>
      geomGens(base).filter(g => head < 0 || g > head).foreach { g =>
        hadoopFs(base).delete(
          new org.apache.hadoop.fs.Path(base + geomSuffix(g)), true)
      }
    }
    geomGensCache.clear()
  }

  // --- generation-numbered geometry sidecars ---------------------------
  // IVF/PQ/IVF-PQ centroids+codebooks+stats and grid bounds are tiny
  // driver-side tables, but they are GEOMETRY: encoded rows only decode
  // correctly under the geometry they were written with. Each rebuild
  // writes its sidecars at `<base>.g<gen>` where `gen` is the row
  // tree's committed manifest generation; a reader of tree generation g
  // resolves the NEWEST sidecar generation <= g. Head reads resolve
  // at the head generation; consistentAt/searchAt resolve at the
  // epoch's recorded generation — so a pinned reader straddling a
  // rebuild decodes old codes under old geometry. Sidecar reads COLLECT at call time
  // (never lazily planned), so vacuum's structural rule — keep exactly
  // the resolvers of retained generations — needs no time window.

  private def geomSuffix(gen: Long): String = f".g$gen%09d"

  /** Sidecar generations recorded beside `base`, ascending. Memoized
    * per base ([[invalidateIndexes]]) — one listing per cache life,
    * not one per search. */
  private def geomGens(base: String): Seq[Long] =
    geomGensCache.getOrElseUpdate(base, {
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = hadoopFs(base)
      val prefix = p.getName + ".g"
      resolveListCount += 1
      if (!fs.exists(p.getParent)) Seq.empty
      else fs.listStatus(p.getParent).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(prefix))
        .flatMap(n => n.stripPrefix(prefix).toLongOption).sorted
    })

  /** Load-once geometry: `load` runs at most once per (base, resolved
    * suffix) per cache life. Keyed by the RESOLVED suffix — two tree
    * generations served by the same sidecar share one entry, and an
    * epoch-pinned read shares the head's entry when the head resolves
    * the same geometry. Sidecar content at a resolvable generation is
    * immutable (rebuilds write at NEW generations; orphan sweeps only
    * touch generations above the head), and every delete path drops
    * the cache anyway. */
  private def geomLoad[T <: AnyRef](base: String, gen: Long)(load: String => T): T = {
    val suffix = geomSuffixAt(base, gen)
    geomLoadCache.getOrElseUpdate(base + suffix, load(base + suffix))
      .asInstanceOf[T]
  }

  /** Suffix of the sidecar serving tree generation `gen`: the newest
    * recorded geometry <= gen. A committed layout always has one (its
    * build staged it before the commit), so none is a loud error. */
  private def geomSuffixAt(base: String, gen: Long): String =
    geomGens(base).filter(_ <= gen).lastOption.map(geomSuffix).getOrElse(
      throw new IllegalStateException(s"no geometry sidecar $base.g* serves generation $gen"))

  /** The tree's head generation; -1 when it has none (an empty tree). */
  private def headGenOf(tree: graft.plans.ManifestedTree): Long =
    tree.generations().lastOption.fold(-1L)(_._1)

  /** Drop the partitioned index (search falls back to the column probe). */
  def dropPartitionedIndex(): Unit = dropLayout(lshLayout)

  /**
   * Selective compaction of the partitioned LSH index — the OPTIMIZE
   * half of a lake table's maintenance loop, shared by every
   * manifested layout (see [[graft.plans.ManifestedTree.compact]] for
   * the rewrite-beside + manifest-flip + vacuum mechanics). Only
   * directories fragmented past `maxFilesPerPartition` SMALL files
   * rewrite; a hot bucket legitimately holding several files at the
   * rolling bound is never re-compacted (merging full-size files
   * would undo the bounded-rewrite-unit property deletes rely on).
   * Returns the number of directories compacted.
   */
  def compactPartitionedIndex(maxFilesPerPartition: Int = 4,
                              vacuumAfter: Boolean = true): Int = withTreeLocks(Seq("lsh")) {
    if (!hasPartitionedIndex) 0
    else compactLayout(lshLayout, maxFilesPerPartition, vacuumAfter)
  }

  private def compactLayout(l: Layout, maxFilesPerPartition: Int, vacuumAfter: Boolean): Int =
    l.tree.compact(maxFilesPerPartition, l.maxRecords, Seq("chunk_id"), vacuumAfter = vacuumAfter)

  /**
   * One maintenance pass over the store AND every persisted derived
   * layout: compact each fragmented partition directory, committed
   * through its manifest. The whole-library OPTIMIZE a deployment
   * schedules after streaming ingest (each micro-batch leaves one
   * small file per touched directory in each layout).
   * `vacuumAfter = false` defers fragment removal to a later
   * [[vacuumIndexes]] — the reader grace period: in-flight readers of
   * the previous generation keep collecting from the intact fragments
   * while new readers already plan the compacted files.
   * Returns (tree -> directories compacted).
   */
  def compactIndexes(maxFilesPerPartition: Int = 4,
                     vacuumAfter: Boolean = true): Map[String, Int] = withWriterLock {
    // compaction swaps advance tree generations — sweep crash-orphan
    // geometry first so no swap commit lands on an orphan's number
    layouts.foreach(sweepOrphanGeom)
    // the store compacts to training-shard-sized files (1M chunk rows),
    // not the index trees' delete-granularity bound
    val store =
      if (!committed(storeTree)) None
      else Some("store" -> storeTree.compact(maxFilesPerPartition, 1L << 20,
        Seq("doc_id"), vacuumAfter = vacuumAfter))
    val out = (store ++ layouts.collect { case l if l.present =>
      l.name -> compactLayout(l, maxFilesPerPartition, vacuumAfter) }).toMap
    invalidateIndexes()
    out
  }

  /** Standalone vacuum: remove files no RESOLVABLE read can reach —
    * crash orphans, and fragments a deferred-vacuum compaction left
    * for the reader grace period — across the store and every
    * persisted layout. Two protections, layered exactly as
    * [[graft.plans.ManifestedTree.vacuum]]: files referenced by any
    * RETAINED manifest generation always survive (so a default-arg
    * vacuum can never truncate the [[restoreTo]]/[[restoreToEpoch]]/
    * [[consistentAt]] horizon), and files outside every retained
    * generation are collected only once dead longer than
    * `olderThanMs` (default 7 days, Delta's own). `retainNone = true`
    * is the explicit truncate-history switch and drops BOTH
    * protections: only the current generation survives, collected
    * immediately regardless of the window. Returns
    * (tree -> files removed). */
  def vacuumIndexes(
      olderThanMs: Long = graft.plans.ManifestedTree.DefaultRetentionMs,
      retainNone: Boolean = false): Map[String, Int] = withWriterLock {
    // BEFORE the per-tree vacuums: a retainNone vacuum REBASES each
    // tree (a generation-advancing commit), which could land exactly
    // on a crash-orphan sidecar's number — vacuumGeometry would then
    // keep the failed build's geometry and delete the legitimate one.
    // Same sweep-before-commit rule as every other non-rebuild commit.
    layouts.foreach(sweepOrphanGeom)
    val removed = epochTrees.map { case (n, t) => n -> t.vacuum(olderThanMs, retainNone) }.toMap
    // crash-stranded rebuild tmp siblings: no manifest references them
    // and (dot-prefixed) no listing scans them, so only this sweep —
    // or the same index rebuilding again — ever reclaims one
    sweepRebuildTmp()
    // geometry sidecars: keep exactly the resolvers of the retained
    // row-tree generations (sidecar reads collect at call time, never
    // lazily planned, so the structural rule needs no time window)
    vacuumGeometry()
    // truncated history must be structurally invisible: an epoch whose
    // recorded generations just lost their manifests (retainNone
    // pruned them) would otherwise resolve to a raw read failure later
    if (retainNone) pruneUnresolvableEpochs()
    removed
  }

  /** Delete crash-stranded `.{tree}.rebuild_tmp` siblings of every
    * manifested tree. Runs under the writer lock, so no in-flight
    * rebuild's tmp can be swept. */
  private def sweepRebuildTmp(): Unit = {
    import org.apache.hadoop.fs.Path
    epochTrees.foreach { case (_, t) =>
      val rootP = new Path(t.root.stripSuffix("/"))
      hadoopFs(t.root).delete(new Path(rootP.getParent, s".${rootP.getName}.rebuild_tmp"), true)
    }
  }

  /** Remove geometry sidecar generations no retained row-tree
    * generation resolves to — including crash orphans numbered above
    * the head (a prediction whose commit never happened). Returns the
    * number of sidecar directories removed. */
  private def vacuumGeometry(): Int = {
    var removed = 0
    layouts.foreach { l =>
      val retained = l.tree.generations().map(_._1)
      if (retained.nonEmpty) l.geomBases.foreach { base =>
        val gens = geomGens(base)
        val needed: Set[Long] =
          retained.flatMap(g => gens.filter(_ <= g).maxOption).toSet
        gens.filterNot(needed).foreach { g =>
          if (hadoopFs(base).delete(
              new org.apache.hadoop.fs.Path(base + geomSuffix(g)), true))
            removed += 1
        }
      }
    }
    if (removed > 0) invalidateIndexes()
    removed
  }

  /** Drop epoch records whose per-tree generation tuple no longer
    * resolves (a tree's retained window moved past it, or the tree was
    * dropped entirely) — called after a retainNone vacuum so truncated
    * history reads as "epoch not recorded", not a mid-scan IO error. */
  private def pruneUnresolvableEpochs(): Int = {
    val minGen: Map[String, Long] = epochTrees.map { case (n, t) =>
      n -> t.generations().headOption.map(_._1).getOrElse(Long.MaxValue) }.toMap
    val fs = hadoopFs(epochsDir)
    var removed = 0
    epochs.foreach { e =>
      val resolvable = readEpochFile(e).exists(_.linesIterator.forall { l =>
        l.split('\t') match {
          // toLongOption, not toLong: one malformed line (torn write,
          // future format) must read as UNRESOLVABLE, not abort the
          // whole vacuum mid-truncation with a NumberFormatException
          case Array(n, g) =>
            g.toLongOption.exists(_ >= minGen.getOrElse(n, Long.MaxValue))
          case _ => false
        }
      })
      if (!resolvable) {
        if (fs.delete(new org.apache.hadoop.fs.Path(
            epochsDir, f"epoch.$e%09d"), false))
          removed += 1
      }
    }
    if (removed > 0) epochInfoCache.clear()
    removed
  }

  /**
   * Crash-consistency repair: reconcile every present derived index
   * with the store. Ingest and delete commit each tree's manifest
   * SEPARATELY, so a writer crash between commits leaves an index
   * either MISSING the batch's rows (crash after the store commit —
   * new documents silently absent from that index's searches) or
   * carrying GHOST rows of deleted chunks (crash mid copy-on-write
   * delete — searches return ids the store no longer holds). The
   * store is the source of truth — the reference's recovery contract
   * exactly (indexes re-derive from stored vectors;
   * services/background_tasks.py re-runs the per-library rebuild):
   *
   *  - missing rows (store anti-join index on chunk_id) re-derive
   *    under the index's FROZEN geometry and append incrementally —
   *    repair cost tracks the gap, never the tree;
   *  - ghosts trigger a rebuild of that index (the rare half: only a
   *    crashed delete produces them, and a rebuild from the store is
   *    the unconditionally correct recovery — victim files are
   *    already gone, so file-level COW cannot replay).
   *
   * Returns per index: (missing rows appended, ghost rows found).
   * Clean trees cost two chunk_id anti-joins each and touch nothing.
   */
  def repairIndexes(): Map[String, (Long, Long)] = withWriterLock {
    if (storeIsEmpty) return Map.empty
    // the SEARCHABLE store: pending (null-embedding) chunks are in no
    // index BY DESIGN (deferred-embedding ingest) — counting them as
    // "missing" would append null vectors into every index (null ADC
    // codes, a permanently-missing lsh report) on every repair run
    val store = searchable.persist()
    try {
      val storeIds = store.select(col("chunk_id"))
      val m = readMeta()
      val out = layouts.collect { case l if l.present =>
        val ids = l.tree.open().select(col("chunk_id")).distinct()
        val ghosts = ids.join(storeIds, Seq("chunk_id"), "left_anti").count()
        val missing = store.join(ids, Seq("chunk_id"), "left_anti").persist()
        try {
          val nMissing = missing.count()
          if (ghosts > 0) l.rebuild(m)
          else if (nMissing > 0) appendLayouts(missing, Seq(l))
          l.name -> (nMissing, ghosts)
        } finally missing.unpersist()
      }.toMap
      invalidateIndexes()
      if (out.exists { case (_, (miss, gh)) => miss > 0 || gh > 0 }) touchMeta()
      out
    } finally store.unpersist()
  }

  /** Retained store generations, oldest first: (generation, isFull) —
    * the points [[restoreTo]] can target. */
  def storeGenerations(): Seq[(Long, Boolean)] = storeTree.generations()

  /**
   * Point-in-time RESTORE of the whole library to store generation
   * `gen` (see [[storeGenerations]]): the store rolls back with ONE
   * forward manifest commit and zero data movement
   * ([[graft.plans.ManifestedTree.rollbackTo]] — history is never
   * rewritten), then every derived index reconciles against the
   * restored store through [[repairIndexes]] — rows the restore
   * brought back re-derive under each index's frozen geometry; rows it
   * removed turn up as ghosts and trigger that index's rebuild. One
   * call undoes a bad delete or a bad ingest; without it a user had to
   * roll six trees back by hand. The reference's recovery contract is
   * the same store-is-truth shape: indexes re-derive from stored
   * vectors (services/background_tasks.py re-runs the per-library
   * rebuild on restart).
   *
   * Valid while the target generation is retained: deleted-row bytes
   * stay on disk (manifest-invisible), and by default no maintenance
   * operation can remove them — [[vacuumIndexes]] and [[compactIndexes]]'
   * inline cleanup both protect every file a retained generation
   * references, so the restore horizon is governed by GENERATION
   * retention alone ([[graft.plans.ManifestedTree.KeepFulls]] full
   * snapshots back). Only the explicit
   * `vacuumIndexes(retainNone = true)` truncates it (the Delta
   * RESTORE-vs-VACUUM contract). Returns [[repairIndexes]]' report.
   */
  def restoreTo(gen: Long): Map[String, (Long, Long)] = withWriterLock {
    storeTree.rollbackTo(gen)
    invalidateIndexes()
    touchMeta()
    repairIndexes()
  }

  // --- consistency epochs ----------------------------------------------
  // Ingest commits the store manifest, then each index manifest,
  // SEPARATELY — a head reader between those commits sees an index
  // lagging the store by the in-flight batch (the documented skew
  // contract). Epochs close that window for readers who need cross-tree
  // consistency: after the OUTERMOST mutation frame completes — every
  // tree it touched committed, the writer lease still held — the
  // per-tree generation tuple lands in `_epochs/epoch.<n>` (write+
  // rename, atomic). An epoch therefore NEVER references a half-
  // committed state: a crash mid-mutation simply leaves the previous
  // epoch as the latest. This is the library-level analog of a lake
  // format's single commit log laid over the per-tree manifests.

  private def epochsDir = s"$root/$name/_epochs"

  /** Every persisted tree, by epoch name. A `def`: the tree vals are
    * declared across the class body and this must not capture them at
    * construction order. */
  private def epochTrees: Seq[(String, graft.plans.ManifestedTree)] =
    ("store" -> storeTree) +: layouts.map(l => l.name -> l.tree)

  /** Record the current per-tree generation tuple as a new epoch.
    * Skips when nothing is manifested yet (pre-first-commit, or the
    * library was just delete()d) and when the tuple equals the latest
    * epoch (read-only mutators like a no-op vacuum). */
  private def recordEpoch(): Unit = {
    // freshHeadGen, NOT generations(): the latter memoizes per tree
    // (r12 serving memo) and this instance's cache for a tree ANOTHER
    // instance maintains can be arbitrarily stale — a grid-building
    // writer would then record epochs missing the pq tree entirely
    // (caught by MultiWriterLadder), and the optimistic re-validation
    // loop below would be reading its own cache back. The epoch
    // assembly must always see the filesystem.
    def assemble(): Seq[String] = epochTrees.flatMap { case (n, t) =>
      val g = t.freshHeadGen()
      if (g >= 0) Some(s"$n\t$g") else None }
    val first = assemble()
    // Optimistic validation (the PLANS.md multi-writer commit step):
    // recorded WITHOUT the full lease set (a footprint-scoped frame),
    // another instance's disjoint single-tree commit can land between
    // these listings — re-read until the tuple is stable (bounded;
    // sustained churn past the bound records the final assembly, which
    // is still committed-state-per-tree: concurrent mutations are
    // footprint-disjoint by the lease rules, so no cross-tree
    // invariant links the trees they touch). Under the full lease set
    // (writerLock held) no other writer can commit — one assembly, the
    // unchanged hot path.
    val gens =
      if (writerLock.held) first
      else {
        var cur = first
        var round = 0
        var stable = false
        while (!stable && round < 5) {
          val again = assemble()
          stable = again == cur
          cur = again
          round += 1
        }
        cur
      }
    if (gens.isEmpty) {
      // deleted (or never-committed) library: a stale cache here would
      // suppress the FIRST epoch of a rebuilt library whose generation
      // numbering restarts and reproduces the cached tuple
      lastEpochCache = None
      return
    }
    val body = gens.mkString("\n")
    // the cache is authoritative while this writer holds the lease: it
    // recorded (or verified) the newest epoch, so the hot path — every
    // streaming micro-batch exits through here — skips both the no-op
    // write (identical tuple) and the directory listing (cached latest
    // number); the listing only runs cache-cold and for the periodic
    // prune below
    if (lastEpochCache.exists(_._2 == body)) return
    val fs = hadoopFs(epochsDir)
    val dir = new org.apache.hadoop.fs.Path(epochsDir)
    val latest: Option[Long] = lastEpochCache.map(_._1)
      .orElse {
        val disk = epochs.lastOption
        if (disk.exists(e => readEpochFile(e).contains(body))) {
          lastEpochCache = disk.map(e => (e, body))
          return
        }
        disk
      }
    fs.mkdirs(dir)
    // The cache is a HINT, not the authority: two writer instances
    // correctly ALTERNATING under the file lease each keep their own
    // lastEpochCache, so instance A (cache at N) can compute N+1 after
    // instance B already installed epoch N+1 — and a local-fs rename
    // onto an existing target silently OVERWRITES it (mutating an
    // epoch a reader may be pinned to), while HDFS fails the rename
    // and would fail a mutation that already committed. Install with
    // rename-if-absent semantics: probe the target, and on collision
    // (or rename failure) re-list the on-disk epochs once and retry
    // with the true successor.
    def tryInstall(n: Long): Boolean = {
      val target = new org.apache.hadoop.fs.Path(dir, f"epoch.$n%09d")
      if (fs.exists(target)) return false
      val tmp = new org.apache.hadoop.fs.Path(dir, s".epoch.$n.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      if (fs.rename(tmp, target)) true
      else { fs.delete(tmp, false); false }
    }
    // Bounded re-list-and-retry: pre-r11 a single retry sufficed (the
    // global lease meant at most one displaced writer), but concurrent
    // DISJOINT footprint writers are now legal and several can race
    // this directory at once — a fully COMMITTED mutation must not
    // read as failed because its epoch number was taken twice in a
    // row. Each round re-lists, adopts an identical tuple if another
    // instance already recorded this exact state, else tries the true
    // successor.
    var next = latest.getOrElse(0L) + 1
    var installed = tryInstall(next)
    var round = 0
    while (!installed && round < 8) {
      val disk = epochs.lastOption
      if (disk.exists(e => readEpochFile(e).contains(body))) {
        lastEpochCache = disk.map(e => (e, body))
        return
      }
      next = math.max(next + 1, disk.getOrElse(0L) + 1)
      installed = tryInstall(next)
      round += 1
    }
    if (!installed)
      throw new java.io.IOException(
        s"epoch $next install failed at $epochsDir after $round " +
        "re-lists — concurrent writers are racing this directory " +
        "faster than this holder can re-list")
    lastEpochCache = Some((next, body))
    // bounded history (epochs older than the manifest retention window
    // are unresolvable anyway); the prune's listing amortizes over 8
    // writes so the steady-state bound is EpochKeep+8
    if (next % 8 == 0) epochs.dropRight(EpochKeep).foreach { e =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, f"epoch.$e%09d"), false) }
  }
  private val EpochKeep = 32
  // (epoch number, body) of the last epoch THIS writer recorded or
  // verified — guarded by frameLock (recordEpoch only runs inside an
  // enterFrame synchronized block)
  private var lastEpochCache: Option[(Long, String)] = None

  private def readEpochFile(e: Long): Option[String] =
    try {
      val in = hadoopFs(epochsDir).open(
        new org.apache.hadoop.fs.Path(epochsDir, f"epoch.$e%09d"))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: Throwable => None }

  /** Recorded epochs, oldest first. */
  def epochs: Seq[Long] = {
    val fs = hadoopFs(epochsDir)
    val dir = new org.apache.hadoop.fs.Path(epochsDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch."))
      .flatMap(n => n.stripPrefix("epoch.").toLongOption).sorted
  }

  /** The per-tree generation tuple of epoch `e`. A malformed line
    * (torn write, future format) fails with a CLEAN error naming the
    * epoch — not a raw MatchError/NumberFormatException deep inside a
    * pinned read (consistentAt/searchAt/restoreToEpoch all route
    * through here). */
  def epochInfo(e: Long): Map[String, Long] =
    epochInfoCache.getOrElseUpdate(e, epochInfoUncached(e))

  // epoch files are write-once, so a recorded tuple is immutable; the
  // cache only needs dropping when pruneUnresolvableEpochs deletes
  // records (and, conservatively, with the other resolve caches).
  // TrieMap: read concurrently with a mutating writer's clear.
  private val epochInfoCache =
    scala.collection.concurrent.TrieMap.empty[Long, Map[String, Long]]

  private def epochInfoUncached(e: Long): Map[String, Long] =
    readEpochFile(e) match {
      case Some(body) => body.linesIterator.map { l =>
        l.split('\t') match {
          case Array(n, g) if g.toLongOption.isDefined => n -> g.toLong
          case _ => throw new IllegalStateException(
            s"epoch $e at $epochsDir is malformed (line '${l.take(60)}') — " +
            "likely a torn write; pick another epoch or vacuum(retainNone)")
        }
      }.toMap
      case None => throw new IllegalArgumentException(
        s"epoch $e not recorded at $epochsDir (available: ${epochs.mkString(",")})")
    }

  /** Every tree of epoch `e` opened AT its recorded generation — a
    * cross-tree-CONSISTENT view: the store and each index are exactly
    * the committed state of one completed mutation, never the
    * in-between of two commits. Valid while the epoch's generations
    * are retained and their files not vacuumed (same horizon as
    * [[restoreTo]]). Geometry sidecars (IVF/PQ centroids, codebooks,
    * grid bounds) are generation-numbered beside each row tree
    * ([[installRebuild]]), so a pinned reader of an encoded tree
    * decodes under the geometry its codes were written with even
    * across a rebuild — [[searchAt]] is the search entry point that
    * resolves both together. Note the returned FRAMES are code rows;
    * decoding them by hand against the head geometry would reopen the
    * hole searchAt closes. */
  def consistentAt(e: Long): Map[String, DataFrame] = {
    val byName = epochTrees.toMap
    epochInfo(e).map { case (n, g) => n -> byName(n).openAt(g) }
  }

  /** The chunks store as of epoch `e`. */
  def chunksAt(e: Long): DataFrame = consistentAt(e)("store")

  /** [[restoreTo]] with an epoch as the restore point: the store rolls
    * back to the epoch's recorded store generation and every index
    * reconciles — "put the library back to the state after mutation N"
    * without the caller translating epochs to tree generations. */
  def restoreToEpoch(e: Long): Map[String, (Long, Long)] =
    restoreTo(epochInfo(e)("store"))

  /** Approximate search pinned to epoch `e` — [[searchAt]] with the
    * lsh algorithm: probes the LSH index AT the epoch's generation
    * (falling back to a bucket probe over the epoch's store when the
    * index predates the epoch), so the result can never straddle the
    * store/index commit window. */
  def searchApproxAt(e: Long, queryText: String, k: Int = 10,
                     metric: String = "cosine"): DataFrame =
    searchAt(e, queryText, k, metric, algorithm = Some("lsh"))

  /**
   * Epoch-pinned search routed through any index algorithm — the
   * fully consistent twin of [[search]], through the same [[route]]:
   * every tree opens AT the epoch's recorded generation, and the
   * encoded algorithms (grid/ivf/pq/ivfpq) decode under the GEOMETRY
   * GENERATION serving that tree generation ([[geomSuffixAt]]) — so
   * the result for epoch `e` is stable across later ingests, deletes,
   * AND index rebuilds (the r10 caveat this closes: pinned code frames
   * used to decode against the current centroids/codebooks/bounds).
   * An algorithm whose index tree predates the epoch routes as if the
   * layout was never built. Valid on the same retention horizon as
   * [[consistentAt]]. On a static library it equals [[search]].
   */
  def searchAt(e: Long, queryText: String, k: Int = 10,
               metric: String = "cosine",
               algorithm: Option[String] = None,
               filter: Option[Column] = None): DataFrame =
    route(at(e), algorithm.getOrElse(algo), filter,
      new Ask(Left(queryVector(queryText)), clampK(k), metric))

  /** Batch twin of [[searchAt]] — the epoch-pinned completion of the
    * "every search algorithm has a batch twin" matrix: N query texts
    * share ONE pass over the SAME pinned resolution (every tree opens
    * AT the epoch's recorded generation; encoded algorithms decode
    * under that generation's geometry sidecars), so the batch costs
    * one union-pruned scan instead of N per-query probes — and the
    * per-query results are identical to [[searchAt]], including
    * across later ingests, deletes, and index rebuilds. Rows
    * (query_id, chunk_id, score, rank), query_id = position in the
    * input list. Same filter scoping contract as [[searchAt]]. */
  def searchAtBatch(e: Long, queryTexts: Seq[String], k: Int = 10,
                    metric: String = "cosine",
                    algorithm: Option[String] = None,
                    filter: Option[Column] = None): DataFrame =
    route(at(e), algorithm.getOrElse(algo), filter,
      new Ask(Right(queriesFrame(queryTexts)), clampK(k), metric))

  /**
   * Copy-on-write removal of the victim chunks from the store AND
   * every derived index, at FILE granularity (the Delta/Iceberg
   * shape): only the parquet files actually CONTAINING a victim row
   * rewrite; every other file — including the rest of the files in an
   * affected partition directory — never moves at all. Store files
   * are clustered by (source, doc_id) at write, so a targeted
   * delete's victim file set stays a handful of files no matter how
   * large the library grows; a mass delete degrades gracefully toward
   * a full rewrite as the victim file set approaches every file.
   *
   * Every survivor rewrite lands in a tmp tree BEFORE any live
   * directory is touched (the reads all see intact live data; a crash
   * in phase 1 changes nothing); phase 2 is purely ADDITIVE on a
   * manifested tree — fresh files rename in beside the untouched
   * originals and the manifest commitSwap flips visibility, so a
   * concurrent reader mid-plan on the previous generation (or pinned
   * to an epoch) never sees a path vanish (see [[cowTree]]).
   *
   * Phase 1 fans out twice through [[fanOut]], one thread per tree:
   * the six victim-file resolutions (store + five layouts), then the
   * survivor rewrites. Each fan-out waits for every
   * task before it rethrows the first failure, so no rewrite is still
   * writing into a `.<tree>_cow` tmp tree when this returns or throws.
   * Every read plans from manifest entries and the tree's schema
   * record: no schema-inference or listing job. Phase 2's swaps and
   * commits run on the calling thread, store first. Returns the number
   * of chunks removed.
   */
  private def deleteVictims(victims0: DataFrame): Long = {
    val victims = victims0
      .select(col("chunk_id"), col("source"), col("lsh_buckets"), col("embedding"))
      .persist()
    try {
      val nVictims = victims.count()
      if (nVictims == 0L) return 0L
      // COW swap commits advance the geometry trees' generations —
      // sweep crash-orphan sidecars so no commit lands on one
      layouts.foreach(sweepOrphanGeom)
      // Targeted deletes have a tiny id set: ship it as a broadcast
      // LOCAL relation so the file-resolution and rewrite joins stay
      // map-side (joining against the persisted distributed frame
      // measured ~2x the whole delete — each join planned a shuffle of
      // the large side). Mass deletes keep the distributed frame and
      // degrade to ordinary shuffle joins, which at that size is the
      // right plan anyway.
      val victimIds =
        if (nVictims <= 100000) {
          import spark.implicits._
          broadcast(victims.select(col("chunk_id"))
            .collect().map(_.getString(0)).toSeq.toDF("chunk_id"))
        } else victims.select(col("chunk_id"))

      /** Distinct parquet files of a stored frame holding victim rows
        * (an id + file-metadata column scan — row-group pruned). */
      def victimFilesOf(df: DataFrame): Seq[String] =
        df.select(col("chunk_id"), col("_metadata.file_path").as("f"))
          .join(victimIds, Seq("chunk_id"), "left_semi")
          .select(col("f")).distinct().collect().map(_.getString(0)).toSeq

      /** (manifest-LIVE entries, directories that actually hold any)
        * of a tree under the given absolute partition directories — the
        * resolution scan's input and its audit record. NEVER
        * the directory listing: live dirs also hold manifest-DEAD
        * bytes at their original paths (COW victims retained for the
        * restore/epoch horizon, fragments a compaction displaced,
        * rebuild-replaced generations, crash orphans), and a listing
        * scan would find victim ids in those dead files too — the
        * rewrite would then resurrect previously deleted rows and
        * duplicate survivors into the fresh commit. The manifest answers
        * both questions — no per-directory fs.exists round-trips
        * (hundreds of HEADs on an object store for a delete fanning out
        * over LSH buckets). */
      def liveUnder(tree: graft.plans.ManifestedTree,
                    dirs: Seq[String]): (Seq[(String, Long)], Seq[String]) = {
        val treeRoot = tree.root.stripSuffix("/")
        val prefixed = dirs.map(d =>
          (d, d.stripSuffix("/").stripPrefix(treeRoot + "/") + "/"))
        // one pass over the entries yields both the matched files and
        // which candidate dirs hold any
        val matched = scala.collection.mutable.LinkedHashSet.empty[String]
        val files = tree.readManifest().getOrElse(Nil).filter { case (rel, _) =>
          prefixed.find(t => rel.startsWith(t._2)).exists { case (d, _) =>
            matched += d
            true
          }
        }
        (files, dirs.filter(matched))
      }

      /** The files holding victim rows under the given partition
        * directories of a tree — the id scan prunes to those
        * directories and the result is the exact file set holding
        * victim rows. The two-level resolution matters because
        * directories are NOT small: LSH buckets and grid cells are
        * skewed by construction (near-duplicate corpora pile identical
        * signatures into few buckets), so "rewrite the victim dirs"
        * can degenerate to rewriting a fifth of the index, while the
        * victim FILES stay bounded by indexMaxRecordsPerFile each.
        *
        * `derived` marks directories re-derived from each victim's
        * vector (the IVF / IVF-PQ cells: the same exact-fold argmin
        * appends place rows by). Then one combined job returns the
        * victim files AND how many victims they cover; a shortfall
        * (possible for plain IVF, whose BUILD-time placement is
        * MLlib's norm-optimized distance and can flip an FP near-tie
        * against the exact argmin) falls back loudly to the full-tree
        * scan, so pruning is an optimization, never a correctness
        * trade.
        *
        * Every scan reads its files through their manifest entries and
        * the tree's schema record ([[graft.plans.ManifestedTree.openEntries]]):
        * no schema-inference job, no parallel-listing job. Returns the
        * victim files' manifest entries. */
      val audit = new scala.collection.concurrent.TrieMap[String, Seq[String]]()
      def victimFilesUnder(label: String, tree: graft.plans.ManifestedTree,
                           dirs: Seq[String], derived: Boolean): Seq[(String, Long)] = {
        val treeRoot = tree.root.stripSuffix("/")
        val (live, present) = liveUnder(tree, dirs)
        /** The entries among `from` of the scanned `files`. */
        def entriesOf(files: Seq[String], from: Seq[(String, Long)]): Seq[(String, Long)] = {
          val hit = files.map(tree.relPathOf).toSet
          val found = from.filter(e => hit(e._1))
          require(found.size == hit.size, s"delete: victim files of $label " +
            s"outside its live set: ${(hit -- found.map(_._1)).mkString(", ")}")
          found
        }
        if (!derived) {
          audit.put(label, present)
          return if (live.isEmpty) Seq.empty
            else entriesOf(victimFilesOf(tree.openEntries(live)), live)
        }
        val (files, covered) =
          if (live.isEmpty) (Seq.empty[String], 0L)
          else {
            val row = tree.openEntries(live)
              .select(col("chunk_id"), col("_metadata.file_path").as("f"))
              .join(victimIds, Seq("chunk_id"), "left_semi")
              .agg(collect_set(col("f")).as("files"),
                countDistinct(col("chunk_id")).as("n"))
              .head
            (row.getSeq[String](0).toSeq, row.getLong(1))
          }
        if (covered == nVictims) { audit.put(label, present); entriesOf(files, live) }
        else {
          System.err.println(s"[cow] $label: pruned resolution covered " +
            s"$covered/$nVictims victims — falling back to full-tree scan")
          audit.put(label, Seq(treeRoot))
          // full-tree fallback stays manifest-planned for the same
          // dead-byte reason as the pruned path
          entriesOf(victimFilesOf(tree.open()), tree.readManifest().getOrElse(Nil))
        }
      }

      // Resolve every victim file up front, while live data is intact.
      // Every resolution is a pruned id + file-metadata scan: the
      // store prunes to the victims' source= partitions, each layout
      // to the directories its [[Layout.victimDirs]] derives from the
      // victims (the LSH scan to the (tbl, bucket) dirs of their
      // stored signatures, the grid scan to their cells under the
      // stored frozen bounds, the IVF / IVF-PQ scans to their
      // re-derived cluster directories — coverage-checked, full-tree
      // fallback). Pending (null-embedding) victims are in NO index.
      // The resolutions are independent read-only jobs over the
      // persisted victim frame — they run concurrently (as do the
      // rewrites below, both through [[fanOut]]): a targeted delete's
      // latency is a handful of SMALL jobs, so the serial job-launch
      // overhead would dominate the actual I/O.
      val storeFiles +: layoutFiles = fanOut(
        (() => victimFilesUnder("store", storeTree, victims.select(col("source")).distinct()
          .collect().map(r => s"$path/source=${escape(r.getString(0))}").toSeq,
          derived = false)) +:
        layouts.map(l => () =>
          if (l.present) victimFilesUnder(l.name, l.tree, l.victimDirs(victims), l.derivedDirs)
          else Seq.empty[(String, Long)]))
      val victimFiles = layouts.zip(layoutFiles).filter(_._2.nonEmpty)
      def cowTmp(l: String) = s"$root/$name/.${l}_cow"

      // Phase 1: rewrite ONLY the victim files' survivors into
      // partition-mirrored tmp trees. basePath keeps the partition
      // columns riding along, so the tmp tree reproduces exactly the
      // directories the survivors came from.
      // No repartition before the write: each victim file is pure to
      // ONE partition directory, so map tasks already hold
      // partition-aligned rows and the dynamic-partition writer emits
      // them directly — a shuffle here measured 9x the whole rewrite.
      def rewrite(tree: graft.plans.ManifestedTree, files: Seq[(String, Long)], tmp: String,
                  partCols: Seq[String], sorted: Boolean = false): Unit = {
        hadoopFs(tmp).delete(new org.apache.hadoop.fs.Path(tmp), true)
        val live = tree.openEntries(files)
        // the USING join moves chunk_id first: keep the tree's own
        // column order, so every file of a tree has one layout
        val survivors = live.join(victimIds, Seq("chunk_id"), "left_anti")
          .select(live.columns.map(col).toSeq: _*)
        // Preserve each tree's clustering invariant on the survivors
        // (store: (source, doc_id); indexes: partition cols +
        // chunk_id) and the bounded file sizes — later deletes rely
        // on both to keep their victim file sets small.
        val clustered =
          if (sorted) survivors.sortWithinPartitions(col("source"), col("doc_id"))
          else survivors.sortWithinPartitions(
            (partCols :+ "chunk_id").map(col): _*)
        clustered.write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", indexMaxRecordsPerFile)
          .partitionBy(partCols: _*).parquet(tmp)
      }
      // The scans are forced to small splits: the cost of these jobs
      // is parquet reader/writer setup (~100ms per tiny file, measured
      // per step) over few bounded files, and the default
      // bin-packing would lump them into one or two tasks, serializing
      // those setups.
      // SESSION-GLOBAL conf save/restore: safe only because mutations
      // are single-writer (withWriterLock serializes them per library,
      // and Verify's concurrent query pool runs read-only queries —
      // noted there). A concurrent READER in this session during the
      // rewrite window would momentarily plan 4 MiB splits: benign for
      // correctness, mild over-parallelism at worst.
      val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      try {
        fanOut((() => rewrite(storeTree, storeFiles, cowTmp("chunks"), Seq("source"),
            sorted = true)) +:
          victimFiles.map { case (l, files) => () =>
            rewrite(l.tree, files, cowTmp(s"${l.name}_index"), l.partCols)
          })
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)

      // Phase 2: per-directory file swaps (store first — it is the
      // source of truth the indexes re-derive from on any recovery).
      // Each swap commits through its tree's manifest: the rewrite's
      // replacement files are captured from the tmp tree BEFORE
      // cowTree consumes it, so the commit references exactly those
      // plus the untouched survivors — neither a crashed writer's
      // orphans nor the victims can be adopted.
      def swapCommitted(tree: graft.plans.ManifestedTree, tmp: String,
                        victimFiles: Seq[(String, Long)]): Unit = {
        val treeRoot = tree.root.stripSuffix("/")
        val victimPaths = victimFiles.map(e => s"$treeRoot/${e._1}")
        val freshRel = graft.plans.ManifestedTree.listTree(spark, tmp, None)
        cowTree(tree.root, tmp, victimPaths)
        tree.commitSwap(victimPaths, freshRel)
      }
      swapCommitted(storeTree, cowTmp("chunks"), storeFiles)
      victimFiles.foreach { case (l, files) =>
        swapCommitted(l.tree, cowTmp(s"${l.name}_index"), files)
      }
      lastDeleteAudit = audit.toMap
      nVictims
    } finally {
      victims.unpersist()
      invalidateIndexes()
      touchMeta()
    }
  }

  /** File-level install of a delete's rewrite output.
    *
    * NOTHING in the live directory moves: the rewritten survivors
    * rename in from the mirrored tmp tree under their fresh UUID
    * part-names (no clashes), while victims AND untouched survivors
    * stay at their original paths — the commitSwap that follows drops
    * the victims from the manifest, so they are invisible to every new
    * reader, but their bytes remain until
    * [[graft.plans.ManifestedTree.vacuum]]. This is
    * the Delta/Iceberg DELETE shape, and it is what makes CONCURRENT
    * readers safe with zero coordination: a head reader that already
    * planned the pre-delete generation, or an epoch-pinned reader, is
    * mid-flight on exactly those original paths — the first cut of
    * this install moved the whole directory aside and renamed files
    * back one by one, and EpochLadder's pinned reader caught the
    * transient FILE_NOT_EXIST window that opens. A crash before the
    * commit leaves only invisible fresh-file orphans (vacuum food),
    * never a half-moved directory. */
  private def cowTree(treeRoot: String, tmpRoot: String, victimFiles: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = hadoopFs(treeRoot)
    val rootStr = {
      val s = fs.makeQualified(new Path(treeRoot)).toUri.getPath
      if (s.endsWith("/")) s else s + "/"
    }
    def visible(n: String) = !n.startsWith(".") && !n.startsWith("_")
    victimFiles.map(new Path(_).getParent).distinct.foreach { liveDir =>
      val dirStr = fs.makeQualified(liveDir).toUri.getPath
      require(dirStr.startsWith(rootStr),
        s"victim file directory $dirStr outside $rootStr")
      val fresh = new Path(s"$tmpRoot/${dirStr.stripPrefix(rootStr)}")
      // additive install only — no live path ever vanishes, so
      // concurrent readers never race a rename
      if (fs.exists(fresh))
        fs.listStatus(fresh).foreach { st =>
          val n = st.getPath.getName
          if (visible(n) && !fs.rename(st.getPath, new Path(liveDir, n)))
            throw new java.io.IOException(s"cow: cannot install $liveDir/$n")
        }
    }
    fs.delete(new Path(tmpRoot), true)
  }

  // --- persisted grid index -------------------------------------------
  // The on-disk analog of the reference keeping its FITTED grid inside
  // the index object (algorithms.py:443-686: per-dim min/max + cell
  // assignment live with the index, not re-derived per query): bounds
  // as a tiny parquet, rows under a cell partition column. A probe
  // resolves its cells driver-side from the stored bounds and reads
  // only those directories; no per-query corpus aggregate. Appends
  // assign against the FROZEN bounds (clamped, exactly like any
  // out-of-range vector), so ingest never refits.
  private val gridPath = s"$root/$name/grid_index"

  private object gridLayout extends Layout("grid", gridPath, s"$gridPath/cells",
      Seq("cell"), StringType, indexMaxRecordsPerFile) {
    /** (lo, hi, gridDims, cellsPerDim) of the fitted grid. */
    type Geom = (Array[Double], Array[Double], Int, Int)
    override def params = Seq("grid_dims" -> 4, "grid_cells_per_dim" -> 4)
    // one bounds aggregate over the store, one cell-clustered write
    def fit(store: DataFrame, p: Seq[Int]): (Geom, DataFrame) = {
      val Seq(gridDims, cellsPerDim) = p
      val (lo, hi) = VectorSearch.gridBounds(store, "embedding", gridDims)
      require(lo.nonEmpty, "no rows to fit grid bounds to")
      ((lo, hi, gridDims, cellsPerDim), gridRows(store, lo, hi, cellsPerDim))
    }
    // cells_per_dim rides IN the bounds sidecar, so an epoch-pinned
    // read decodes under its own geometry without consulting the
    // unversioned meta file
    override def sidecars = Seq("bounds" -> { (g: Geom, _: DataFrame) =>
      import spark.implicits._
      val (lo, hi, _, cpd) = g
      lo.indices.map(d => (d, lo(d), hi(d), cpd)).toDF("d", "lo", "hi", "cells_per_dim")
    })
    def geomAt(gen: Long): Geom = geomLoad(s"$gridPath/bounds", gen)(gridBoundsAt)
    protected def rows(batch: DataFrame): DataFrame = {
      val (lo, hi, _, cpd) = headGeom
      gridRows(batch, lo, hi, cpd)
    }
    def victimDirs(victims: DataFrame): Seq[String] = {
      val (lo, hi, _, cpd) = headGeom
      victims.select(VectorSearch.cellKeyCol(col("embedding"), lo, hi, cpd).as("cell"))
        .distinct().collect().filter(!_.isNullAt(0))
        .map(r => s"$gridPath/cells/cell=${escape(r.getString(0))}").toSeq
    }
    /** Per-cell occupancy of generation `gen`, counted once. */
    def counts(frame: DataFrame, gen: Long): Seq[(String, Long)] =
      memoAt(this.name, gen)(VectorSearch.gridCellCounts(frame))
    /** Per-cell occupancy of the rows of generation `gen` that `cells`
      * (the layout frame under a filter) keeps, counted once per
      * filter. The key is the filter's canonical resolved form, so two
      * spellings of one predicate share an entry and two literals do
      * not. Newest generation only, as [[memoAt]]; a nondeterministic
      * filter, or a new one past [[VectorLibrary.FilteredOccupancyCap]]
      * filters, counts per call. */
    def filteredCounts(cells: DataFrame, gen: Long): Seq[(String, Long)] = {
      import org.apache.spark.sql.catalyst.expressions.Expression
      import org.apache.spark.sql.catalyst.plans.QueryPlan
      import org.apache.spark.sql.catalyst.plans.logical.Filter
      val memo = memoAt(s"${this.name}/filtered", gen)(
        scala.collection.concurrent.TrieMap.empty[Expression, Seq[(String, Long)]])
      val Filter(cond, child) = cells.queryExecution.analyzed
      val key = QueryPlan.normalizeExpressions(cond, child.output).canonicalized
      memo.getOrElse(key, {
        val v = VectorSearch.gridCellCounts(cells)
        if (cond.deterministic && memo.size < VectorLibrary.FilteredOccupancyCap)
          memo.putIfAbsent(key, v)
        v
      })
    }
    // A filtered probe resolves its expanding-rule radius from the
    // per-cell occupancy of the FILTERED rows — one narrow (cell,
    // predicate-cols) aggregate over the cell-partitioned layout, not
    // a corpus bounds pass — and the probe scan stays partition-pruned
    // to the chosen cells with the predicate pushed inside them:
    // identical to running the expanding probe over the filtered
    // subset under the frozen fitted bounds.
    def probe(frame: DataFrame, gen: Long, filter: Option[Column], a: Ask): DataFrame = {
      val (lo, hi, gd, cpd) = geomAt(gen)
      val cells = applyF(frame, filter)
      val occupancy = Some(
        if (filter.isEmpty) counts(frame, gen) else filteredCounts(cells, gen))
      a.q.fold(
        qv => VectorSearch.gridKnnIndexed(cells, lo, hi, qv,
          "chunk_id", "embedding", a.kk, a.metric, gd, cpd, countsOpt = occupancy),
        qs => VectorSearch.gridKnnIndexedBatch(cells, lo, hi, qs,
          "chunk_id", "embedding", a.kk, a.metric, gd, cpd, countsOpt = occupancy))
    }
    // total_cells is the full lattice (cellsPerDim^gridDims); vectors
    // outside the fitted bounds clamp into edge cells, so occupancy is
    // always within it. No drift ratio: the bounds are frozen by
    // design and a re-fit is a rebuild decision, not a distance signal.
    override def unit = "cell"
    override def occupancy: Occupancy = {
      val (_, _, gd, cpd) = headGeom
      Occupancy(Long.box(math.pow(cpd.toDouble, gd.toDouble).toLong),
        counts(tree.open(), headGenOf(tree)).map(_._2), None)
    }
  }

  /** True when the persisted grid index has been built and holds data. */
  def hasGridIndex: Boolean = gridLayout.present

  /** The (lo, hi, gridDims, cellsPerDim) a grid bounds sidecar holds,
    * read in one job under the schema the build writes, so no
    * schema-inference job runs. */
  private[graft] def gridBoundsAt(path: String): (Array[Double], Array[Double], Int, Int) = {
    val rows = spark.read.schema("d INT, lo DOUBLE, hi DOUBLE, cells_per_dim INT")
      .parquet(path).collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"grid bounds sidecar $path holds no rows")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)), rows.length, rows.head.getInt(3))
  }

  /** Build (or rebuild) the persisted grid index: one bounds aggregate
    * over the store, one cell-clustered write. Search under algorithm
    * "grid" then probes the cell directories instead of scanning the
    * store and re-deriving bounds per query. */
  def buildGridIndex(gridDims: Int = 4, cellsPerDim: Int = 4): Unit =
    buildLayout(gridLayout, Seq(gridDims, cellsPerDim))

  /** Drop the persisted grid index (search falls back to the ad-hoc
    * expanding probe over the store). */
  def dropGridIndex(): Unit = dropLayout(gridLayout)

  /** Cell-keyed (chunk_id, embedding, cell) rows of a batch under the
    * given bounds, clustered per cell directory and sorted by chunk_id
    * within it (same rationale as [[indexRows]]: with bounded file
    * sizes, one document's rows land in few files of even a dense
    * cell, so a targeted delete rewrites files, not the cell). */
  private def gridRows(batch: DataFrame, lo: Array[Double], hi: Array[Double],
                       cellsPerDim: Int): DataFrame =
    // Metadata columns ride in the cell rows (same contract as the IVF
    // assigned rows) so a filtered search can resolve its radius from
    // the FILTERED occupancy and apply the predicate inside the
    // cell-pruned scan instead of falling back to a corpus-scale
    // expanding probe over the store.
    batch.select(col("chunk_id"), col("embedding"),
      col("doc_id"), col("source"), col("n_tokens"),
      VectorSearch.cellKeyCol(col("embedding"), lo, hi, cellsPerDim).as("cell"))
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("chunk_id"))

  // --- on-disk IVF index ---------------------------------------------
  // Cluster-partitioned assignment + tiny centroid table (the serving
  // layout IvfIndex.writeIndex documents): a new cluster reopening the
  // library probes it with zero build cost.
  private val ivfPath = s"$root/$name/ivf_index"

  private object ivfLayout extends Layout("ivf", ivfPath, s"$ivfPath/assigned",
      Seq("cluster"), IntegerType, IvfIndex.maxRecordsPerFile) {
    type Geom = Seq[(Int, Array[Double])]
    override def params = Seq("ivf_centroids" -> 16)
    // One distributed k-means fit; rows keep MLlib's placement.
    // Metadata columns ride in the assigned rows so a filtered search
    // can apply its predicate inside the cluster-pruned scan. Sorting
    // each cell by id + bounded file sizes keeps one document's rows in
    // few files of even a dense cell (cheap copy-on-write deletes).
    def fit(store: DataFrame, p: Seq[Int]): (Geom, DataFrame) = {
      val (model, assigned) = IvfIndex.build(store.select(col("chunk_id"), col("embedding"),
        col("doc_id"), col("source"), col("n_tokens")), "embedding", p.head)
      (IvfIndex.centersOf(model), assigned.repartition(col("cluster"))
        .sortWithinPartitions(col("cluster"), col("chunk_id")))
    }
    override def sidecars = Seq(
      "centroids" -> ((g: Geom, _: DataFrame) => IvfIndex.centroidFrame(spark, g)),
      "stats" -> baseline _)
    override def cells = Some((col("embedding"), (g: Geom) => g))
    // Sorted by cluster id — assignExact's lowest-cluster tie-break
    // must see a deterministic order regardless of parquet row order.
    def geomAt(gen: Long): Geom =
      geomLoad(s"$ivfPath/centroids", gen)(IvfIndex.readCentroids(spark, _))
    protected def rows(batch: DataFrame): DataFrame =
      IvfIndex.assignExact(batch.select(col("chunk_id"), col("embedding"),
        col("doc_id"), col("source"), col("n_tokens")), "embedding", headGeom)
    // victim cells re-derive map-side against the stored centroids
    // (what appendAssign placed rows by); build-time MLlib placement
    // agrees except on FP near-ties, which the coverage fallback absorbs
    def victimDirs(victims: DataFrame): Seq[String] = clusterDirs(this,
      IvfIndex.assignExact(victims.where(col("embedding").isNotNull), "embedding", headGeom))
    override def derivedDirs = true
    def probe(frame: DataFrame, gen: Long, filter: Option[Column], a: Ask): DataFrame =
      a.q.fold(
        qv => IvfIndex.search(applyF(frame, filter), geomAt(gen), qv,
          "chunk_id", "embedding", a.kk, metric = a.metric),
        qs => IvfIndex.searchBatch(applyF(frame, filter), geomAt(gen), qs,
          "chunk_id", "embedding", a.kk, metric = a.metric))
  }

  /** True when the on-disk IVF index has been built. */
  def hasIvfIndex: Boolean = ivfLayout.present

  /** Build (or rebuild) the on-disk IVF index: one distributed k-means
    * fit + a cluster-partitioned write. `search` under algorithm "ivf"
    * then probes nProbe directories instead of scanning the store. The
    * centroid count is recorded, so store rewrites and drift refits
    * rebuild at the SAME granularity. */
  def buildIvfIndex(nCentroids: Int = 16): Unit = buildLayout(ivfLayout, Seq(nCentroids))

  /** Drop the on-disk IVF index (search then answers ivf with an exact
    * scan of the store). */
  def dropIvfIndex(): Unit = dropLayout(ivfLayout)

  /** Current IVF drift ratio (1.0 = as healthy as at build). */
  def ivfDrift: Double = ivfLayout.drift

  /**
   * Re-fit the IVF centroids when appended data has drifted away from
   * the frozen ones (the reference's background reindex trigger,
   * adapted: appends assign cheaply to existing centroids; once the
   * mean assignment distance exceeds `threshold` x the build-time
   * mean, one distributed re-fit restores probe selectivity). Returns
   * true when a re-fit ran.
   */
  def refitIvfIfDrifted(threshold: Double = 1.5): Boolean = refitIfDrifted(ivfLayout, threshold)

  // --- persisted PQ index ---------------------------------------------
  // Product-quantization serving layout: tiny codebook parquet + codes
  // rows partitioned by source (mirroring the store, so deletes prune
  // the same directories). Codes are built over L2-NORMALIZED vectors
  // so the ADC shortlist tracks cosine — the same normalize-then-
  // compress contract as the int8 `quant` column; phase 2 re-ranks
  // exactly on the raw floats. Appends encode against the FROZEN
  // codebooks (ingest never refits), the same contract as the grid's
  // frozen bounds and the IVF centroids.
  private val pqPath = s"$root/$name/pq_index"

  private object pqLayout extends Layout("pq", pqPath, s"$pqPath/codes",
      Seq("source"), StringType, indexMaxRecordsPerFile) {
    type Geom = PqIndex.Codebooks
    override def params = Seq("pq_m" -> 8, "pq_k" -> 16)
    // m tiny subspace k-means fits + one encoded write
    def fit(store: DataFrame, p: Seq[Int]): (Geom, DataFrame) = {
      val base = pqBase(store)
      val books = PqIndex.train(base, "__nvec", p(0), p(1))
      (books, pqCodeRows(base, books))
    }
    /** The codebook sidecar's word column. */
    private val word = "c"
    override def sidecars = Seq(
      "books" -> ((g: Geom, _: DataFrame) => PqIndex.booksFrame(spark, g, word)))
    def geomAt(gen: Long): Geom =
      geomLoad(s"$pqPath/books", gen)(PqIndex.readBooks(spark, _, word))
    protected def rows(batch: DataFrame): DataFrame = pqCodeRows(pqBase(batch), headGeom)
    def victimDirs(victims: DataFrame): Seq[String] =
      victims.select(col("source")).distinct().collect()
        .map(r => s"$pqPath/codes/source=${escape(r.getString(0))}").toSeq
    // codes-only ADC scan; exact re-rank on the survivors' float rows
    def probe(frame: DataFrame, gen: Long, filter: Option[Column], a: Ask): DataFrame =
      a.q.fold(
        qv => PqIndex.search(applyF(frame, filter), geomAt(gen), qv,
          "chunk_id", "embedding", a.kk, a.metric, normalized = true),
        qs => PqIndex.searchBatch(applyF(frame, filter), geomAt(gen), qs,
          "chunk_id", "embedding", a.kk, a.metric, normalized = true))
  }

  /** True when the persisted PQ index has been built and holds data. */
  def hasPqIndex: Boolean = pqLayout.present

  /** Normalized-vector projection of a chunk batch for PQ encoding.
    * Carries the filterable metadata so codes-resident phase-1 scans
    * can apply a metadata predicate before the ADC shortlist. */
  private def pqBase(batch: DataFrame): DataFrame =
    batch.select(col("chunk_id"), col("source"), col("doc_id"),
      col("n_tokens"), col("embedding"),
      l2Normalize(col("embedding")).as("__nvec"))

  /** Encoded code rows of a batch, clustered per source directory. */
  private def pqCodeRows(base: DataFrame, books: PqIndex.Codebooks): DataFrame =
    PqIndex.encodeExact(base, "__nvec", books).drop("__nvec")
      .sortWithinPartitions(col("source"), col("chunk_id"))

  /** Build (or rebuild) the persisted PQ index: m tiny subspace
    * k-means fits + one encoded write. Search under algorithm "pq"
    * then scans 8-byte codes instead of float vectors for phase 1. */
  def buildPqIndex(m: Int = 8, kk: Int = 16): Unit = buildLayout(pqLayout, Seq(m, kk))

  /** Drop the persisted PQ index (search then answers pq with an
    * exact scan of the store). */
  def dropPqIndex(): Unit = dropLayout(pqLayout)

  // --- persisted IVF-PQ index -------------------------------------------
  // The composed serving layout (operators.IvfPq): ONE parquet table
  // partitioned by coarse cluster holding (chunk_id, source,
  // embedding, pq_codes) — a probe partition-prunes to nProbe cells
  // AND column-prunes phase 1 to the codes; the float pages open only
  // for the re-rank shortlist — plus tiny centroid/codebook side
  // tables. Codes are residual-PQ over L2-NORMALIZED vectors (ADC
  // tracks cosine, like the pq layout). Appends assign + encode under
  // the FROZEN geometry; targeted deletes copy-on-write victim files.
  private val ivfpqPath = s"$root/$name/ivfpq_index"

  private object ivfpqLayout extends Layout("ivfpq", ivfpqPath, s"$ivfpqPath/encoded",
      Seq("cluster"), IntegerType, indexMaxRecordsPerFile) {
    /** (coarse centroids, residual codebooks), each side loaded once
      * per resolved sidecar. */
    type Geom = (Seq[(Int, Array[Double])], PqIndex.Codebooks)
    override def params = Seq("ivfpq_ncentroids" -> 16, "ivfpq_m" -> 8, "ivfpq_k" -> 16)
    // one coarse k-means + m residual-subspace fits
    def fit(store: DataFrame, p: Seq[Int]): (Geom, DataFrame) = {
      val idx = IvfPq.train(pqBase(store), "__nvec", p(0), p(1), p(2))
      ((idx.centers, idx.books), ivfpqRowsClustered(idx.encoded.drop("__nvec")))
    }
    override def sidecars = Seq(
      "centroids" -> ((g: Geom, _: DataFrame) => IvfIndex.centroidFrame(spark, g._1)),
      "books" -> ((g: Geom, _: DataFrame) => PqIndex.booksFrame(spark, g._2, IvfPq.BookWord)),
      "stats" -> baseline _)
    // coarse assignment quality: when rows drift from the cells,
    // residuals grow and ADC fidelity decays, so coarse drift is the
    // refit signal for BOTH quantizers
    override def cells = Some((l2Normalize(col("embedding")), (g: Geom) => g._1))
    def geomAt(gen: Long): Geom =
      (geomLoad(s"$ivfpqPath/centroids", gen)(IvfIndex.readCentroids(spark, _)),
       geomLoad(s"$ivfpqPath/books", gen)(PqIndex.readBooks(spark, _, IvfPq.BookWord)))
    protected def rows(batch: DataFrame): DataFrame = {
      val (centers, books) = headGeom
      ivfpqRowsClustered(
        IvfPq.encodeFrozen(pqBase(batch), "__nvec", centers, books).drop("__nvec"))
    }
    // exact replay of the build/append geometry: assignExact over the
    // L2-normalized vectors against the stored coarse centroids IS how
    // every encoded row was placed, so the pruned dirs are the victim
    // cells bit-for-bit
    def victimDirs(victims: DataFrame): Seq[String] = clusterDirs(this,
      IvfIndex.assignExact(victims.where(col("embedding").isNotNull)
        .withColumn("__nvec", l2Normalize(col("embedding"))), "__nvec", headGeom._1))
    override def derivedDirs = true
    // partition-pruned (nProbe cells) + column-pruned (codes-only
    // phase 1) scan; exact re-rank
    def probe(frame: DataFrame, gen: Long, filter: Option[Column], a: Ask): DataFrame = {
      val (centers, books) = geomAt(gen)
      val idx = IvfPq.Index(centers, books, applyF(frame, filter))
      a.q.fold(
        qv => IvfPq.search(idx, qv, "chunk_id", "embedding", a.kk,
          metric = a.metric, normalized = true),
        qs => IvfPq.searchBatch(idx, qs, "chunk_id", "embedding", a.kk,
          metric = a.metric, normalized = true))
    }
  }

  /** True when the persisted IVF-PQ index has been built and holds data. */
  def hasIvfPqIndex: Boolean = ivfpqLayout.present

  /** Encoded rows clustered per coarse-cluster directory. */
  private def ivfpqRowsClustered(encoded: DataFrame): DataFrame =
    encoded.sortWithinPartitions(col("cluster"), col("chunk_id"))

  /** Build (or rebuild) the persisted IVF-PQ index: one coarse
    * k-means + m residual-subspace fits + one partitioned write.
    * Search under algorithm "ivfpq" then opens nProbe cluster
    * directories and reads codes-only in phase 1. */
  def buildIvfPqIndex(nCentroids: Int = 16, m: Int = 8, kk: Int = 16): Unit =
    buildLayout(ivfpqLayout, Seq(nCentroids, m, kk))

  /** Drop the persisted IVF-PQ index (search then answers ivfpq with
    * an exact scan of the store). */
  def dropIvfPqIndex(): Unit = dropLayout(ivfpqLayout)

  /** Drift ratio of the IVF-PQ index: current mean squared coarse-
    * assignment distance over the build-time baseline; ~1.0 healthy,
    * rising = appended data no longer matches the frozen geometry. */
  def ivfpqDrift: Double = {
    require(hasIvfPqIndex, s"library $name has no IVF-PQ index (buildIvfPqIndex first)")
    ivfpqLayout.drift
  }

  /** Re-fit the full IVF-PQ geometry (coarse centroids AND residual
    * codebooks) when drift exceeds `threshold` — the composed analog
    * of refitIvfIfDrifted. Returns true when a re-fit ran. */
  def refitIvfPqIfDrifted(threshold: Double = 1.5): Boolean =
    refitIfDrifted(ivfpqLayout, threshold)

  /** IVF-PQ index health: cell occupancy + drift, the composed-index
    * member of the LSH/grid/IVF observability family. */
  def ivfpqIndexInfo: DataFrame = {
    require(hasIvfPqIndex, s"library $name has no IVF-PQ index (buildIvfPqIndex first)")
    occupancyView(ivfpqLayout)
  }

  /** Library stats (reference GET /libraries/{id}/index-info, incl.
    * the vector-storage memory estimate of algorithms.py:197-201). */
  def stats: DataFrame = {
    chunks.agg(
      count(lit(1)).as("vector_count"),
      max(size(col("embedding"))).as("dimension"),
      countDistinct(col("doc_id")).as("n_documents"),
      countDistinct(col("source")).as("n_sources"),
      round(avg(col("n_tokens")), 4).as("avg_chunk_tokens"),
      sum(when(col("embedding").isNull, 1).otherwise(0)).as("unindexed_chunks"))
      .withColumn("est_memory_mb",
        round(col("vector_count") * col("dimension") * 4 / lit(1024.0 * 1024.0), 3))
      .withColumn("library", lit(name))
      .withColumn("algorithm", lit(algo))
  }

  /**
   * LSH index health: the bucket-occupancy histogram of the stored
   * index (reference LSHIndex.get_stats, algorithms.py:420-441 —
   * total/avg/max/empty buckets, surfaced via
   * vector_service.py:394 get_library_index_info). Computed from the
   * materialized `lsh_buckets` column: one explode + one aggregate,
   * no vector math.
   */
  def indexInfo: DataFrame = occupancyView(lshLayout,
    lit(numTables).as("num_tables"), lit(bitsPerTable).as("bits_per_table"))

  /**
   * IVF index health (the cluster-occupancy analog of the LSH bucket
   * histogram — reference get_stats surfaced per index type via
   * get_library_index_info): cell count, occupancy, size skew, plus
   * the assignment-drift ratio that gates refits. Requires the
   * on-disk index; the aggregate reads ONLY the cluster partition
   * column, so at 100 TB this is directory listing + row-group
   * counts, not a data scan.
   */
  def ivfIndexInfo: DataFrame = {
    require(hasIvfIndex, s"library $name has no IVF index (buildIvfIndex first)")
    occupancyView(ivfLayout)
  }

  /**
   * Grid index health: cell occupancy under the frozen fitted bounds —
   * the grid member of the LSH/IVF/IVF-PQ observability family.
   */
  def gridIndexInfo: DataFrame = {
    require(hasGridIndex, s"library $name has no grid index (buildGridIndex first)")
    occupancyView(gridLayout)
  }

  /** Chunks whose embedding is missing (reference get_unindexed_chunks). */
  def unindexed: DataFrame = chunks.filter(col("embedding").isNull)

  /**
   * Remove chunks whose parent document is not in `documents` — the
   * reference's background orphan cleanup (background_tasks.py:94),
   * as a semi-join copy-on-write rewrite. Returns removed-chunk count.
   */
  def cleanupOrphans(documents: DataFrame): Long =
    deleteVictims(chunks.join(
      documents.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"))

  /** Batch chunk fetch by id (reference get_chunks_batch): a semi-join
    * against a broadcast id frame rather than an IN literal, so a
    * large id batch stays a hash join instead of a giant predicate. */
  def chunksBatch(chunkIds: Seq[String]): DataFrame = {
    import spark.implicits._
    chunks.join(broadcast(chunkIds.toDF("chunk_id")), Seq("chunk_id"), "left_semi")
  }

  /** All chunks of one document, in order (reference
    * GET /documents/{id}/chunks). */
  def documentChunks(docId: Long): DataFrame =
    chunks.filter(col("doc_id") === docId).orderBy(col("chunk_idx").asc)

  /**
   * Streaming ingest: the reference's background embedding task
   * (services/background_tasks.py:15-40 — embed-and-index each new
   * chunk as it arrives) as a Structured Streaming pipeline. New
   * document files landing in `docsPath` are chunked, embedded, and
   * appended to the library store incrementally.
   */
  def ingestStream(docsStream: DataFrame, checkpoint: String,
                   chunkWindow: Int = 32): org.apache.spark.sql.streaming.StreamingQuery = {
    // foreachBatch + the store tree's manifest commit, NOT the native
    // parquet streaming sink: the sink writes files straight into the
    // store directory, which a MANIFESTED store never adopts (streamed
    // rows would be invisible orphans), and its _spark_metadata log
    // makes even listing reads sink-scoped. Committing through
    // appendCommitted keeps one ingest discipline for batch and
    // stream. foreachBatch recovery is at-least-once per micro-batch,
    // but chunk_ids are deterministic (library#doc#idx) and only the
    // FIRST batch after a (re)start can be a replay of a batch whose
    // commit already landed — dropReplayedChunks anti-joins exactly
    // that batch against the store, making the store commit effectively
    // exactly-once at O(one reconcile scan per restart), never a
    // per-batch cost.
    var reconcileFirst = true
    TextAnalysis.chunksUnordered(docsStream, chunkWindow)
      .withColumn("chunk_id",
        concat_ws("#", lit(name), col("doc_id"), col("chunk_idx")))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => withWriterLock {
        val raw = batch.persist()
        val b = if (reconcileFirst) dropReplayedChunks(raw) else raw
        reconcileFirst = false
        if (!b.isEmpty) {
          // The embed runs HERE, per micro-batch, so an embedder
          // outage is a per-batch event the stream can ride out: the
          // batch stores PENDING (typed-null embedding, invisible to
          // search and index fits — the reference's unindexed-chunk
          // state) instead of failing the stream; rebuildIndex() is
          // the existing catch-up that embeds pending rows in bulk.
          embedOrPending(b, batchId).fold {
            storeTree.appendCommitted(
              pendingRows(b.drop("chunk_id"))
                .sortWithinPartitions(col("source"), col("doc_id")), 0L)
          } { eb =>
            try storeTree.appendCommitted(eb, 0L) finally eb.unpersist()
          }
          invalidateIndexes()
        }
        if (b ne raw) b.unpersist()
        raw.unpersist()
        ()
      } }
      .start()
  }

  /** Embed + index-column a micro-batch, with ONLY the embed step
    * fallback-eligible: the seam's bulk hook materializes first (its
    * failure = service outage → None, loudly — the caller stores the
    * batch pending instead of failing the stream), and the derived
    * index columns (lsh/quant/bits — graft's own deterministic
    * expressions) compute AFTER, outside the catch: their failures
    * are bugs that must fail the stream, not masquerade as an outage
    * and strand rows pending forever (rebuildIndex would hit the
    * same bug). NonFatal only — an OOM or the stop() interrupt
    * propagates. */
  private def embedOrPending(b: DataFrame, batchId: Long): Option[DataFrame] = {
    val embedded = embed.embedFrame(b.drop("chunk_id"),
      "chunk_text", "search_document", "embedding").persist()
    val up =
      try { embedded.count(); true }
      catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[graft] stream batch $batchId: embedding " +
          s"failed (${Option(t.getMessage).getOrElse(t).toString.take(120)}) — " +
          "storing the batch PENDING; run rebuildIndex() once the " +
          "embedding service is back")
        false
      }
    if (!up) { embedded.unpersist(); None }
    else try {
      val full = derivedIndexColumns(embedded).persist()
      full.count()
      Some(full)
    } finally embedded.unpersist()
  }

  /** Replay idempotence for streaming ingest: drop the micro-batch rows
    * whose chunk_id is ALREADY in the store. Called only on the first
    * batch after a stream (re)start — the only batch foreachBatch's
    * at-least-once recovery can replay — so the cost is one store-side
    * semi scan per restart, not per batch. The batch's ids broadcast to
    * the store scan and the (small) intersection broadcasts back to the
    * batch-side anti join: no shuffle of the store at any size. */
  private def dropReplayedChunks(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    if (!committed(storeTree)) return batch
    val ids = batch.select("chunk_id").distinct()
    val existing = chunks
      .join(broadcast(ids), Seq("chunk_id"), "left_semi")
      .select("chunk_id")
    val fresh = batch
      .join(broadcast(existing), Seq("chunk_id"), "left_anti").persist()
    fresh.count() // materialize: ONE reconcile scan, not one per consumer
    fresh
  }

  /**
   * Streaming ingest that ALSO maintains the bucket-partitioned LSH
   * index incrementally: each micro-batch appends its chunks to the
   * store and its exploded (tbl, bucket) rows to the index — the
   * streaming form of the reference's background embed-and-index loop
   * (background_tasks.py:15-40), with the index never rebuilt from
   * scratch. foreachBatch drives the two sinks; the first batch after
   * a (re)start reconciles against the store (deterministic chunk_ids,
   * library#doc#idx), so a crash-replayed micro-batch never commits
   * duplicate rows.
   */
  /**
   * Streaming ingest with index maintenance (reference
   * background_tasks: embed + index each arrival, plus the periodic
   * cleanup loop): each micro-batch dual-writes store + partitioned
   * index; every `compactEvery` batches the fragmented index
   * directories compact in place (compactEvery = 0 disables). This is
   * the always-on form of a lake table's OPTIMIZE schedule — the
   * stream itself keeps its own files healthy, no external daemon.
   */
  def ingestStreamIndexed(docsStream: DataFrame, checkpoint: String,
                          chunkWindow: Int = 32, compactEvery: Int = 0,
                          maxFilesPerPartition: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
    // A pre-existing store WITHOUT the partitioned index would
    // otherwise end up with a PARTIAL index holding only streamed
    // rows (the first append commits the index, flipping
    // hasPartitionedIndex while every earlier chunk is missing).
    if (committed(storeTree) && !hasPartitionedIndex) buildPartitionedIndex()
    // replay idempotence mirrors plain ingestStream: only the first
    // batch after a (re)start can be a replay — anti-join it against
    // the store. A crash BETWEEN this batch's store commit and one of
    // its index commits leaves that index short by the batch; that is
    // exactly the gap repairIndexes() closes from the store.
    var reconcileFirst = true
    TextAnalysis.chunksUnordered(docsStream, chunkWindow)
      .withColumn("chunk_id",
        concat_ws("#", lit(name), col("doc_id"), col("chunk_idx")))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => withWriterLock {
        val raw = batch.persist()
        val b0 = if (reconcileFirst) dropReplayedChunks(raw) else raw
        // rows the reconcile dropped ARE in the store but may be
        // missing from any index whose commit the crash preceded
        // (Spark replays a batch only if foreachBatch never returned,
        // i.e. some commit after the store's didn't land) — a dropped
        // row is therefore EVIDENCE of a possible index gap
        val replayGap = reconcileFirst && (b0 ne raw) &&
          b0.count() < raw.count()
        reconcileFirst = false
        if (!b0.isEmpty) {
          // per-batch embed with the pending fallback (see
          // [[ingestStream]]): an embedding-service outage stores the
          // batch pending — joining NO index — instead of killing the
          // stream; rebuildIndex() embeds and indexes it later
          embedOrPending(b0, batchId).fold {
            storeTree.appendCommitted(
              pendingRows(b0.drop("chunk_id"))
                .sortWithinPartitions(col("source"), col("doc_id")), 0L)
            invalidateIndexes()
          } { b =>
            try {
              storeTree.appendCommitted(b, 0L)
              // mirror appendBatch: every derived index stays current and
              // session caches drop, so ivf/grid/flat search sees the arrivals
              appendLayouts(b, layouts.filter(l => (l eq lshLayout) || l.present))
              invalidateIndexes()
            } finally b.unpersist()
          }
        }
        // heal the evidenced gap NOW instead of leaving the indexes
        // silently short until someone runs repairIndexes by hand —
        // cost: one store/index reconcile, only on a replayed restart
        if (replayGap) repairIndexes()
        if (b0 ne raw) b0.unpersist()
        raw.unpersist()
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compactPartitionedIndex(maxFilesPerPartition)
        ()
      } }
      .start()
  }

  /**
   * Delete documents by predicate (reference DELETE /chunks,
   * /documents): lake-style copy-on-write — ONLY the store partitions
   * and derived-index partitions holding victim rows rewrite (see
   * deleteVictims), exactly how Delta/Iceberg deletes compile. A NULL
   * predicate result KEEPS the row (a victim is a row where the
   * predicate is definitely true).
   */
  def deleteDocuments(predicate: Column): Unit = withWriterLock {
    deleteVictims(chunks.filter(coalesce(predicate, lit(false))))
    ()
  }

  /** Rewrite the store to `newData`, committed like every other
    * rebuild ([[installRebuild]]): the rewrite lands in a tmp tree
    * (reads see intact live data throughout), its files rename in
    * beside the previous generation, and the manifest commits a full
    * generation referencing exactly the fresh set. The pre-rewrite
    * store stays resolvable for epoch-pinned readers and restoreTo
    * until vacuum — this path used to rename the whole chunks
    * directory aside (tearing any concurrent reader mid-plan) and
    * took the manifest chain with it, silently demoting the store to
    * a listing tree and dangling every recorded epoch.
    * `reindex = false` skips the derived-index rebuild for rewrites
    * that provably keep every (chunk_id, embedding, quant,
    * lsh_buckets) row intact — compaction moves rows between files
    * but changes none of them. */
  private def swapStore(newData: DataFrame, reindex: Boolean = true): Unit = {
    installRebuild(storeTree) { (tmp, _) =>
      newData.sortWithinPartitions(col("source"), col("doc_id"))
        .write.mode(SaveMode.Overwrite).partitionBy("source").parquet(tmp)
    }
    invalidateIndexes()
    // The partitioned index is derived data: when the rewrite can
    // change row content (rebuildIndex re-embeds), re-derive it from
    // the rewritten store so stale signatures never serve. Deletes no
    // longer come through here — deleteVictims copy-on-writes only the
    // victim index partitions.
    if (reindex) layouts.foreach(l => if (l.present) l.rebuild(readMeta()))
    touchMeta()
  }

  /**
   * Rebuild the index columns in place (reference
   * POST /libraries/{id}/index + the background batch re-index of
   * unindexed chunks, background_tasks.py:260): chunks missing an
   * embedding are re-embedded; lsh_buckets and quant codes are
   * re-derived for every row; the store swaps atomically.
   */
  def rebuildIndex(): Unit = withWriterLock {
    // The unindexed subset re-embeds through the BULK seam
    // (embedFrame: per-partition batched service calls — the
    // reference's batch_process_unindexed_chunks batches exactly this,
    // background_tasks.py:260-281). Routing it through the per-row
    // embed() expression would cost one service round-trip + retry
    // loop PER CHUNK under a ServiceEmbedder.
    val base = chunks
    val order = base.columns.map(col).toSeq
    val reembedded = embed.embedFrame(
      base.filter(col("embedding").isNull).drop("embedding"),
      "chunk_text", "search_document", "embedding").select(order: _*)
    swapStore(base.filter(col("embedding").isNotNull)
      .unionByName(reembedded)
      .withColumn("lsh_buckets", lshBuckets(col("embedding"), numTables, bitsPerTable, seed))
      .withColumn("quant", quantizeVec(l2Normalize(col("embedding"))))
      .withColumn("bits", bitPack(col("embedding"))))
  }

  /**
   * Compact the store (the maintenance half of the reference's
   * background reindex loop, adapted to a lake layout): streaming
   * ingest appends one small parquet file per micro-batch per source;
   * compaction rewrites them into `numPartitions` files clustered by
   * source, restoring scan efficiency without touching row content.
   */
  def compact(numPartitions: Int = 1): Unit = withWriterLock {
    swapStore(chunks.repartition(numPartitions, col("source")), reindex = false)
  }

  /**
   * Lake-maintenance observability: per-source file-layout health of
   * the store — file count, byte totals, and the small-file flag that
   * says WHEN to run [[compact]] (streaming ingest appends one file
   * per micro-batch per source; reading a source fragmented into many
   * KB-scale files costs an open/footer-parse per file, the classic
   * small-files tax). Read from the store's manifest alone — no
   * listing, no job — so the audit is corpus-size-independent.
   */
  def storeFileStats(smallFileBytes: Long = 4L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    // Layout health is a property of what readers PLAN — the
    // manifest-LIVE set. The directories also hold history-retained
    // bytes (COW victims, displaced compaction/rebuild generations)
    // that no read plans and vacuum reclaims on schedule; counting
    // those would re-flag a directory that just compacted, and the
    // maintenance loop this report drives would rewrite the same rows
    // forever.
    val rows = storeTree.readManifest().getOrElse(Nil)
      .filter(_._1.startsWith("source="))
      .groupBy(_._1.takeWhile(_ != '/'))
      .map { case (dirName, entries) =>
        val sizes = entries.map(_._2)
        (dirName.stripPrefix("source="),
          entries.size.toLong, sizes.sum, sizes.max,
          sizes.count(_ < smallFileBytes).toLong)
      }.toSeq
    rows.toDF("source", "n_files", "total_bytes", "max_file_bytes", "small_files")
      .withColumn("needs_compaction", col("small_files") > 1)
      .orderBy(col("source").asc)
  }

  /**
   * Per-tree manifest census — the observability face of the
   * maintenance loop: for the store and each derived layout with a
   * committed generation, the LIVE file count / bytes read straight
   * from the manifest (zero filesystem listing — at 100 TB this is six
   * small file reads), its generation and its delta-chain length.
   * Empty trees (no committed generation) are omitted; `manifested` is
   * true on every row.
   */
  def manifestInfo: DataFrame = {
    import spark.implicits._
    epochTrees
      .flatMap { case (n, t) =>
        for (entries <- t.readManifest(); (gen, deltas) <- t.chainInfo())
          yield (n, true, entries.size.toLong, entries.map(_._2).sum, gen, deltas)
      }
      .toDF("tree", "manifested", "live_files", "live_bytes",
        "generation", "chain_deltas")
      .withColumn("library", lit(name))
  }

  /**
   * Update a document's text (reference PUT /chunks + background
   * re-embed, services/chunk_service.py:100-127): delete the old
   * chunks, re-chunk/re-embed/re-index the new content.
   */
  def updateDocument(docId: Long, newDocs: DataFrame): Unit = withWriterLock {
    deleteDocuments(col("doc_id") === docId)
    addDocuments(newDocs)
  }

  /**
   * Update a single chunk's text in place (reference PUT /chunks/{id},
   * chunk_service.py:100-127 + background re-embed): the chunk keeps
   * its (doc_id, source, chunk_idx) identity — and therefore its
   * chunk_id — while text, token count, embedding and index columns
   * re-derive. Store semantics are the same copy-on-write swap every
   * other mutation uses. The identity fetch is pruned (see
   * [[chunkLookup]]): doc_id parses out of the chunk_id for row-group
   * skipping, and a caller-supplied `source` partition-prunes to one
   * directory — no full-store scan per PUT.
   */
  /** The 1-row identity frame behind a chunk PUT. chunk_id encodes
    * (library, doc_id, chunk_idx), so the fetch always filters on the
    * parsed doc_id too — store files are sorted by (source, doc_id),
    * so parquet row-group statistics skip every group not holding the
    * document. A caller-supplied `source` additionally partition-
    * prunes the scan to that one source= directory (the store's
    * partition column), making the lookup O(one partition's footers)
    * instead of O(store). */
  private[graft] def chunkLookup(chunkId: String,
                                 source: Option[String] = None): DataFrame = {
    val parts = chunkId.split("#")
    val parsedDoc =
      if (parts.length >= 3) scala.util.Try(parts(parts.length - 2).toLong).toOption
      else None
    val base = source.fold(chunks)(s => chunks.filter(col("source") === s))
    val narrowed = parsedDoc.fold(base)(d => base.filter(col("doc_id") === d))
    narrowed.filter(col("chunk_id") === chunkId)
  }

  def updateChunk(chunkId: String, newText: String,
                  source: Option[String] = None): Unit = withWriterLock {
    val old = chunkLookup(chunkId, source)
      .select(col("doc_id"), col("source"), col("chunk_idx")).collect()
    require(old.nonEmpty, s"chunk $chunkId does not exist")
    deleteDocuments(col("chunk_id") === chunkId)
    import spark.implicits._
    addChunkedDocuments(
      Seq((old(0).getLong(0), old(0).getInt(2), newText, old(0).getString(1)))
        .toDF("doc_id", "chunk_idx", "chunk_text", "source"))
  }

  /** Drop the library store (reference DELETE /libraries/{id}). */
  def delete(): Unit = withWriterLock {
    invalidateIndexes()
    genMemo.clear(); geomLoadCache.clear()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$name"), true)
  }
}

object VectorLibrary {
  /** Staging subdirectory inside a rebuild's tmp tree where the build
    * callback writes its geometry sidecars; installRebuild renames
    * them beside the tree root immediately before the manifest commit.
    * Underscore-prefixed: invisible to listTree's fresh-file census. */
  val GeomStageDir = "_geom"

  /** Distinct filters whose grid occupancy one generation memoizes. */
  private val FilteredOccupancyCap = 64

  /** The largest tree (by its manifest's byte count) a library holds
    * in driver memory, whatever the small-relation threshold. A held
    * tree is scored on one driver thread at about 5.5 µs a row, where a
    * file scan pays a near-constant job floor: at 4 cores and 64
    * dimensions, warm searches of held trees of up to 4.5 MB (9,250
    * store rows) were faster than file-backed ones for all eight
    * algorithms; with 19,755 rows, a 9.0 MB store served flat and
    * quantized slower than its files, and the 5.3 MB ivf and pq layouts
    * were 5-10% faster. */
  private[graft] val ResidentMaxBytes: Long = 4L << 20

  /** Index algorithms a library can route search through (reference
    * IndexAlgorithm enum + the quantized two-phase extension). */
  val algorithms: Set[String] =
    Set("flat", "lsh", "grid", "ivf", "quantized", "binary", "pq", "ivfpq")

  /** All libraries under a root (reference GET /libraries): one row
    * per library directory with its persisted metadata. */
  def list(spark: SparkSession, root: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val names =
      if (!fs.exists(rootPath)) Seq.empty[String]
      else fs.listStatus(rootPath).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    names.sorted.map { n =>
      val m = new VectorLibrary(spark, root, n).metadata
      (n, m.getOrElse("description", ""), m.getOrElse("algorithm", "flat"),
        m.getOrElse("created_at", ""), m.getOrElse("updated_at", ""))
    }.toDF("library", "description", "algorithm", "created_at", "updated_at")
  }

  /**
   * Index health of EVERY library under a root in one call (reference
   * get_all_library_indexes_info, services/vector_service.py:424-433):
   * each library's LSH / grid / IVF / IVF-PQ info views normalized
   * onto one occupancy schema — (library, algorithm, index_type,
   * total_cells, occupied_cells, empty_cells, avg_cell_size,
   * max_cell_size, drift_ratio) — and unioned. "Cells" are LSH
   * buckets, grid cells, IVF clusters or IVF-PQ clusters per the
   * index_type discriminator; drift_ratio is null for LSH/grid (no
   * distance geometry to drift from). Libraries
   * with no built index contribute no rows, matching the reference's
   * skip-if-absent. The driver loop is over library NAMES only; each
   * contributed row is the same pruned 1-row aggregate its
   * per-library view runs.
   */
  def allIndexInfo(spark: SparkSession, root: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val names = list(spark, root).select("library").collect().map(_.getString(0))
    val rows = names.toSeq.flatMap { n =>
      val lib = new VectorLibrary(spark, root, n)
      lib.layouts.filter(_.reported).map { l =>
        val o = l.occupancy
        val total = o.total.longValue
        (n, lib.algorithm, l.name, total, o.sizes.size.toLong,
          total - o.sizes.size, o.avg.getOrElse(0.0), o.max.getOrElse(0L),
          o.drift.map(VectorOps.roundTo(_, 6)))
      }
    }
    rows.toDF("library", "algorithm", "index_type", "total_cells",
      "occupied_cells", "empty_cells", "avg_cell_size", "max_cell_size",
      "drift_ratio")
  }

  private val datasetCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), VectorLibrary]

  /** Build-once library over a dataset's documents table (temp store,
    * partitioned LSH index built) — the bench/verify stand-in for a
    * long-lived library: queries against it measure the PROBE, not
    * ingest, mirroring how a serving cluster reads a store built by an
    * earlier ingest job.
    *
    * Strictly per-PROCESS (r13): every bench/verify invocation builds
    * its own library from the parquet inputs during its own (untimed)
    * preamble. A cross-process on-disk reuse keyed on the dataset
    * path briefly existed (r12-close, chasing preamble cost) but is a
    * persisted intermediate keyed on the test data — the optimization
    * rounds prohibit exactly that, so it was reverted; the per-session
    * TrieMap below is the only memo. */
  def forDataset(spark: SparkSession, dir: String): VectorLibrary =
    datasetCache.getOrElseUpdate((spark, dir), {
      val tmp = java.nio.file.Files.createTempDirectory("graft-benchlib")
      // The per-process build dir would otherwise outlive the JVM and
      // accumulate a full store + index copy in /tmp per bench/verify
      // run (r14, ADVICE): one exit hook removes every one of them.
      tempDirCleanup
      tempDirs.add(tmp)
      val built = new VectorLibrary(spark, tmp.toString, "bench")
      built.addDocuments(Tables.load(spark, dir, "documents"))
      built.buildPartitionedIndex()
      built
    })

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val tempDirCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => tempDirs.forEach { dir =>
      import java.nio.file.{Files, Path}
      try {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => { try Files.deleteIfExists(p) catch { case _: Throwable => () } })
        finally walk.close()
      } catch { case _: Throwable => () }
    }))
}
