package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Executor-visible instrumentation for the fake service (local-mode
  * single JVM: statics are shared with the executor threads). */
object EmbedderSpecState {
  val batches = new ConcurrentLinkedQueue[Integer]()
  val failOnce = new AtomicBoolean(false)
  def reset(): Unit = { batches.clear(); failOnce.set(true) }
}

/** The embedding seam both ways: the default expression-backed
  * provider and a service-backed provider with the reference's
  * batching/retry/validation contract (embedding_service.py) must be
  * interchangeable — identical store schema, identical search
  * results when the service returns the same vectors. The
  * MediaDecoder move (ImageIoMediaDecoder), applied to text. */
class EmbedderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a swapped service embedder preserves schema and results; batches, retries and validates like the reference") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(30)
    val q = "spark join stream table filter"

    // reference library on the default deterministic embedder — also
    // the source of truth for what the "service" must return
    val rootA = Files.createTempDirectory("graft-emb-a").toString
    val libA = new VectorLibrary(spark, rootA, "emb-a")
    libA.addDocuments(docs)
    libA.buildPartitionedIndex()
    val mapping: Map[(String, String), Array[Float]] =
      libA.chunks.select("chunk_text", "embedding").collect()
        .map(r => (r.getString(0), "search_document") ->
          r.getSeq[Float](1).toArray).toMap ++
      Map((q, "search_query") -> spark.range(1)
        .select(GraftFunctions.embedTextTyped(lit(q), "search_query", 64, 42L))
        .head.getSeq[Float](0).toArray)

    // the fake transport: answers from the precomputed mapping,
    // records every batch size, and fails the FIRST document call to
    // prove the retry path is transparent
    EmbedderSpecState.reset()
    val call: ServiceEmbedder.BatchCall = (texts, inputType) => {
      EmbedderSpecState.batches.add(texts.size)
      if (inputType == "search_document" &&
          EmbedderSpecState.failOnce.compareAndSet(true, false))
        throw new RuntimeException("injected transient service failure")
      texts.map(t => mapping.getOrElse((t, inputType),
        sys.error(s"service asked to embed an unexpected text: ${t.take(40)}")))
    }
    // batchSize 7 << chunk count forces real batching; near-zero
    // backoff keeps the injected retry fast
    val svc = new ServiceEmbedder(64, call, batchSize = 7,
      maxRetries = 3, backoffMinMs = 1L, backoffMaxMs = 2L)

    val rootB = Files.createTempDirectory("graft-emb-b").toString
    val libB = new VectorLibrary(spark, rootB, "emb-b", embedder = svc)
    libB.addDocuments(docs)
    libB.buildPartitionedIndex()

    // identical persisted schema (the plan above the seam is the same)
    assert(libB.chunks.schema == libA.chunks.schema,
      s"swapped embedder changed the store schema:\n${libB.chunks.schema}\nvs\n${libA.chunks.schema}")
    // identical vectors -> bit-identical search results on BOTH the
    // flat and the partitioned-index paths
    def hits(lib: VectorLibrary, flat: Boolean) = {
      val df = if (flat) lib.search(q, 10) else lib.searchApprox(q, 10)
      df.collect().map(r => (r.getString(0).split("#").drop(1).mkString("#"),
        r.getDouble(1))).toSeq
    }
    assert(hits(libB, flat = true) == hits(libA, flat = true),
      "flat search differs under the swapped embedder")
    assert(hits(libB, flat = false) == hits(libA, flat = false),
      "indexed search differs under the swapped embedder")
    // a search embeds its query once, on the driver: the expression-
    // backed embedder launches no job, the UDF-backed service at most one
    val (qvA, jobsA) = SparkJobs.count(spark)(libA.queryVector(q))
    val (qvB, jobsB) = SparkJobs.count(spark)(libB.queryVector(q))
    assert(jobsA == 0, s"embedding the query launched $jobsA job(s)")
    assert(jobsB <= 1, s"embedding the query through the service launched $jobsB jobs")
    assert(qvB.toSeq == qvA.toSeq, "the service's query vector differs")

    // the reference's batching contract: every call within the batch
    // cap, and the corpus was actually SPLIT into batches (not one
    // giant call, not per-row calls only)
    import scala.jdk.CollectionConverters._
    val sizes = EmbedderSpecState.batches.asScala.map(_.toInt).toSeq
    assert(sizes.nonEmpty && sizes.forall(s => s >= 1 && s <= 7),
      s"a service call exceeded the batch cap: $sizes")
    assert(sizes.count(_ == 7) >= 1,
      s"no full-size batch was formed over ${sizes.sum} texts: $sizes")
    // the injected failure was retried, not surfaced
    assert(!EmbedderSpecState.failOnce.get(), "injected failure never fired")

    // the reference's validation contract: empty text is rejected
    // loudly before any service call
    val bad = intercept[Exception] {
      svc.embedFrame(
        spark.createDataFrame(Seq(Tuple1("  "))).toDF("chunk_text"),
        "chunk_text", "search_document", "embedding").collect()
    }
    assert(bad.getMessage != null)

    // dimension mismatches are loud AND immediate: a deterministic
    // validation failure (deployment misconfiguration) must never
    // enter the transport retry loop — at default retries/backoff
    // that would burn 8 s of sleeps per batch before the same error.
    // Asserted by CALL COUNT (load-independent), never wall time.
    EmbedderSpecState.batches.clear()
    val wrongDim: ServiceEmbedder.BatchCall = (texts, _) => {
      EmbedderSpecState.batches.add(texts.size)
      texts.map(_ => Array.fill(3)(0.1f))
    }
    val svcWrong = new ServiceEmbedder(64, wrongDim, batchSize = 7)
    intercept[Exception] {
      svcWrong.embedFrame(
        spark.createDataFrame(Seq(Tuple1("hello world"))).toDF("chunk_text"),
        "chunk_text", "search_document", "embedding").collect()
    }
    assert(EmbedderSpecState.batches.size == 1,
      s"validation failure entered the transport retry loop " +
        s"(${EmbedderSpecState.batches.size} calls, expected 1)")

    libA.delete(); libB.delete()
  }

  test("rebuildIndex batches the unindexed re-embed through the bulk seam (ceil(n/batch) calls, not n)") {
    // chunks arrive PENDING — the reference's unindexed-chunk state
    // (created while the embedding service is down); the background
    // batch re-index (rebuildIndex here = background_tasks.py:260)
    // must embed them through the BATCHED seam, not one service
    // round-trip per chunk.
    EmbedderSpecState.reset()
    EmbedderSpecState.failOnce.set(false)
    val call: ServiceEmbedder.BatchCall = (texts, inputType) => {
      if (inputType == "search_document")
        EmbedderSpecState.batches.add(texts.size)
      texts.map { t =>
        val rnd = new scala.util.Random(t.hashCode.toLong)
        val v = Array.fill(64)(rnd.nextFloat() - 0.5f)
        val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        v.map(_ / n)
      }
    }
    val svc = new ServiceEmbedder(64, call, batchSize = 5,
      backoffMinMs = 1L, backoffMaxMs = 2L)
    val root = Files.createTempDirectory("graft-emb-c").toString
    val lib = new VectorLibrary(spark, root, "emb-c", embedder = svc)
    import spark.implicits._
    val n = 23
    // one input partition -> one pending store file -> one scan
    // partition, so the per-partition batch grouping is exactly
    // ceil(n/batchSize) (embedFrame batches WITHIN partitions — the
    // coordinator-free shape; a fragmented layout legitimately pays
    // one partial batch per fragment)
    val chunked = (0 until n).map(i =>
      (i.toLong, 0, s"pending chunk text number $i about spark joins", "s0"))
      .toDF("doc_id", "chunk_idx", "chunk_text", "source").coalesce(1)
    lib.addChunkedDocuments(chunked, deferEmbedding = true)
    assert(lib.unindexed.count() == n,
      "deferred ingest did not store pending chunks")
    assert(EmbedderSpecState.batches.isEmpty,
      "deferred ingest called the embedding service")
    // pending chunks are UNSEARCHABLE (the reference's unindexed
    // state): a store scan must not admit null-score rows into a
    // top-k tail
    assert(lib.search("spark joins", k = 10).count() == 0,
      "search returned pending (unembedded) chunks")

    lib.rebuildIndex()
    assert(lib.unindexed.count() == 0, "rebuildIndex left pending chunks")
    import scala.jdk.CollectionConverters._
    val sizes = EmbedderSpecState.batches.asScala.map(_.toInt).toSeq
    assert(sizes.sum == n, s"re-embedded ${sizes.sum} of $n pending chunks")
    // ceil(23/5) = 5 calls: the pending subset is one store file ->
    // one scan partition, so per-partition grouping fills batches. A
    // per-row embed() routing would show 23 single-text calls here.
    assert(sizes.size == math.ceil(n.toDouble / 5).toInt,
      s"unindexed re-embed did not batch: $sizes")
    // the re-embedded rows serve search like any others
    assert(lib.search("spark joins", k = 5).count() == 5)
    lib.delete()
  }
}
