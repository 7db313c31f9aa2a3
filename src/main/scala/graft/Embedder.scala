package graft

import org.apache.spark.sql.{Column, DataFrame, Row}

/**
 * Pluggable embedding provider — the injectable seam the reference
 * keeps between its services and the embedding backend
 * (/root/reference/services/embedding_service.py:58-233: a provider
 * object with doc/query input types, swapped in tests for a fake).
 *
 * The library calls `embed` with the chunk/query text column and the
 * reference's input type (`search_document` at ingest,
 * `search_query` at search time). Implementations return a column of
 * `Array[Float]` of length `dim`. A user bringing real embeddings
 * implements this trait — as a batched service call per partition
 * ([[ServiceEmbedder]]), or a join against a pre-computed embedding
 * table — and passes it to [[VectorLibrary]]; no library code
 * changes. The default [[DeterministicEmbedder]] keeps the
 * zero-egress seeded stand-in with the identical shape (dim,
 * L2-normalized float vectors, typed inputs).
 */
trait Embedder extends Serializable {
  /** Embedding dimension; validated against the library's. */
  def dim: Int

  /** Embed a text column. `inputType` is `search_document` or
    * `search_query` (reference embedding_service.py:169-233);
    * implementations may route the two through distinct encoders
    * (two-tower) or ignore the distinction (single-tower). */
  def embed(text: Column, inputType: String): Column

  /** Bulk form used on the INGEST path, where texts arrive as whole
    * DataFrames. The default projects [[embed]] over the column —
    * right for any expression-backed embedder (stays inside
    * whole-stage codegen, zero plan change). Service-backed
    * implementations override it to batch per partition (the
    * reference's generate_embeddings_batch contract,
    * embedding_service.py:191-233); above this seam the doc/query
    * plan shapes are identical either way. */
  def embedFrame(df: DataFrame, textCol: String, inputType: String,
                 outCol: String): DataFrame =
    df.withColumn(outCol,
      embed(org.apache.spark.sql.functions.col(textCol), inputType))
}

/** Default provider: the deterministic seeded hash embedder (the
  * Cohere stand-in — single-tower, so both input types share one
  * projection and the doc/query spaces stay aligned). */
final class DeterministicEmbedder(val dim: Int = 64, seed: Long = 42L)
    extends Embedder {
  def embed(text: Column, inputType: String): Column =
    GraftFunctions.embedTextTyped(text, inputType, dim, seed)
}

object ServiceEmbedder {
  /** One service round-trip, executed on EXECUTORS: `texts` (already
    * validated non-empty, at most `batchSize` of them) and the input
    * type → exactly one `dim`-length vector per text, in order.
    * Implementations must be Serializable (an HTTP/gRPC client is
    * typically constructed lazily inside the function). */
  type BatchCall = (Seq[String], String) => Seq[Array[Float]]
}

/**
 * Production-shaped provider: routes embedding through an injected
 * remote-call function with the reference service's exact batching
 * and resilience contract (embedding_service.py):
 *
 *  - fixed-size batches, never exceeding `batchSize` (the service
 *    REJECTS oversized requests — :127, Cohere's recommended 96);
 *  - empty/whitespace texts rejected before any call (:131, :207);
 *  - per-call retry with exponential backoff on transport errors
 *    (:104-107 tenacity stop_after_attempt(3) + wait_exponential);
 *  - a loud count-mismatch check on every response (:149).
 *
 * On the bulk ingest path the batching runs per PARTITION
 * (`mapPartitions`), so one executor core drives one in-flight
 * request stream — the Spark analog of the reference's sequential
 * batch loop, and the shape that scales to 1000 executors without a
 * coordinator. The transport itself is injected
 * ([[ServiceEmbedder.BatchCall]]): the zero-egress build exercises
 * the full plumbing against an in-JVM fake; a deployment passes the
 * real client call. The query path (one query text per search) uses
 * the single-text call, mirroring generate_query_embedding (:233).
 */
final class ServiceEmbedder(
    val dim: Int,
    call: ServiceEmbedder.BatchCall,
    batchSize: Int = 96,
    maxRetries: Int = 3,
    backoffMinMs: Long = 4000L,
    backoffMaxMs: Long = 10000L) extends Embedder {
  require(batchSize > 0 && maxRetries >= 1)

  /** The reference's validated, retried call (never more than
    * `batchSize` texts; response arity and dim checked loudly). */
  private def callValidated(texts: Seq[String],
                            inputType: String): Seq[Array[Float]] = {
    require(texts.size <= batchSize,
      s"batch size ${texts.size} exceeds maximum $batchSize")
    require(texts.forall(t => t != null && t.trim.nonEmpty),
      "cannot embed empty or whitespace-only texts")
    var attempt = 1
    while (true) {
      var out: Seq[Array[Float]] = null
      var retried = false
      try out = call(texts, inputType)
      catch {
        // TRANSPORT errors retry (the reference's tenacity wraps the
        // HTTP call, :104-107: wait_exponential(multiplier=1, min=4,
        // max=10)); the validation below stays OUTSIDE this recovery
        // — a wrong arity or dim is a deterministic deployment
        // misconfiguration, and retrying it would only mute the
        // documented loud check into backoff sleeps (8 s per batch
        // at the defaults) before the same failure surfaces.
        case e: Throwable if attempt < maxRetries =>
          Thread.sleep(math.min(backoffMaxMs,
            math.max(backoffMinMs, 1000L << attempt)))
          attempt += 1
          retried = true
      }
      if (!retried) {
        // the explicit `retried` flag (not an out-null probe) keeps a
        // misbehaving transport that RETURNS null from spinning this
        // loop hot forever — it lands here and fails the validation
        require(out != null, "embedding service returned null")
        require(out.size == texts.size,
          s"expected ${texts.size} embeddings, got ${out.size}")
        out.foreach(v => require(v.length == dim,
          s"service returned dim ${v.length}, expected $dim"))
        return out
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Query path: single-text call per row (one query text per search
    * — the reference's generate_query_embedding shape). */
  def embed(text: Column, inputType: String): Column = {
    val one = org.apache.spark.sql.functions.udf(
      (t: String) => callValidated(Seq(t), inputType).head)
    one(text)
  }

  /** Ingest path: per-partition batched calls. */
  override def embedFrame(df: DataFrame, textCol: String,
                          inputType: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val outSchema = df.schema.add(outCol, ArrayType(FloatType, false))
    val idx = df.schema.fieldIndex(textCol)
    val bs = batchSize
    df.mapPartitions { rows =>
      rows.grouped(bs).flatMap { group =>
        val vecs = callValidated(group.map(_.getString(idx)), inputType)
        group.iterator.zip(vecs.iterator)
          .map { case (r, v) => Row.fromSeq(r.toSeq :+ v) }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
