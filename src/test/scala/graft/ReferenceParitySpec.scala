package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.VectorSearch

/**
 * Mirrors the reference service's own integration scenarios
 * (/root/reference/tests/test_integration_algorithms.py): every index
 * algorithm x similarity function returns results, score ranges hold,
 * empty/single/large-k edge cases behave, and search results on a
 * semantically-loaded corpus rank the related text on top.
 */
class ReferenceParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")

  private def query(qid: Long) =
    QueryVectors.of(emb, qid)
  private def corpus(qid: Long) = emb.filter(col("vec_id") =!= qid)

  test("every algorithm x similarity function returns non-empty ranked results") {
    val algorithms: Seq[(String, String) => Array[(Long, Double)]] = Seq(
      (m, _) => VectorSearch.knnFlat(corpus(1), query(1), "vec_id", "embedding", 5, m)
        .collect().map(r => (r.getLong(0), r.getDouble(1))),
      (m, _) => VectorSearch.lshKnn(corpus(1), query(1), "vec_id", "embedding", 5, m)
        .collect().map(r => (r.getLong(0), r.getDouble(1))),
      (m, _) => VectorSearch.gridKnn(corpus(1), query(1), "vec_id", "embedding", 5, m)
        .collect().map(r => (r.getLong(0), r.getDouble(1))))
    for (alg <- algorithms; metric <- Seq("cosine", "dot_product", "euclidean", "manhattan")) {
      val rs = alg(metric, "")
      assert(rs.nonEmpty, s"metric $metric")
      assert(rs.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
      if (metric == "cosine")
        assert(rs.forall { case (_, s) => s >= -1.0 && s <= 1.0 })
      if (metric == "euclidean" || metric == "manhattan")
        assert(rs.forall { case (_, s) => s >= 0.0 && s <= 1.0 })
    }
  }

  test("empty corpus search returns zero results (reference: empty library)") {
    val none = emb.filter(col("vec_id") < 0)
    assert(VectorSearch.knnFlat(none, query(0), "vec_id", "embedding", 5, "cosine")
      .collect().isEmpty)
  }

  test("single-vector corpus returns exactly one result") {
    val one = emb.filter(col("vec_id") === 5)
    val rs = VectorSearch.knnFlat(one, query(0), "vec_id", "embedding", 10, "cosine").collect()
    assert(rs.length == 1 && rs.head.getLong(0) == 5L)
  }

  test("k larger than corpus returns the whole corpus, still ranked") {
    val small = emb.filter(col("vec_id") < 6 && col("vec_id") > 0)
    val rs = VectorSearch.knnFlat(small, query(0), "vec_id", "embedding", 100, "cosine").collect()
    assert(rs.length == 5)
    assert(rs.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("k = 0 returns nothing") {
    assert(VectorSearch.knnFlat(corpus(0), query(0), "vec_id", "embedding", 0, "cosine")
      .collect().isEmpty)
  }

  test("semantic ranking: related text scores above unrelated (reference cosine accuracy)") {
    val root = Files.createTempDirectory("graft-parity").toString
    val lib = new VectorLibrary(spark, root, "parity")
    import spark.implicits._
    val docs = Seq(
      (1L, "machine learning models train on large datasets", "ml"),
      (2L, "deep learning neural networks learn representations from datasets", "ml"),
      (3L, "the recipe calls for two cups of flour and butter", "cooking"),
      (4L, "bake the cake at medium heat until golden", "cooking"))
      .toDF("doc_id", "text", "source")
    lib.addDocuments(docs)
    val top = lib.search("neural network machine learning dataset", k = 4).collect()
    val topDocs = top.take(2).map(_.getString(0)).map(_.split("#")(1).toLong).toSet
    assert(topDocs == Set(1L, 2L), s"expected ml docs on top, got ${top.mkString(";")}")
    lib.delete()
  }

  test("unknown similarity function is rejected (reference 422)") {
    assertThrows[IllegalArgumentException] {
      VectorSearch.similarity("not_a_metric", col("a"), col("b"))
    }
  }
}
