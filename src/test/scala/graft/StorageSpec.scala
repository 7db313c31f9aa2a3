package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.VectorSearch

class StorageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("bucketed tables co-locate the join: no shuffle exchange") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    spark.sql("DROP TABLE IF EXISTS emb_a")
    spark.sql("DROP TABLE IF EXISTS emb_b")
    emb.select("vec_id", "label").write
      .bucketBy(8, "vec_id").sortBy("vec_id").saveAsTable("emb_a")
    emb.select("vec_id", "embedding").write
      .bucketBy(8, "vec_id").sortBy("vec_id").saveAsTable("emb_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("emb_a").join(spark.table("emb_b"), "vec_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == emb.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS emb_a")
      spark.sql("DROP TABLE IF EXISTS emb_b")
    }
  }

  test("quantized two-phase search recovers the exact top-10") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val overlaps = (0 until 5).map { qid =>
      val q = QueryVectors.of(emb, qid)
      val corpus = emb.filter(col("vec_id") =!= qid)
      val exact = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10, "cosine")
        .collect().map(_.getLong(0)).toSet
      val quant = VectorSearch.knnQuantized(corpus, q, "vec_id", "embedding", 10)
        .collect().map(_.getLong(0)).toSet
      (exact intersect quant).size / 10.0
    }
    val mean = overlaps.sum / overlaps.size
    info(f"quantized recall@10 over 5 queries: $mean%.2f")
    assert(mean >= 0.9, s"int8 rerank lost too much: $overlaps")
  }

  test("lsh recall@10 against exact search is measured and sane") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val recalls = (0 until 5).map { qid =>
      val q = QueryVectors.of(emb, qid)
      val corpus = emb.filter(col("vec_id") =!= qid)
      val exact = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 10, "cosine")
        .collect().map(_.getLong(0)).toSet
      val approx = VectorSearch.lshKnn(corpus, q, "vec_id", "embedding", 10)
        .collect().map(_.getLong(0)).toSet
      (exact intersect approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"lsh recall@10 over 5 queries: $mean%.2f (${recalls.mkString(", ")})")
    // sign-random-projection on isotropic gaussian data is the
    // hardest case; require better-than-random candidate quality.
    assert(mean >= 0.2, s"recall collapsed: $recalls")
  }

  test("ManifestedTree round-trips string partition values needing path escaping, and nulls") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.plans.ManifestedTree
    val root = Files.createTempDirectory("graft-tree-escape").toString + "/tree"
    val tree = new ManifestedTree(spark, root,
      StructType(Seq(StructField("source", StringType))))
    import spark.implicits._
    // values Spark must escape in directory names (space, colon,
    // equals, percent) plus a NULL (the Hive default-partition dir)
    val rows = Seq(
      (1L, "a b"), (2L, "c:d"), (3L, "e=f"), (4L, "g%h"), (5L, null))
      .toDF("id", "source")
    tree.appendCommitted(rows, 1000000L)
    val back = tree.open().select(col("id"), col("source"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(back == Map(1L -> Some("a b"), 2L -> Some("c:d"),
      3L -> Some("e=f"), 4L -> Some("g%h"), 5L -> None),
      s"escaped partition values did not round-trip: $back")
    // the manifest-planned read keeps partition pruning on the
    // escaped column
    assert(tree.open().where(col("source") === "e=f").count() == 1)
    // a second append commits more files under the SAME escaped dirs
    tree.appendCommitted(Seq((6L, "a b")).toDF("id", "source"), 1000000L)
    assert(tree.open().where(col("source") === "a b").count() == 2)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }
}
