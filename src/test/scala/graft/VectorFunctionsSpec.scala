package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** `body` with SQL conf `key` set to `value`; the previous value (or
    * none) is restored afterwards. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` with the two-phase single searches in their two-job form:
    * no frame is under a small-relation threshold of -1. */
  def twoJobForm[A](body: => A): A = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)
}

class VectorFunctionsSpec extends AnyFunSuite {
  import GraftFunctions._
  lazy val spark = SparkTestSession.spark

  test("cosine of a vector with itself is 1") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val row = emb.select(round(cosineSim(col("embedding"), col("embedding")), 6).as("c"))
      .limit(5).collect()
    assert(row.forall(_.getDouble(0) == 1.0))
  }

  test("similarity metrics agree with hand computation") {
    val df = spark.sql("SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) a, array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)) b")
    val r = df.select(
      dotProduct(col("a"), col("b")).as("dot"),
      cosineSim(col("a"), col("b")).as("cos"),
      l2Distance(col("a"), col("b")).as("l2"),
      l1Distance(col("a"), col("b")).as("l1"),
      vecNorm(col("a")).as("nrm")).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 11.0 / (math.sqrt(5.0) * math.sqrt(25.0))) < 1e-12)
    assert(math.abs(r.getDouble(2) - math.sqrt(8.0)) < 1e-12)
    assert(r.getDouble(3) == 4.0)
    assert(math.abs(r.getDouble(4) - math.sqrt(5.0)) < 1e-12)
  }

  test("zero-norm cosine is 0 (reference semantics)") {
    val df = spark.sql("SELECT array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)) a, array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)) b")
    assert(df.select(cosineSim(col("a"), col("b"))).collect()(0).getDouble(0) == 0.0)
  }

  test("embed is deterministic, unit-norm, and similarity-preserving") {
    val df = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words about spark engines")
    )).toDF("id", "text")
    val e = df.select(col("id"), embedText(col("text")).as("v"))
    val norms = e.select(vecNorm(col("v")).as("n")).collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    val pairs = e.as("x").crossJoin(e.as("y"))
      .select(col("x.id").as("i"), col("y.id").as("j"),
        cosineSim(col("x.v"), col("y.v")).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) > pairs((1L, 3L)))
    assert(math.abs(pairs((1L, 1L)) - 1.0) < 1e-6)
  }

  test("minhash/simhash deterministic and length-correct") {
    val df = spark.createDataFrame(Seq((1L, "a b c d e f g h i j"))).toDF("id", "text")
    val r = df.select(minhashSig(col("text")).as("mh"), simhash(col("text")).as("sh")).collect()(0)
    assert(r.getSeq[Long](0).length == 64)
    val r2 = df.select(minhashSig(col("text")).as("mh"), simhash(col("text")).as("sh")).collect()(0)
    assert(r.getSeq[Long](0) == r2.getSeq[Long](0) && r.getLong(1) == r2.getLong(1))
  }

  test("lsh buckets within range") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val r = emb.select(lshBuckets(col("embedding"), 8, 8, 42L).as("b")).limit(10).collect()
    r.foreach { row =>
      val bs = row.getSeq[Int](0)
      assert(bs.length == 8 && bs.forall(b => b >= 0 && b < 256))
    }
  }
}
