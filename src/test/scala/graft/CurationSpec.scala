package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Round-5 operators: clustering card, SemDeDup, PCA projection,
  * normalized dedup, Gopher rules, temperature mixing, snapshot diff. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = SparkTestSession.sfDir
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")
  private def emb = Tables.load(spark, sfDir, "embeddings")

  private lazy val centers: Seq[(Int, Array[Double])] = {
    val (model, _) = IvfIndex.build(emb.select(col("vec_id"), col("embedding")),
      "embedding", nCentroids = 8)
    IvfIndex.centersOf(model)
  }

  test("clusterCard partitions the corpus and exemplars are nearest members") {
    val card = Clustering.clusterCard(emb, centers).collect()
    assert(card.map(_.getLong(1)).sum == emb.count())
    assert(card.forall(_.getDouble(2) >= 0.0))
    // exemplar must belong to its cluster and be its argmin-(sqd, id)
    val a = Clustering.assignWithDist(
      emb.select(col("vec_id"), col("embedding")), "embedding", centers)
      .select(col("cluster"), col("vec_id"), col("sqd")).collect()
      .groupBy(_.getInt(0))
    card.foreach { r =>
      val members = a(r.getInt(0)).map(m => (m.getDouble(2), m.getLong(1)))
      assert(members.min._2 == r.getLong(3),
        s"cluster ${r.getInt(0)} exemplar mismatch")
    }
  }

  test("semanticDedup pairs are within-cluster, above threshold, one per vec") {
    val out = Clustering.semanticDedup(emb, centers, threshold = 0.3).collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    val cl = IvfIndex.assignExact(emb.select(col("vec_id"), col("embedding")),
      "embedding", centers)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) < r.getLong(0))
      assert(cl(r.getLong(0)) == cl(r.getLong(1)))
      assert(r.getDouble(2) >= 0.3)
    }
  }

  test("embeddingOutliers flags a planted far-away vector, not the bulk") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val planted = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(99999L, Array.fill(64)(50.0f).toSeq)), 1), schema)
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(planted)
    val out = Clustering.embeddingOutliers(corpus, centers).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out(99999L), "planted far vector not flagged")
    // the gate is a tail flag, not a bulk filter
    assert(out.values.count(identity) < out.size / 10)
  }

  test("pca projection equals the manual dot product; sign convention holds") {
    val comps = Pca.fit(emb, "embedding", 4)
    assert(comps.forall { c =>
      val m = c.indices.maxBy(i => (math.abs(c(i)), -i)); c(m) >= 0
    })
    val five = emb.filter(col("vec_id") < 5)
    val proj = Pca.project(five, comps).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val vecs = five.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    for ((id, v) <- vecs; (c, j) <- comps.zipWithIndex) {
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * c(i); i += 1 }
      assert(math.abs(proj((id, j)) - math.floor(dot * 1e6 + 0.5) / 1e6) < 2e-6 ||
        math.abs(proj((id, j)) - dot) < 2e-6)
    }
    // projection output is (k rows per vector)
    assert(Pca.project(five, comps).count() == 5 * comps.length)
  }

  test("normalized dedup unifies case/punctuation/whitespace variants") {
    val d = Seq((1L, "Hello, World!"), (2L, "hello   world"), (3L, "unrelated doc"))
      .toDF("doc_id", "text")
    val out = Dedup.normalized(d).collect()
    assert(out.length == 2)
    val dup = out.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 1L)
  }

  test("substringDup flags shared spans that whole-doc dedup cannot see") {
    val boiler = (1 to 25).map(i => s"license term $i applies").mkString(" ")
    val d = Seq(
      (1L, boiler + " document one unique tail content here"),
      (2L, boiler + " document two entirely different ending text"),
      (3L, "standalone text with no shared spans at all " +
        (1 to 20).map(i => s"unique$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.substringDup(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    // docs 1 and 2 share a 100-token boilerplate prefix -> many shared
    // 20-token windows; doc 3 shares none
    assert(out(1L).getLong(2) > 0 && out(2L).getLong(2) > 0)
    assert(out(3L).getLong(2) == 0 && !out(3L).getBoolean(4))
    assert(out(1L).getBoolean(4) && out(2L).getBoolean(4))
    // identical docs duplicate EVERY window
    val twin = Seq((1L, boiler), (2L, boiler)).toDF("doc_id", "text")
    val t = Dedup.substringDup(twin).collect()
    assert(t.forall(_.getDouble(3) == 1.0))
  }

  test("qualityClassifier: logit is the documented linear blend; keep = sign") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      (1 to 60).map(i => s"keeps running with steady pace number$i").mkString(" ")
    val junk = "zzzzzzzzzzzz qqqqqqqqqqqqq xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"
    val d = Seq((1L, good), (2L, junk), (3L, "")).toDF("doc_id", "text")
    val out = Curation.qualityClassifier(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(7), "fluent long doc must pass")
    assert(!out(2L).getBoolean(7), "consonant junk must fail")
    assert(!out(3L).getBoolean(7), "empty doc must fail")
    // recompute the logit from the emitted (quantized) features: the
    // quantized blend must sit within quantization error of the logit
    val r = out(1L)
    val z = -2.5 + 2.0 * r.getDouble(1) + 1.0 * r.getDouble(2) +
      1.0 * r.getDouble(3) + 1.5 * r.getDouble(4) + 1.0 * r.getDouble(5)
    assert(math.abs(z - r.getDouble(6)) < 1e-5)
  }

  test("gopherQuality applies first-failing-rule-wins over crafted docs") {
    val filler = (1 to 30).map(i => s"the quick brown fox word$i").mkString(" ")
    val d = Seq(
      (1L, "too short"),                                   // word_count
      (2L, filler),                                        // ok
      (3L, (1 to 40).map(_ => "a b c d").mkString(" ")),   // mean_word_len (< 3)
      (4L, filler + " " + "#".*(40)),                      // symbol_ratio
      (5L, (1 to 25).map(i => s"- bullet item $i here now").mkString("\n")), // bullet_lines
      (6L, (1 to 30).map(_ => "42 7 99 123").mkString(" ")) // mean_word_len fires before non_alpha
    ).toDF("doc_id", "text")
    val out = Curation.gopherQuality(d, minWords = 20)
      .collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(out(1L) == "word_count")
    assert(out(2L) == "ok")
    assert(out(3L) == "mean_word_len")
    assert(out(4L) == "symbol_ratio")
    assert(out(5L) == "bullet_lines")
    assert(out(6L) == "mean_word_len")
  }

  test("mixTemperature upweights small sources and is deterministic") {
    val (rates, out) = Curation.mixTemperature(docs, temperature = 0.7,
      targetFraction = 0.5)
    val counts = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // kept-rate ordering: smaller source => rate_bp at least as high
    val bySize = counts.toSeq.sortBy(_._2).map(_._1)
    bySize.sliding(2).foreach { case Seq(small, large) =>
      assert(rates(small) >= rates(large), s"$small vs $large")
    case _ => ()
    }
    val rows = out.collect()
    rows.foreach(r => assert(r.getBoolean(4) == (r.getInt(2) < r.getInt(3))))
    val (rates2, out2) = Curation.mixTemperature(docs, temperature = 0.7,
      targetFraction = 0.5)
    assert(rates2 == rates)
    assert(out2.collect().map(_.toString).sameElements(rows.map(_.toString)))
  }

  test("clusterSample caps every cluster and ranks contiguously") {
    val out = Clustering.clusterSample(emb, centers, cap = 10).collect()
    assert(out.length == emb.count())
    val byCluster = out.groupBy(_.getInt(1))
    byCluster.values.foreach { rows =>
      assert(rows.count(_.getBoolean(3)) == math.min(10, rows.length))
      assert(rows.map(_.getInt(2)).sorted.sameElements(1 to rows.length))
    }
    val again = Clustering.clusterSample(emb, centers, cap = 10).collect()
    assert(again.map(_.toString).sorted.sameElements(out.map(_.toString).sorted))
  }

  test("embeddingDrift reports zero self-drift and 64 dims") {
    val zero = Clustering.embeddingDrift(emb, emb).collect()
    assert(zero.length == 64)
    assert(zero.forall(_.getDouble(3) == 0.0))
    val split = Clustering.embeddingDrift(emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1)).collect()
    assert(split.length == 64)
    split.foreach { r =>
      assert(math.abs(r.getDouble(3) -
        math.abs(r.getDouble(2) - r.getDouble(1))) < 2e-6)
    }
  }

  test("pca knn re-ranks exactly and returns k descending scores") {
    val comps = Pca.fit(emb, "embedding", 8)
    val q = QueryVectors.of(emb, 0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val out = Pca.knn(corpus, comps, q, "vec_id", "embedding", 10).collect()
    assert(out.length == 10)
    assert(out.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    // phase-2 scores are EXACT cosines, not approximations
    val exact = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 2000, "cosine")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.foreach(r => assert(exact(r.getLong(0)) == r.getDouble(1)))
  }

  test("ivfpq recallSweep covers the grid and agrees with the probe at depth 4") {
    val corpus = emb.filter(col("vec_id") >= 5).select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val idx0 = IvfPq.train(corpus, "embedding")
    val idx = idx0.copy(encoded = idx0.encoded.persist())
    val sweep = IvfPq.recallSweep(idx, qs, "vec_id", "embedding", 10).collect()
    assert(sweep.length == 5 * 3)
    assert(sweep.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // depth-4 recall must equal the recall of the actual depth-4 probe
    val probed = IvfPq.searchBatch(idx, qs, "vec_id", "embedding", 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = VectorSearch.knnBatch(corpus, qs, "vec_id", "embedding",
      10, "euclidean").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantAt4 = qs.collect().map(_.getLong(0)).map { qid =>
      qid -> (probed.filter(_._1 == qid).map(_._2)
        .intersect(exact.filter(_._1 == qid).map(_._2)).size / 10.0)
    }.toMap
    sweep.filter(_.getInt(1) == 4).foreach { r =>
      assert(math.abs(r.getDouble(2) - wantAt4(r.getLong(0))) < 1e-9,
        s"query ${r.getLong(0)}")
    }
    idx.encoded.unpersist()
  }

  test("corpusDiff labels added/removed/changed/unchanged") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val neu = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val out = Curation.corpusDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }
}
