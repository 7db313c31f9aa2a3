package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scale probe for the round-4 mutation path: a targeted delete on a
 * large library must cost the VICTIM partitions, not the index size.
 * Builds a replicated-document library with all three derived indexes
 * (bucket-partitioned LSH, cluster-partitioned IVF, cell-partitioned
 * grid), then times a one-document copy-on-write delete against the
 * full re-derive it replaced (the old swapStore behavior). Evidence
 * for PLANS.md.
 */
object StressCow {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 10
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)

    val root = java.nio.file.Files.createTempDirectory("graft-cow-stress").toString
    val lib = new VectorLibrary(spark, root, "cow")
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val big = docs.crossJoin(spark.range(copies))
      .select((col("id") * 10000000 + col("doc_id")).as("doc_id"),
        col("text"), col("source"))

    val t0 = System.nanoTime()
    lib.addDocuments(big)
    val nChunks = lib.chunks.count()
    println(f"[cow] ingest: ${(System.nanoTime() - t0) / 1e9}%.1fs  ($nChunks chunks)")

    def timed(name: String)(body: => Unit): Double = {
      val t = System.nanoTime(); body
      val s = (System.nanoTime() - t) / 1e9
      println(f"[cow] $name: $s%.2fs")
      s
    }
    timed("build lsh_partitioned (8x256 dirs)") { lib.buildPartitionedIndex() }
    timed("build ivf (16 cells)") { lib.buildIvfIndex() }
    timed("build grid (4^4 cells)") { lib.buildGridIndex() }

    // the old swapStore cost: every derived index re-derives in full
    val fullRederive =
      timed("FULL re-derive (old delete cost)") {
        lib.buildPartitionedIndex(); lib.buildIvfIndex(); lib.buildGridIndex()
      }

    // the copy-on-write delete: one victim document (its chunks touch
    // at most numTables*chunks LSH dirs, a few IVF cells, a few grid
    // cells, one source dir)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val dur = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
        System.err.println(s"[stage] id=${si.stageId} tasks=${si.numTasks} " +
          s"wall=${dur.getOrElse(-1L)}ms ${si.name.takeWhile(_ != '\n').take(90)}")
      }
    })
    val victim = big.select(col("doc_id")).head.getLong(0)
    val cow =
      timed("copy-on-write delete of ONE document") {
        lib.deleteDocuments(col("doc_id") === victim)
      }
    println(f"[cow] ratio: full/cow = ${fullRederive / cow}%.1fx")

    // integrity: victims gone everywhere (manifest view — the victim
    // BYTES stay on disk for restoreTo until vacuum), serving works
    assert(lib.chunks.filter(col("doc_id") === victim).count() == 0)
    val lshManifest = new graft.plans.ManifestedTree(spark,
      s"$root/cow/lsh_index",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tbl",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType)))).open()
    assert(lshManifest
      .filter(col("chunk_id").startsWith(s"cow#$victim#")).count() == 0)
    println("[cow] post-delete integrity OK; search: " +
      lib.searchApprox("spark join stream table filter", k = 5).count() + " hits")
    spark.stop()
  }
}
