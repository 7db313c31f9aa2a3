package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.ManifestedTree

/** The generation-numbered manifest discipline: atomic installs with
  * no reader window, O(batch) delta commits with bounded chains,
  * typed empty generations, and loud failure over silent listing. */
class ManifestedTreeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val pSchema = StructType(Seq(StructField("bucket", LongType)))

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshTree(): (ManifestedTree, String) = {
    val root = Files.createTempDirectory("graft-mtree").toString
    (new ManifestedTree(spark, root, pSchema), root)
  }

  private def rows(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong, s"doc-$i", i.toLong % 4)).toDF("id", "txt", "bucket")

  test("delta commits: N appends resolve to the full row set; chain stays bounded; rebase prunes") {
    val (tree, root) = freshTree()
    // enough rebases to overflow the KeepFulls retention window
    val batches = ManifestedTree.RebaseEvery * (ManifestedTree.KeepFulls + 1) + 3
    (0 until batches).foreach { b =>
      tree.appendCommitted(rows(b * 10 until (b + 1) * 10), 1000000L)
    }
    assert(tree.open().count() == batches * 10L,
      "delta chain lost or duplicated rows")
    assert(tree.open().where(col("bucket") === 1).count() ==
      (0 until batches * 10).count(_ % 4 == 1),
      "partition pruning over a delta chain returned wrong rows")
    // chain bound: at most 1 full + RebaseEvery deltas live per chain,
    // and at most KeepFulls chains (current + grace + restore/epoch
    // horizon) on disk
    val manifests = fs.globStatus(new Path(s"$root/_manifest.*")).toSeq
      .map(_.getPath.getName).filterNot(_ == "_manifest.seal")
    assert(manifests.count(_.endsWith(".full.txt")) <= ManifestedTree.KeepFulls,
      s"rebase did not prune old fulls: $manifests")
    assert(manifests.size <= ManifestedTree.KeepFulls * (ManifestedTree.RebaseEvery + 1),
      s"manifest files unbounded: ${manifests.size}")
    // a fresh reader (no writer state) resolves the same set
    val reader = new ManifestedTree(spark, root, pSchema)
    assert(reader.open().count() == batches * 10L)
    fs.delete(new Path(root), true)
  }

  test("no reader window: a reader racing continuous commits never sees a listing-planned frame") {
    val (tree, root) = freshTree()
    tree.appendCommitted(rows(0 until 40), 1000000L)
    // Plant an orphan a LISTING reader would adopt (the round-7 gap:
    // delete-then-rename left a window where open() fell back to
    // spark.read.parquet(root) and double-counted).
    val dataFile = ManifestedTree.listTree(spark, root, None).head._1
    val orphan = new Path(s"$root/bucket=0/part-orphan-crashed.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$root/$dataFile"),
      fs, orphan, false, spark.sparkContext.hadoopConfiguration)

    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      try {
        while (!stop) {
          // a FRESH tree instance per read: no cached state, full
          // disk-resolve every time — the racing-open shape
          val n = new ManifestedTree(spark, root, pSchema)
            .readManifest().map(_.size).getOrElse(-1)
          if (n == -1) failure = Some("reader saw NO manifest mid-commit")
          else if (ManifestedTree.liveManifestText(spark, root)
              .contains("part-orphan")) failure = Some("reader adopted an orphan")
        }
      } catch { case t: Throwable => failure = Some(s"reader threw: $t") }
    })
    reader.start()
    try {
      // continuous commits, crossing several rebase boundaries (the
      // old design's vulnerable instant was inside every one of these)
      (0 until ManifestedTree.RebaseEvery * 2 + 5).foreach { b =>
        tree.appendCommitted(rows(100 + b * 2 until 102 + b * 2), 1000000L)
        assert(failure.isEmpty, failure.getOrElse(""))
      }
    } finally { stop = true; reader.join(10000) }
    assert(failure.isEmpty, failure.getOrElse(""))
    fs.delete(new Path(root), true)
  }

  test("empty generation opens as a typed empty frame, never the listing") {
    val (tree, root) = freshTree()
    tree.appendCommitted(rows(0 until 20), 1000000L)
    val schemaBefore = tree.open().schema
    // delete-everything: a commitSwap that removes every live file
    val victims = tree.readManifest().get.map(e => s"$root/${e._1}")
    tree.commitSwap(victims, Seq.empty)
    // the dead files are still ON DISK (vacuum not run) — a listing
    // fallback would resurrect all 20 rows
    val opened = tree.open()
    assert(opened.count() == 0, "empty generation read rows (listing fallback?)")
    assert(opened.schema == schemaBefore,
      s"empty frame lost the schema record: ${opened.schema} vs $schemaBefore")
    // and it composes: filters/projections analyze against real columns
    assert(opened.where(col("bucket") === 2).select("id", "txt").count() == 0)
    fs.delete(new Path(root), true)
  }

  test("sealed tree with no readable generation fails loudly instead of listing") {
    val (tree, root) = freshTree()
    tree.appendCommitted(rows(0 until 12), 1000000L)
    // simulate total manifest loss (torn copy, bad vacuum) with data
    // files — orphans included — still on disk
    fs.globStatus(new Path(s"$root/_manifest.*")).foreach { s =>
      if (s.getPath.getName != "_manifest.seal") fs.delete(s.getPath, false)
    }
    val reader = new ManifestedTree(spark, root, pSchema)
    val e = intercept[IllegalStateException](reader.open())
    assert(e.getMessage.contains("seal"), s"wrong failure: ${e.getMessage}")
    fs.delete(new Path(root), true)
  }

  test("snapshot reads and rollback: openAt replays a retained generation; rollbackTo restores it forward") {
    val (tree, root) = freshTree()
    tree.appendCommitted(rows(0 until 20), 1000000L)
    val gen1 = tree.generations().last._1
    tree.appendCommitted(rows(100 until 130), 1000000L)
    val gen2 = tree.generations().last._1
    assert(tree.open().count() == 50)
    // time travel: the pre-append snapshot is still resolvable
    assert(tree.openAt(gen1).count() == 20, "snapshot read saw the append")
    assert(tree.openAt(gen2).count() == 50)
    // a "botched" delete-everything commit...
    val victims = tree.readManifest().get.map(e => s"$root/${e._1}")
    tree.commitSwap(victims, Seq.empty)
    assert(tree.open().count() == 0)
    // ...rolls back FORWARD: one manifest commit, no data movement,
    // history intact (the botched generation stays resolvable)
    val botched = tree.generations().last._1
    tree.rollbackTo(gen2)
    assert(tree.open().count() == 50, "rollback did not restore the live set")
    assert(tree.openAt(botched).count() == 0, "history was rewritten")
    assert(tree.generations().last._1 > botched, "rollback must commit forward")
    // outside the retained window: loud, never a listing
    val e = intercept[IllegalArgumentException](tree.openAt(-1L))
    assert(e.getMessage.contains("retained"))
    fs.delete(new Path(root), true)
  }

  test("re-adding a live path via a delta replaces the entry, never duplicates it") {
    val (tree, root) = freshTree()
    tree.appendCommitted(rows(0 until 40), 1000000L)
    val before = tree.open().count()
    // a swap that re-commits an already-live file under its own path
    // (an in-place rewrite): the writer's CACHED state must apply the
    // same keyed-map discipline as a fresh reader's disk resolve — a
    // plain append would double-plan the file in the writer's own open()
    val entry = tree.listFiles(None).head
    tree.commitSwap(Nil, Seq(entry))
    assert(tree.open().count() == before,
      "writer cache double-planned a re-added live file")
    val reader = new ManifestedTree(spark, root, pSchema)
    assert(reader.open().count() == before,
      "disk-resolved state diverged from the writer's cache")
    fs.delete(new Path(root), true)
  }

  test("copy-on-write swap and dir replacement commit as deltas, not full rewrites") {
    val (tree, root) = freshTree()
    tree.appendCommitted(rows(0 until 40), 1000000L)
    val genBefore = fs.globStatus(new Path(s"$root/_manifest.*")).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".txt")).max
    val filesBefore = tree.readManifest().get.size
    val rowsBefore = tree.open().count()
    val victim = tree.readManifest().get.head
    tree.commitSwap(Seq(s"$root/${victim._1}"), Seq.empty)
    val deltas = fs.globStatus(new Path(s"$root/_manifest.*")).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".delta.txt"))
    assert(deltas.exists(_ > genBefore), "swap did not commit a delta")
    assert(tree.readManifest().get.size == filesBefore - 1)
    assert(tree.open().count() < rowsBefore, "victim rows still planned")
    // the delta file is O(batch): one removal line (+ no schema header)
    val deltaLen = fs.getFileStatus(new Path(s"$root/${deltas.max}")).getLen
    assert(deltaLen < 200, s"swap delta unexpectedly large: $deltaLen bytes")
    fs.delete(new Path(root), true)
  }

  test("two handles alternating commits: a stale cached head refreshes and re-derives, never overwrites") {
    val (a, root) = freshTree()
    val b = new ManifestedTree(spark, root, pSchema)
    // alternate appends through two handles of the same tree — the
    // lease-holder-alternation shape. Each handle's cached head goes
    // stale the moment the other commits; a blind st.gen+1 install
    // would silently OVERWRITE the other's generation file on a local
    // fs (POSIX rename) and de-reference its rows.
    a.appendCommitted(rows(0 until 10), 1000000L)
    b.appendCommitted(rows(10 until 20), 1000000L)
    a.appendCommitted(rows(20 until 30), 1000000L) // a's cache is 1 behind
    b.appendCommitted(rows(30 until 40), 1000000L) // b's cache is 1 behind

    // every batch from BOTH writers is visible to a fresh reader
    val reader = new ManifestedTree(spark, root, pSchema)
    assert(reader.open().count() == 40,
      "a stale-cached writer de-referenced another writer's commit")
    // and the generation chain has no duplicate numbers (a full and a
    // delta sharing a number would shadow the delta silently)
    val gens = reader.generations().map(_._1)
    assert(gens.distinct == gens, s"duplicate generation numbers: $gens")
    fs.delete(new Path(root), true)
  }

  test("vacuum history protection: retained-generation files survive any default vacuum; retainNone truncates") {
    val (tree, root) = freshTree()
    tree.appendCommitted(rows(0 until 40), 1000000L)
    val gen0 = tree.generations().last._1
    val rows0 = tree.open().count()
    // de-reference files (a COW-delete shape): gen0 still references
    // them — it is exactly what openAt(gen0)/rollbackTo resolve
    val victims = tree.readManifest().get.take(2).map(_._1)
    tree.commitSwap(victims.map(v => s"$root/$v"), Seq.empty)
    assert(tree.open().count() < rows0)

    // neither the DEFAULT window nor RETAIN-0 may touch a file a
    // retained generation references — the restore horizon is
    // structural, not a race against the clock
    assert(tree.vacuum() == 0, "default vacuum deleted retained-generation files")
    assert(tree.vacuum(0L) == 0, "window-0 vacuum pierced the history protection")
    assert(tree.openAt(gen0).count() == rows0,
      "snapshot read broken after default vacuums")

    // compact's inline cleanup follows the same rule: the replaced
    // fragments stay (pre-compact generation), orphans-only removal
    val preCompactGen = tree.generations().last._1
    val preCompactLive = tree.readManifest().get.map(_._1).toSet
    tree.compact(maxFilesPerPartition = 0, maxRecordsPerFile = 1000000L,
      sortCols = Seq("id"))
    preCompactLive.foreach { f =>
      assert(fs.exists(new Path(s"$root/$f")),
        s"compact's inline cleanup deleted $f — referenced by retained gen $preCompactGen")
    }
    assert(tree.openAt(gen0).count() == rows0,
      "snapshot read broken after compaction")

    // the explicit switch truncates: victims and fragments reclaim,
    // the current generation stays intact
    val liveRows = tree.open().count()
    assert(tree.vacuum(0L, retainNone = true) > 0, "retainNone reclaimed nothing")
    victims.foreach(v => assert(!fs.exists(new Path(s"$root/$v")),
      s"retainNone vacuum left victim $v"))
    tree.invalidate()
    assert(tree.open().count() == liveRows,
      "current generation damaged by retainNone vacuum")
    fs.delete(new Path(root), true)
  }

  test("retainNone truncation is structural: pruned history reads as a clean error, not a dangling generation") {
    val (tree, root) = freshTree()
    tree.appendCommitted(rows(0 until 20), 1000000L)
    val gen0 = tree.generations().last._1
    // a rebuild-shaped REPLACE: gen0's files become history-retained
    val fresh = rows(100 until 130)
    fresh.write.partitionBy("bucket").parquet(s"$root/.fresh_tmp")
    val freshFiles = ManifestedTree.listTree(spark, s"$root/.fresh_tmp", None)
    freshFiles.foreach { case (rel, _) =>
      val dst = new Path(s"$root/$rel")
      fs.mkdirs(dst.getParent)
      fs.rename(new Path(s"$root/.fresh_tmp/$rel"), dst) }
    tree.commitReplaceAll(freshFiles)
    assert(tree.openAt(gen0).count() == 20, "retained snapshot unreadable")

    tree.vacuum(retainNone = true)
    tree.invalidate()
    // the old generation's data files are gone — its MANIFESTS must be
    // gone too, so a historical read fails with the clean
    // "no generation <= g is retained" instead of a raw
    // FileNotFoundException mid-scan, and generations() stops
    // advertising it
    assert(tree.generations().map(_._1) == Seq(tree.generations().last._1),
      s"retainNone left dangling generations: ${tree.generations()}")
    val e = intercept[IllegalArgumentException](tree.openAt(gen0))
    assert(e.getMessage.contains("retained"),
      s"historical read after truncation did not fail cleanly: ${e.getMessage}")
    assert(tree.open().count() == 30, "current generation damaged")

    // the DELTA-head shape: a COW swap (gen N+1, delta) removes a
    // file, then retainNone — pruning "below the newest full" alone
    // would keep the pre-swap generation advertised while its victim
    // bytes are gone. The structural truncation must REBASE the head
    // live set as a fresh full and drop everything older.
    val preSwapGen = tree.generations().last._1
    val victim = tree.readManifest().get.head._1
    tree.commitSwap(Seq(s"$root/$victim"), Seq.empty)
    val liveAfterSwap = tree.open().count()
    assert(liveAfterSwap < 30)
    tree.vacuum(retainNone = true)
    tree.invalidate()
    assert(!fs.exists(new Path(s"$root/$victim")),
      "retainNone left the swap victim's bytes")
    assert(tree.generations().size == 1,
      s"delta-head truncation left dangling generations: ${tree.generations()}")
    val e2 = intercept[IllegalArgumentException](tree.openAt(preSwapGen))
    assert(e2.getMessage.contains("retained"),
      s"pre-swap read after truncation did not fail cleanly: ${e2.getMessage}")
    assert(tree.open().count() == liveAfterSwap, "head damaged by delta-head truncation")
    fs.delete(new Path(root), true)
  }

  test("zero-rename install: direct create-if-absent commits end-to-end; stale heads re-derive; no tmp artifact") {
    spark.conf.set("spark.graft.noRenameCommit", "true")
    try {
      val (a, root) = freshTree()
      a.appendCommitted(rows(0 until 10), 1000000L)
      // a second handle advances the chain; a's cached head goes stale
      val b = new ManifestedTree(spark, root, pSchema)
      b.appendCommitted(rows(10 until 20), 1000000L)
      // a's next commit must refresh and re-derive (StaleHeadException
      // caught internally), landing a FRESH generation — and the whole
      // flow must never have created the rename path's tmp file
      a.appendCommitted(rows(20 until 30), 1000000L)
      assert(a.open().count() == 30, "zero-rename delta chain lost rows")
      assert(new ManifestedTree(spark, root, pSchema).open().count() == 30,
        "fresh reader disagrees after zero-rename commits")
      assert(!fs.exists(new Path(s"$root/._manifest.tmp")),
        "zero-rename mode still staged a tmp manifest")
      // the direct install's create-if-absent refusal IS the
      // stale-head signal: installing onto an existing generation name
      // must throw StaleHeadException (for commitDelta/commitFull to
      // catch and re-derive), never clobber the committed file
      val existing = fs.globStatus(new Path(s"$root/_manifest.*"))
        .map(_.getPath.getName).filter(_.endsWith(".txt")).max
      val before = {
        val in = fs.open(new Path(s"$root/$existing"))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      intercept[ManifestedTree.StaleHeadException] {
        a.installManifest(existing, "clobber-attempt")
      }
      val after = {
        val in = fs.open(new Path(s"$root/$existing"))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      assert(after == before,
        "refused install mutated the existing generation file")
      fs.delete(new Path(root), true)
    } finally spark.conf.unset("spark.graft.noRenameCommit")
  }

  test("an open planned from the schema record launches no Spark job and reads as the listing does") {
    import org.apache.spark.sql.types.IntegerType
    val root = Files.createTempDirectory("graft-mtree").toString
    // an int partition column, so the listing read infers the declared type
    val iSchema = StructType(Seq(StructField("bucket", IntegerType)))
    val tree = new ManifestedTree(spark, root, iSchema)
    // the array column's elements are required in the frame; a parquet
    // read reports them nullable, and so must the record
    def batch(ids: Range) =
      ids.map(i => (i.toLong, s"doc-$i", Seq.fill(3)(i.toFloat), i % 4))
        .toDF("id", "txt", "vec", "bucket")
    tree.appendCommitted(batch(0 until 40), 1000000L)  // first commit: a full
    tree.appendCommitted(batch(40 until 80), 1000000L) // then a delta
    def open() = SparkJobs.count(spark)(new ManifestedTree(spark, root, iSchema).open())
    val (df, jobs) = open()
    assert(jobs == 0, s"opening a tree with a schema record launched $jobs Spark job(s)")
    assert(df.schema == spark.read.parquet(root).schema,
      s"record-planned schema ${df.schema.simpleString} differs from the listing " +
      s"read's ${spark.read.parquet(root).schema.simpleString}")
    assert(df.count() == 80)

    // A replace-all commit (a rebuild) records the FRESH files' schema:
    // carrying the previous record forward would misdescribe every
    // later open of a rebuild that changed the schema.
    val old = tree.listFiles().map(_._1).toSet
    batch(0 until 20).withColumn("score", col("id") * 0.5)
      .write.mode("append").partitionBy("bucket").parquet(root)
    val fresh = tree.listFiles().filterNot(f => old(f._1))
    tree.commitReplaceAll(fresh)
    val (rebuilt, rebuiltJobs) = open()
    assert(rebuiltJobs == 0, s"opening a rebuilt tree launched $rebuiltJobs Spark job(s)")
    val expected = spark.read.option("basePath", root)
      .parquet(fresh.map(f => s"$root/${f._1}"): _*).schema
    assert(rebuilt.schema == expected,
      s"rebuild recorded ${rebuilt.schema.simpleString}, its files read as " +
      expected.simpleString)
    assert(rebuilt.where(col("score").isNotNull).count() == 20)
    fs.delete(new Path(root), true)
  }
}
