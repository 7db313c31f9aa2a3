package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * A partitioned parquet tree whose LIVE file set is published through
 * GENERATION-NUMBERED root-level manifests — the reusable
 * commit-and-open discipline behind every derived index layout the
 * library persists (LSH buckets, IVF/IVF-PQ cluster assignments, grid
 * cells, PQ codes).
 *
 * What the manifest buys at 100 TB, per layout:
 *  - OPEN COST: a reader plans from one small file chain via
 *    [[ManifestFileIndex]] — zero filesystem list/stat calls instead of
 *    a recursive listing over thousands of partition directories, and
 *    no footer read or Spark job: the chain's `#schema` record is the
 *    read schema.
 *  - ATOMIC COMMITS: every commit installs a NEW immutable manifest
 *    file under a fresh generation number (tmp + rename-to-nonexistent,
 *    atomic on HDFS/posix); there is no delete-then-replace window in
 *    which a reader could find no manifest and fall back to a listing
 *    (the round-7 gap). The previous generation chain survives each
 *    commit as the reader grace copy, so a racing reader always
 *    resolves one complete generation. A crashed writer's orphan data
 *    files are invisible by construction.
 *  - COMMIT COST TRACKS THE BATCH, NOT THE TREE: incremental commits
 *    (appends, copy-on-write swaps, compaction flips) write a DELTA
 *    manifest holding only the batch's own add/remove lines; a full
 *    snapshot is rebased in every `rebaseEvery` commits, so reader
 *    chain length stays bounded while a steady append stream never
 *    rewrites an O(tree) file per batch (at 1M live files a full
 *    manifest is ~60 MB — per-commit rewrite would dominate streaming
 *    ingest; a delta is a few hundred bytes).
 *
 * On-disk protocol (all root-level, invisible to data listings):
 *  - `_manifest.<gen>.full.txt`  — complete live set at generation
 *    <gen> (zero-padded), one `path<TAB>size` line per file, and a
 *    leading `#schema<TAB><json>` directive recording the read schema
 *    (data columns as a parquet read reports them, then the partition
 *    columns). Every commit keeps it describing the live files: a
 *    rebuild records its fresh files' schema.
 *  - `_manifest.<gen>.delta.txt` — changes vs generation <gen>-1:
 *    `+<TAB>path<TAB>size` adds, `-<TAB>path` removes (a `#schema`
 *    directive when the batch's schema differs from the record).
 *  - `_manifest.seal`            — permanent marker that this tree has
 *    published manifests: if it exists but no generation is readable,
 *    `open()` FAILS LOUDLY instead of opening the tree as empty.
 * The manifest chain is the tree's only source of truth: a tree with
 * no committed generation is EMPTY, whatever files sit under its root
 * (a crashed first write's orphans), and its first commit is a full
 * snapshot of exactly that commit's own files.
 * A reader resolves max(gen), loads the greatest full <= it and
 * applies the deltas after it, in order. Old generations are pruned at
 * commit time back to the oldest of the newest
 * [[ManifestedTree.KeepFulls]] full snapshots — the previous full is
 * the in-flight readers' grace chain, the deeper ones are the
 * restore/epoch horizon.
 *
 * Lifecycle contract (single mutating writer, many readers — the COW
 * discipline the library already assumes; see [[graft.WriterLock]]):
 *  - a full rebuild writes to a tmp sibling, renames in BESIDE the
 *    previous generation, and commits via [[commitReplaceAll]] (an
 *    Overwrite into the live root would delete the old files —
 *    truncating the restore/epoch horizon and tearing concurrent
 *    readers mid-plan);
 *  - an incremental append goes through [[appendCommitted]], which
 *    commits exactly the batch's own files via a touched-directory
 *    listing diff around the write;
 *  - a copy-on-write file swap commits via [[commitSwap]];
 *  - a compaction's directory republish via [[commitDirReplacement]].
 *
 * Reference behavior served: sternbergm/vector-db-service keeps its
 * vectors and indexes IN MEMORY per process (vector_db/storage.py:11
 * `VectorStorage` — dict-of-ndarray under an RLock; an index rebuild
 * re-derives the whole structure and a process restart re-ingests).
 * Here the same lifecycle is durable and shared: a mutation commits
 * one manifest delta and an open is one small file-chain read at any
 * index size, with no per-process rebuild.
 */
final class ManifestedTree(
    spark: SparkSession,
    val root: String,
    partitionSchema: StructType) {

  import ManifestedTree._

  private def fs: FileSystem = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // One open per manifest generation: every commit path refreshes the
  // cached state and drops the cached frame.
  @volatile private var openCache: Option[DataFrame] = None
  @volatile private var stateCache: Option[Chain] = None
  // The retained-generation listing, memoized with the same life as
  // the chain state: geometry resolution consults the head generation
  // per search ([[graft.VectorLibrary]] headGenOf) and must not pay a
  // manifest-directory LIST per call. Cleared by invalidate() and by
  // every commit's pruneOldGenerations (the two places the on-disk
  // generation set changes under this writer).
  @volatile private var gensCache: Option[Seq[(Long, Boolean)]] = None
  // Pinned frames per generation, small LRU: a resolved chain's entry
  // set is immutable once written, so the frame only needs dropping
  // when retention could have pruned it — any mutation (invalidate).
  // Access is synchronized on the map: a pinned reader thread and a
  // mutating writer's invalidate() may race, and LinkedHashMap is not
  // concurrency-safe.
  private val openAtCache =
    scala.collection.mutable.LinkedHashMap.empty[Long, DataFrame]
  /** Test probe: manifest-directory LISTs issued by [[generations]] /
    * [[openAt]] resolution. */
  private[graft] var genListCount: Long = 0L
  def invalidate(): Unit = {
    openCache = None; stateCache = None; gensCache = None
    openAtCache.synchronized(openAtCache.clear())
  }

  private def resolveState(): Option[Chain] = stateCache.orElse {
    val c = resolveChain(fs, root)
    stateCache = c
    c
  }

  /** Live `(relativePath, sizeBytes)` entries of the current manifest
    * generation, or None when the tree has no committed generation
    * (an empty tree). Sizes ride in the manifest so split planning
    * needs ZERO stat calls. */
  def readManifest(): Option[Seq[(String, Long)]] =
    resolveState().map(_.entries)

  /** (current generation, deltas since the last full snapshot) — the
    * chain-health census `manifestInfo` surfaces. None on an empty
    * tree. */
  def chainInfo(): Option[(Long, Int)] =
    resolveState().map(c => (c.gen, c.deltas))

  /** Commit `files` as a FULL snapshot generation. Kept public for
    * tests and as the rebase primitive; incremental mutations should
    * go through the commit* entry points (delta commits). */
  def writeManifest(files: Seq[(String, Long)]): Unit =
    commitFull(files, None)

  /** True when manifest generations must install with the ZERO-RENAME
    * create-if-absent path: the filesystem verified at the
    * conditional-put tier (raw S3-style flat store — rename is
    * clobbering copy+delete, but create(overwrite=false) maps to an
    * If-None-Match conditional PUT), or the deployment forces it via
    * spark.graft.noRenameCommit=true (also the spec hook). */
  private def noRenameCommit: Boolean =
    spark.conf.getOption("spark.graft.noRenameCommit").exists(v =>
      v.equalsIgnoreCase("true") || v == "1") ||
    graft.FsCapabilities.noRenameCommit(fs)

  private[graft] def installManifest(name: String, content: String): Unit = {
    val dest = new Path(s"$root/$name")
    if (noRenameCommit) {
      // Flat-store tier: the object PUT is atomic (the manifest
      // appears only when the write completes — no reader ever sees a
      // partial file, the property tmp+rename buys on POSIX) and the
      // create-if-absent precondition is the SAME stale-head arbiter
      // the rename path derived from its explicit exists probe. A
      // refusal surfaces at create() on stores that check eagerly, or
      // at close() on stores that evaluate If-None-Match when the PUT
      // lands — both map to StaleHeadException, which
      // [[commitDelta]]/[[commitFull]] catch, refresh, and re-derive
      // onto a fresh generation number. (A genuine IO outage at
      // close() takes the same retry once and then propagates from
      // the re-derived commit — loud either way.)
      def stale(e: java.io.IOException) = new ManifestedTree.StaleHeadException(
        s"manifest: create-if-absent refused $root/$name " +
        s"(${e.getClass.getSimpleName}: ${e.getMessage}) — cached head is stale")
      val out = try fs.create(dest, false)
        catch { case e: java.io.IOException => throw stale(e) }
      try out.write(content.getBytes("UTF-8")) finally {
        try out.close() catch { case e: java.io.IOException => throw stale(e) }
      }
    } else {
      val tmp = new Path(s"$root/._manifest.tmp")
      val out = fs.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      // dest must be a FRESH generation file. NOTE a local-fs rename onto
      // an existing dest silently OVERWRITES (POSIX rename(2)) — it does
      // NOT fail — so the existence probe is explicit. Under the writer
      // lease the only way dest can exist is a stale cached head (an
      // alternating writer instance or a second handle of this tree
      // advanced the chain); [[commitDelta]]/[[commitFull]] catch this,
      // refresh from disk, and re-derive the commit.
      if (fs.exists(dest)) {
        fs.delete(tmp, false)
        throw new ManifestedTree.StaleHeadException(
          s"manifest: $root/$name already exists — cached head is stale")
      }
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(
          s"manifest: cannot install $root/$name")
    }
    val seal = new Path(s"$root/$SealName")
    if (!fs.exists(seal)) fs.create(seal, true).close()
  }

  /** Throw when the cached chain head is no longer the on-disk head —
    * another writer instance (correctly alternating under the lease)
    * or another handle of this tree advanced the chain since this
    * handle last resolved. Installing generation `gen` then would
    * either collide with an existing file (silently overwritten by a
    * local-fs rename) or, worse, land BELOW the current head and be
    * silently ignored by every resolve. Returns the listing so the
    * commit's [[pruneOldGenerations]] can reuse it — ONE glob per
    * commit (each was paying its own). */
  private def assertHeadFresh(gen: Long): Seq[(Long, Boolean, Path)] = {
    val disk = ManifestedTree.globManifests(fs, root)
    val diskMax = disk.map(_._1).maxOption.getOrElse(-1L)
    if (diskMax >= gen)
      throw new ManifestedTree.StaleHeadException(
        s"manifest: $root head advanced to $diskMax while this handle " +
        s"cached ${gen - 1} — refresh and re-derive")
    disk
  }

  /** Commit `files` as a full snapshot, refreshing once if the cached
    * head went stale (lease-alternating writers, external handles). A
    * full snapshot's content is caller-determined, so the retry only
    * needs a fresh generation number. Returns the generation number
    * this commit actually installed. */
  private def commitFull(files: Seq[(String, Long)],
                         schemaHint: Option[StructType]): Long =
    try commitFullOnce(files, schemaHint)
    catch { case _: ManifestedTree.StaleHeadException =>
      invalidate()
      commitFullOnce(files, schemaHint)
    }

  private def commitFullOnce(files: Seq[(String, Long)],
                             schemaHint: Option[StructType]): Long = {
    val prev = resolveState()
    val gen = prev.map(_.gen).getOrElse(0L) + 1
    val disk = assertHeadFresh(gen)
    // Persist a read-schema record with every full snapshot: opens
    // plan from it (no footer read), and an empty generation
    // (delete-everything) still opens as a typed empty frame. Derived
    // from (in order): the caller's hint, the carried-forward record,
    // or ONE footer read.
    val schema = schemaHint.orElse(prev.flatMap(_.schema))
      .orElse(files.headOption.flatMap(f => recordOf(f._1)))
    val header = schema.map(s => s"#schema\t${s.json}\n").getOrElse("")
    val body = files.sortBy(_._1)
      .map { case (p, s) => s"$p\t$s" }.mkString("\n")
    val name = f"${ManifestPrefix}$gen%09d.full.txt"
    installManifest(name, header + body)
    stateCache = Some(Chain(files.toVector, schema, gen, gen, 0,
      files.iterator.map(_._1).toSet))
    openCache = None
    pruneOldGenerations(disk :+ ((gen, true, new Path(s"$root/$name"))))
    gen
  }

  /** Commit a FULL generation referencing exactly `fresh` — the
    * REBUILD / REPLACE-TABLE commit. The previous generation's files
    * never move or delete here: new readers plan only the fresh set,
    * while in-flight and epoch-pinned readers keep resolving the
    * displaced files until [[vacuum]] collects them past retention
    * (Delta's REPLACE shape). An Overwrite write into the live root
    * would instead DELETE the old files — truncating the
    * restore/epoch horizon and tearing concurrent reads mid-plan.
    * Returns the generation the replace actually committed at — the
    * ONLY authoritative answer: inferring it from a post-commit
    * listing races a foreign commit landing on this tree in the
    * replace→list window (a rebuild would then rename its staged
    * geometry sidecar onto the FOREIGN generation and the fresh rows
    * would decode under an older geometry). */
  def commitReplaceAll(fresh: Seq[(String, Long)]): Long =
    // the record describes the FRESH set: a rebuild may change the
    // schema (a layout migration), so carrying the previous record
    // forward would misdescribe every later open. Only an empty fresh
    // set, which has no footer to read, keeps the previous record.
    commitFull(fresh, fresh.headOption.flatMap(f => recordOf(f._1)))

  /** The `#schema` record of a generation whose files share the schema
    * of `rel`: its footer's data columns (nullable, as a parquet read
    * reports them), then the partition columns. One footer read, no
    * Spark job. Best-effort: an unreadable file (tests commit synthetic
    * manifests) yields None. */
  private def recordOf(rel: String): Option[StructType] =
    scala.util.Try(StructType(
      ManifestFileIndex.footerSchema(spark, s"$root/$rel")
        .filterNot(f => partitionSchema.fieldNames.contains(f.name))
      ++ partitionSchema.fields)).toOption

  /** Commit a delta, refreshing once if the cached head went stale. A
    * delta references immutable FILES (appends add fresh files, swaps
    * remove specific victims), so re-deriving the merge against the
    * refreshed head is exact: the other writer's files stay live, this
    * batch's additions/removals apply on top. */
  private def commitDelta(removals: Seq[String],
                          additions: Seq[(String, Long)],
                          schemaHint: Option[StructType]): Unit =
    try commitDeltaOnce(removals, additions, schemaHint)
    catch { case _: ManifestedTree.StaleHeadException =>
      invalidate()
      commitDeltaOnce(removals, additions, schemaHint)
    }

  private def commitDeltaOnce(removals: Seq[String],
                              additions: Seq[(String, Long)],
                              schemaHint: Option[StructType]): Unit = {
    // an empty tree (no committed generation) merges onto no entries
    val st = resolveState().getOrElse(Chain(Vector.empty, None, 0L, 0L, 0, Set.empty))
    // keyed dedup with resolveChain's MEMBERSHIP semantics: an
    // addition whose path is already live REPLACES the old entry
    // instead of duplicating it, so the writer's cached state can
    // never double-plan a file a fresh reader sees once. The
    // collision probe is O(batch) against the chain's maintained
    // path set — probing (or re-keying) all entries per commit is
    // O(tree) and ManifestLadder rejects it (x8-17 at 1M files).
    // The pure-append fast path (no removals, no re-adds — every
    // ingest commit) never touches the existing entries at all.
    // Entry ORDER may differ from disk resolve for a re-added path
    // (end vs original position) — order is not semantic: rebases
    // sort on write and the driver's compare canon-sorts.
    val rm = removals.toSet
    // last-wins WITHIN the batch too (resolveChain's keyed apply
    // collapses an intra-batch duplicate; the cache must match) —
    // O(batch), and a no-dup batch passes through untouched
    val additions0 =
      if (additions.iterator.map(_._1).toSet.size == additions.size) additions
      else additions.foldLeft(
        scala.collection.mutable.LinkedHashMap.empty[String, Long]) {
          (m, a) => m += a }.toVector
    val readded = additions0.iterator.map(_._1).filter(st.paths).toSet
    val drop = rm | readded
    val entries =
      if (drop.isEmpty) st.entries ++ additions0
      else st.entries.filterNot(e => drop(e._1)) ++ additions0
    if (st.gen == 0L || st.deltas + 1 >= RebaseEvery) {
      // a tree's first commit is a full snapshot; after that, a
      // periodic rebase bounds the reader's chain length, its
      // O(tree) write amortized over RebaseEvery O(batch) commits.
      // commitFullOnce: `entries` is a stale-state merge, so a
      // stale head must propagate to commitDelta's re-derive.
      commitFullOnce(entries, schemaHint.orElse(st.schema))
    } else {
      val gen = st.gen + 1
      val disk = assertHeadFresh(gen)
      val schema = schemaHint.filterNot(h => st.schema.contains(h))
      val header = schema.map(s => s"#schema\t${s.json}\n").getOrElse("")
      val body = (removals.map(p => s"-\t$p") ++
        additions0.map { case (p, s) => s"+\t$p\t$s" }).mkString("\n")
      val name = f"${ManifestPrefix}$gen%09d.delta.txt"
      installManifest(name, header + body)
      stateCache = Some(Chain(entries, schema.orElse(st.schema),
        gen, st.fullGen, st.deltas + 1,
        (st.paths diff drop) ++ additions0.iterator.map(_._1)))
      openCache = None
      pruneOldGenerations(disk :+ ((gen, false, new Path(s"$root/$name"))))
    }
  }

  /** Remove manifest generations older than the oldest RETAINED full
    * snapshot. Retention is structural and bounded: the newest
    * [[ManifestedTree.KeepFulls]] fulls (the previous full is always
    * the in-flight readers' grace chain) plus every delta
    * after the oldest kept full stay on disk; anything older is
    * unreachable by any live resolve. This window IS the
    * restore/epoch horizon: KeepFulls×[[ManifestedTree.RebaseEvery]]
    * commits deep in the steady state, but full-commit operations
    * (compact, rollback/restore, rebuild) each consume a full slot —
    * sized so one compact + one restore + continued ingest still
    * leaves an epoch pinned before all of them resolvable
    * (EpochLadder asserts exactly that mix). Disk cost is ~KeepFulls
    * small manifest files per tree plus the COW victims those
    * generations reference — victims the time-window vacuum default
    * (7 days) would retain anyway. `files` is the commit's own glob
    * (pre-install) plus the just-installed generation — prune shares
    * the one listing the freshness check already paid. */
  private def pruneOldGenerations(files: Seq[(Long, Boolean, Path)]): Unit = {
    // every caller just committed a generation: the listing changed
    // even when nothing below prunes
    gensCache = None
    val fulls = files.collect { case (g, true, _) => g }.sorted
    if (fulls.isEmpty) return
    val keepFrom = fulls.takeRight(ManifestedTree.KeepFulls).head
    files.foreach { case (g, _, p) => if (g < keepFrom) fs.delete(p, false) }
    // A cached openAt frame for a pruned generation would keep serving
    // (then fail at SCAN time with missing files once vacuum collects
    // its COW victims) instead of raising the clean "no generation
    // retained" error openAtUncached gives — evict the pruned range.
    openAtCache.synchronized {
      openAtCache.filterInPlace { case (g, _) => g >= keepFrom } }
  }

  /** (relative path, size) of the visible files under this tree — the
    * whole tree, or the given partition subdirectories only. */
  def listFiles(dirs: Option[Seq[String]] = None): Seq[(String, Long)] =
    ManifestedTree.listTree(spark, root, dirs)

  /** Append a batch and commit exactly ITS files as a delta: the new
    * files are identified by a touched-directory listing DIFF around
    * the write, so a crashed writer's orphans sitting in the same
    * directories are never adopted (they stay invisible until a
    * maintenance vacuum). Commit cost tracks the batch's directories,
    * never the tree (one delta manifest per batch; a full rebase every
    * [[ManifestedTree.RebaseEvery]] commits; an empty tree's first
    * commit is a full snapshot of the batch's files). */
  def appendCommitted(rows: DataFrame, maxRecordsPerFile: Long): Unit = {
    val partCols = partitionSchema.fieldNames.toSeq
    val touched = rows.selectExpr(partCols: _*).distinct().collect()
      .map { r =>
        partCols.indices.map { i =>
          val v = if (r.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(r.get(i).toString)
          s"${partCols(i)}=$v"
        }.mkString("/")
      }.toSeq
    // read schema this batch would produce: data columns in frame
    // order (nullable at every level — a parquet read never reports
    // required fields or elements), partition columns (declared types)
    // at the end — exactly the ManifestFileIndex.read column order
    val schemaHint = StructType(ManifestFileIndex.nullable(
      StructType(rows.schema.filterNot(f => partCols.contains(f.name))))
      ++ partitionSchema.fields)
    val pre = listFiles(Some(touched)).map(_._1).toSet
    rows.write.mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*).parquet(root)
    commitDelta(Nil,
      listFiles(Some(touched)).filterNot(f => pre(f._1)), Some(schemaHint))
  }

  /** Commit a copy-on-write file swap as a delta: the victim files
    * leave the manifest, the replacement files (captured from the
    * rewrite's tmp tree BEFORE the swap consumed it) join it.
    * `victimsAbs` are absolute victim paths as the resolution scan
    * reported them. */
  def commitSwap(victimsAbs: Seq[String], fresh: Seq[(String, Long)]): Unit =
    commitDelta(victimsAbs.map(relPathOf), fresh, None)

  /** The manifest-relative path of an absolute file path under this
    * tree, in the form a scan's `_metadata.file_path` reports it. */
  def relPathOf(abs: String): String = {
    val rootStr = {
      val s = fs.makeQualified(new Path(root)).toUri.getPath
      if (s.endsWith("/")) s else s + "/"
    }
    new Path(abs).toUri.getPath.stripPrefix(rootStr)
  }

  /** Commit a compaction as a delta: every manifest entry under
    * `dirPrefixes` (each ending in "/") is replaced by the compacted
    * `moved` files. */
  def commitDirReplacement(dirPrefixes: Seq[String],
                           moved: Seq[(String, Long)]): Unit =
    commitDelta(liveEntries.map(_._1).filter(p => dirPrefixes.exists(p.startsWith)),
      moved, None)

  /** The current generation's entries; none on an empty tree. */
  private def liveEntries: Seq[(String, Long)] = readManifest().getOrElse(Nil)

  /** Leaf partition directories (relative, e.g. "cell=3_1") holding
    * more than `maxFiles` visible files smaller than `smallBytes` —
    * the fragmentation census a compaction acts on. Only SMALL files
    * count: a hot partition legitimately holds several files at the
    * rolling bound and must not be re-compacted forever (merging
    * full-size files would undo the bounded-rewrite-unit property
    * copy-on-write deletes rely on).
    *
    * Fragmentation is a property of what readers PLAN, so the census
    * counts the manifest-LIVE small files per directory — never the
    * listing. Files on disk outside the live set (history-retained
    * fragments and COW victims, crash orphans) must not re-qualify a
    * directory that already compacted, or the maintenance pass would
    * rewrite the same rows on every invocation until a
    * history-truncating vacuum ran. */
  private def fragmentedDirs(maxFiles: Int, smallBytes: Long): Seq[String] =
    liveEntries.collect { case (rel, size) if size < smallBytes =>
      rel.substring(0, math.max(rel.lastIndexOf('/'), 0))
    }.groupBy(identity).collect { case (d, files) if files.size > maxFiles => d }.toSeq

  /**
   * Selective compaction — the OPTIMIZE half of the maintenance loop,
   * shared by every manifested layout: incremental/streaming appends
   * leave one small file per batch in each touched partition
   * directory; this rewrites ONLY the directories fragmented past
   * `maxFilesPerPartition`, with a directory-scoped read (basePath +
   * explicit dirs — planning never touches the healthy partitions).
   * The commit is a MANIFEST FLIP, not a directory swap: compacted
   * files land BESIDE the fragments under fresh unique names, the
   * manifest republishes referencing only them, and everything
   * unreferenced in the compacted dirs (the fragments plus any
   * crashed writer's orphans) is vacuumed after the flip. A
   * concurrent reader always plans one complete generation. Cost
   * tracks the churn, never the tree. Returns directories compacted.
   */
  def compact(maxFilesPerPartition: Int, maxRecordsPerFile: Long,
              sortCols: Seq[String], smallFileBytes: Long = 2L << 20,
              vacuumAfter: Boolean = true): Int = {
    def visible(n: String) = !n.startsWith(".") && !n.startsWith("_")
    val oversized = fragmentedDirs(maxFilesPerPartition, smallFileBytes)
    if (oversized.isEmpty) return 0
    val partCols = partitionSchema.fieldNames.toSeq
    val tmpPath = root.stripSuffix("/") + ".compact_tmp"
    fs.delete(new Path(tmpPath), true)
    // The rewrite reads the manifest-LIVE files of the fragmented
    // dirs, never their listing: a listing read would adopt a crashed
    // writer's orphan rows into the compacted output.
    val liveFiles = liveEntries.map(_._1)
      .filter(rel => oversized.exists(d => rel.startsWith(d + "/")))
    if (liveFiles.isEmpty) return 0
    spark.read.option("basePath", root)
      .parquet(liveFiles.map(rel => s"$root/$rel"): _*)
      .repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions(
        (partCols ++ sortCols).map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*).parquet(tmpPath)
    // A directory whose files hold zero rows produces no rewrite
    // output; leave it untouched rather than installing nothing.
    val compacted = oversized.filter(d => fs.exists(new Path(s"$tmpPath/$d")))
    if (compacted.isEmpty) { fs.delete(new Path(tmpPath), true); return 0 }
    // move the compacted files INTO the live directories beside the
    // fragments (fresh UUID part-names — no clashes, no dir swap)
    val moved = compacted.flatMap { d =>
      fs.listStatus(new Path(s"$tmpPath/$d")).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (!visible(n) || st.isDirectory) Seq.empty
        else {
          if (!fs.rename(st.getPath, new Path(s"$root/$d/$n")))
            throw new java.io.IOException(s"compact: cannot install $d/$n")
          Seq((s"$d/$n", st.getLen))
        }
      }
    }
    fs.delete(new Path(tmpPath), true)
    // COMMIT: manifest entries for the compacted dirs become exactly
    // the moved files
    commitDirReplacement(compacted.map(_ + "/"), moved)
    // CLEANUP: on-disk files in the compacted dirs no RESOLVABLE read
    // can reach — crashed-writer orphans and fragments whose
    // referencing generations have pruned away. This respects HISTORY
    // exactly like [[vacuum]]'s structural protection: the fragments
    // just replaced are still the live set of the pre-compact
    // generation (openAt/rollbackTo/restoreTo targets), and COW-delete
    // victims retained for epoch-pinned readers live in these same
    // dirs — routine compaction must never truncate the restore/epoch
    // horizon (it once did: zero-retention inline vacuum, r9 ADVICE).
    // Their bytes reclaim once the generation chain prunes past them
    // — a later compact or vacuum() pass — or immediately via
    // vacuum(retainNone = true). `vacuumAfter = false` defers even
    // this orphan sweep to a later [[vacuum]] call (the reader grace
    // period of a shared deployment, where an in-flight reader may
    // still be collecting from files outside every retained
    // generation).
    if (vacuumAfter) {
      val keep = moved.map(_._1).toSet ++ retainedLiveSet()
      compacted.foreach { d =>
        fs.listStatus(new Path(s"$root/$d")).foreach { st =>
          val rel = s"$d/${st.getPath.getName}"
          if (!st.isDirectory && visible(st.getPath.getName) && !keep(rel))
            fs.delete(st.getPath, false)
        }
      }
    }
    compacted.size
  }

  /** Delete visible on-disk files no RESOLVABLE read can reach — the
    * standalone VACUUM for crash orphans and for fragments a
    * `vacuumAfter = false` compaction left behind. No-op on an empty
    * tree: its first commit takes only its own files, and the vacuums
    * after it collect the rest. Returns the number of files removed.
    * Safe under the single-writer discipline: a removed file is unreachable by every manifest
    * reader; `olderThanMs` adds the reader grace period on top.
    *
    * TWO protections, deliberately layered (Delta's RESTORE-vs-
    * VACUUM-RETAIN contract):
    *
    *  1. HISTORY (structural, on by default): any file referenced by
    *     ANY retained manifest generation survives regardless of the
    *     window — it is exactly what openAt/rollbackTo/restoreTo and
    *     epoch-pinned readers still resolve. A default-arg vacuum can
    *     therefore never truncate the restore/epoch horizon; the
    *     horizon is governed by generation retention
    *     ([[ManifestedTree.KeepFulls]] full snapshots back —
    *     KeepFulls×[[ManifestedTree.RebaseEvery]] commits deep in
    *     the steady state).
    *     `retainNone = true` drops this protection — the explicit
    *     "truncate history now" switch (tests, decommission, disk
    *     pressure) protecting only the CURRENT generation.
    *  2. TIME (the window): files outside every retained generation
    *     (crash orphans; fragments whose referencing generations
    *     pruned away) are collected once DEAD longer than
    *     `olderThanMs`. "Dead since" clocks from the install time of
    *     the retained manifest that DE-REFERENCED the file (Delta's
    *     remove-action timestamp), NOT from the file's own creation
    *     mtime — a two-hour-old file whose delete committed a minute
    *     ago is one minute dead and must survive a one-hour window.
    *     Files de-referenced before the retained window — and crash
    *     orphans never referenced at all — clock from their own
    *     mtime. olderThanMs <= 0 collects them immediately. The
    *     default is [[ManifestedTree.DefaultRetentionMs]] (7 days,
    *     Delta's own default) so a bare vacuum() is always safe.
    *
    * `retainNone = true` drops BOTH protections at once: only the
    * CURRENT generation survives and everything else is collected
    * immediately, regardless of the window — the one explicit
    * "truncate history now" switch (Delta's VACUUM RETAIN 0 HOURS).
    * A retainNone call that still honored the 7-day window would
    * silently reclaim nothing on freshly displaced bytes, which is
    * exactly when an operator under disk pressure reaches for it. */
  def vacuum(olderThanMs: Long = ManifestedTree.DefaultRetentionMs,
             retainNone: Boolean = false): Int = readManifest() match {
    case None => 0
    case Some(entries) =>
      val live = entries.map(_._1).toSet
      // one retained-chain walk serves both needs: the referenced set
      // (structural protection) and the de-reference clock
      lazy val chain = chainState()
      val protectedPaths = if (retainNone) live else live | chain._2
      val cutoff = System.currentTimeMillis() - olderThanMs
      val dead = listFiles(None).map(_._1).filterNot(protectedPaths).filter { rel =>
        retainNone || olderThanMs <= 0L || chain._1.getOrElse(rel,
          fs.getFileStatus(new Path(s"$root/$rel")).getModificationTime
        ) <= cutoff
      }
      dead.foreach(rel => fs.delete(new Path(s"$root/$rel"), false))
      if (retainNone) {
        // History is now physically gone — make it STRUCTURALLY gone
        // too. Pruning "manifests below the newest full" is NOT
        // enough: the head may be a DELTA generation (a COW delete)
        // whose chain reaches back through generations that reference
        // the just-deleted victims — those would stay advertised by
        // generations()/openAt and raw-fail mid-scan. Instead REBASE:
        // commit the head's live set as a fresh FULL snapshot, then
        // delete every older manifest — the one retained generation
        // references exactly the files this vacuum preserved, and any
        // historical read fails with the clean "no generation <= g is
        // retained". Skipped when the chain is already a lone full
        // (nothing to truncate structurally).
        val disk0 = ManifestedTree.globManifests(fs, root)
        if (!(disk0.size == 1 && disk0.head._2)) {
          commitFull(entries, None)
          val disk = ManifestedTree.globManifests(fs, root)
          val newGen = disk.map(_._1).maxOption.getOrElse(-1L)
          disk.foreach { case (g, _, p) => if (g < newGen) fs.delete(p, false) }
          invalidate()
        }
      }
      dead.size
  }

  /** Every path referenced by ANY retained (resolvable) manifest
    * generation — the structural protection set of [[vacuum]] and of
    * [[compact]]'s inline cleanup: openAt/rollbackTo and epoch-pinned
    * readers can resolve exactly these. One walk ([[chainState]]);
    * O(entries retained), a maintenance-time cost only. */
  def retainedLiveSet(): Set[String] = chainState()._2

  /** One ascending walk over the retained chain, applying each
    * generation's effect to a running entry set. Returns BOTH facts
    * [[vacuum]] needs (each walked the chain separately before):
    *
    *  1. path -> install time (mtime) of the retained manifest
    *     generation that DE-REFERENCED it, for every file some
    *     retained generation dropped and no later one re-added: delta
    *     removals mark death at that delta's install time, additions
    *     (and a full's carried entries) clear it, and a full snapshot
    *     that DROPS entries (a rollback commit) marks the dropped set
    *     dead at its install time;
    *  2. every path REFERENCED by any retained generation (= the
    *     final live set ∪ the de-referenced set — every file a walked
    *     manifest mentions lands in one of the two). */
  private def chainState(): (Map[String, Long], Set[String]) = {
    val chain = ManifestedTree.globManifests(fs, root).sortBy(_._1)
    if (chain.isEmpty) return (Map.empty, Set.empty)
    // start from the oldest retained FULL — deltas before it are
    // unresolvable prefixes of a pruned chain
    val firstFull = chain.collectFirst { case (g, true, _) => g }
      .getOrElse(return (Map.empty, Set.empty))
    val cur = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val deadSince = scala.collection.mutable.HashMap.empty[String, Long]
    def parse(lines: Seq[String]): Seq[String] = lines.filterNot(_.startsWith("#"))
    chain.dropWhile(_._1 < firstFull).foreach { case (_, isFull, p) =>
      // lazy: stat only when this manifest actually de-references
      // something — retainedLiveSet() callers (compact's cleanup)
      // discard the clock, and most deltas are pure appends, so the
      // common walk pays zero per-file stats
      lazy val installedAt = fs.getFileStatus(p).getModificationTime
      if (isFull) {
        val next = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        parse(ManifestedTree.readLines(fs, p))
          .foreach(line => next += ManifestedTree.fullEntry(line, p))
        cur.keysIterator.filterNot(next.contains)
          .foreach(f => deadSince(f) = installedAt)
        next.keysIterator.foreach(deadSince.remove)
        cur.clear(); cur ++= next
      } else parse(ManifestedTree.readLines(fs, p)).foreach { line =>
        line.split('\t') match {
          case Array("+", f, s) => deadSince.remove(f); cur(f) = s.toLong
          case Array("-", f) => cur.remove(f); deadSince(f) = installedAt
          case _ => ()
        }
      }
    }
    (deadSince.toMap, cur.keySet.toSet | deadSince.keySet.toSet)
  }

  /** The tree as a DataFrame, memoized per manifest generation:
    * manifest-planned ([[ManifestFileIndex]] — zero list/stat calls,
    * partition pruning kept, the read schema from the generation's
    * `#schema` record, so no job); an EMPTY generation
    * (delete-everything) opens as a typed empty frame from the
    * manifest's schema record. A tree with no committed generation is
    * empty and opens as a zero-row frame of its partition columns — no
    * listing ever adopts the files under it — unless it is sealed: a
    * sealed tree with no readable generation lost its manifests and
    * FAILS LOUDLY. */
  def open(): DataFrame = openCache.getOrElse {
    val df = resolveState() match {
      case Some(c) => plan(c.entries, c.schema)
      case None if fs.exists(new Path(s"$root/$SealName")) =>
        throw new IllegalStateException(
          s"manifested tree $root: seal present but no manifest " +
          "generation is readable — refusing to open it as empty; " +
          "restore a manifest or rebuild the layout")
      case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], partitionSchema)
    }
    openCache = Some(df)
    df
  }

  /** The frame over `entries`, a subset of the current generation's
    * live files, planned like [[open]]: no listing, no inference job. */
  def openEntries(entries: Seq[(String, Long)]): DataFrame = {
    require(entries.nonEmpty, s"manifested tree $root: no files to open")
    plan(entries, resolveState().flatMap(_.schema))
  }

  /** A frame over one generation's `entries` read with its `#schema`
    * record; no entries open as a typed empty frame. */
  private def plan(entries: Seq[(String, Long)], schema: Option[StructType]): DataFrame = {
    val s = schema.getOrElse(throw new IllegalStateException(
      s"manifested tree $root: the generation carries no schema record — " +
      "cannot open it (rebuild or append to re-establish one)"))
    if (entries.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    else ManifestFileIndex.read(spark, root, entries, partitionSchema, s)
  }

  // --- snapshot reads + rollback (the lake RESTORE shape) -------------

  /** Resolvable generations, oldest first: (gen, isFull). Spans the
    * RETAINED window — the chains of the newest
    * [[ManifestedTree.KeepFulls]] full snapshots (reader grace +
    * restore/epoch horizon); older generations are gone. */
  /** Generation of the currently cached chain — the snapshot the last
    * open()/readManifest on this instance resolved — falling back to
    * the disk head when nothing is cached. This is "the store as this
    * writer's in-flight frames see it": an index build compares it
    * against [[freshHeadGen]] at commit to detect a concurrent
    * writer's interleaved batch. -1 on a manifest-less tree. */
  private[graft] def snapshotGen(): Long =
    stateCache.map(_.gen).getOrElse(freshHeadGen())

  /** The head generation as the FILESYSTEM currently records it —
    * deliberately bypassing every cache (skew detection must see
    * another writer instance's commit, which no cache on this
    * instance reflects). -1 on a manifest-less tree. */
  private[graft] def freshHeadGen(): Long =
    ManifestedTree.listGenerations(fs, root).lastOption.map(_._1).getOrElse(-1L)

  def generations(): Seq[(Long, Boolean)] = gensCache.getOrElse {
    genListCount += 1
    val g = ManifestedTree.listGenerations(fs, root)
    gensCache = Some(g)
    g
  }

  /** The tree AS OF `gen` — planned from that generation's resolved
    * chain, uncached. Valid while the snapshot's files are still on
    * disk: copy-on-write victims survive until [[vacuum]] collects
    * them past the grace window, which is exactly the deferred-vacuum
    * workflow this read serves (debugging a mutation, replaying a
    * reader that planned the previous generation). */
  def openAt(gen: Long): DataFrame = {
    val hit = openAtCache.synchronized {
      // re-insert on hit: LinkedHashMap keeps insertion order, so the
      // remove+put makes eviction genuinely least-recently-USED (a
      // reader alternating over a few generations stays cached)
      openAtCache.remove(gen).map { df => openAtCache(gen) = df; df }
    }
    hit.getOrElse {
      val df = openAtUncached(gen)
      openAtCache.synchronized {
        // small LRU: an epoch-pinned reader typically revisits one or
        // two generations; unbounded growth across a long-lived writer
        // would pin every historical plan
        if (openAtCache.size >= 4) openAtCache -= openAtCache.head._1
        openAtCache(gen) = df
      }
      df
    }
  }

  private def openAtUncached(gen: Long): DataFrame = {
    genListCount += 1 // resolveChain lists the manifest directory
    resolveChain(fs, root, Some(gen)) match {
      case Some(c) => plan(c.entries, c.schema)
      case None => throw new IllegalArgumentException(
        s"manifested tree $root: no generation <= $gen is retained " +
        s"(available: ${generations().map(_._1).mkString(",")})")
    }
  }

  /** Restore the live set of generation `gen` by committing it FORWARD
    * as a new full snapshot (history is never rewritten — the Delta
    * RESTORE shape): an accidental delete/append rolls back with one
    * manifest commit, no data movement, while readers of the botched
    * generation keep their grace copy. Same on-disk-files caveat as
    * [[openAt]]. */
  def rollbackTo(gen: Long): Unit =
    resolveChain(fs, root, Some(gen)) match {
      case Some(c) => commitFull(c.entries, c.schema)
      case None => throw new IllegalArgumentException(
        s"manifested tree $root: no generation <= $gen is retained " +
        s"(available: ${generations().map(_._1).mkString(",")})")
    }
}

object ManifestedTree {
  /** The cached chain head is no longer the on-disk head — a
    * lease-alternating writer instance or a second handle advanced the
    * chain. Caught internally: commits refresh and re-derive once. */
  final class StaleHeadException(msg: String)
    extends java.io.IOException(msg)

  private val ManifestPrefix = "_manifest."
  private[plans] val SealName = "_manifest.seal"
  /** Delta commits between full-snapshot rebases: bounds the reader's
    * chain length (resolve reads at most 1 full + 15 deltas) while a
    * steady append stream pays O(batch) per commit instead of
    * rewriting an O(tree) manifest every batch. */
  val RebaseEvery = 16

  /** Full snapshots retained at prune time (at least 2: the previous
    * full is the readers' grace chain): the structural restore/epoch
    * horizon. 4 fulls ≈ 48–64 steady-state commits
    * deep, and survives the routine maintenance mix (compact +
    * restore are full commits that each consume a slot) with room
    * for a reader pinned before all of it. The cost is a handful of
    * small manifest files per tree — the referenced data files are
    * already pinned by the 7-day vacuum window. */
  val KeepFulls = 4

  /** Default [[ManifestedTree.vacuum]] retention window: 7 days,
    * Delta Lake's own default for exactly the same reason — a vacuum
    * scheduled by habit must not strand an in-flight reader or eat
    * the snapshot horizon an operator assumed was still there. */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  private[plans] case class Chain(
      entries: Vector[(String, Long)],
      schema: Option[StructType],
      gen: Long,
      fullGen: Long,
      deltas: Int,
      // live paths as a set, maintained INCREMENTALLY across delta
      // commits: the writer's O(batch) collision probe (does an
      // addition re-add a live path?) must not hash the whole tree per
      // commit — ManifestLadder holds the delta commit to O(batch)
      paths: Set[String])

  /** All manifest generation files under `root`:
    * (generation, isFull, path). */
  private def globManifests(fs: FileSystem,
                            root: String): Seq[(Long, Boolean, Path)] = {
    val st = fs.globStatus(new Path(s"$root/${ManifestPrefix}*"))
    if (st == null) Seq.empty
    else st.toSeq.flatMap { s =>
      val n = s.getPath.getName
      n match {
        case _ if n.endsWith(".full.txt") =>
          n.stripPrefix(ManifestPrefix).stripSuffix(".full.txt").toLongOption
            .map(g => (g, true, s.getPath)).toSeq
        case _ if n.endsWith(".delta.txt") =>
          n.stripPrefix(ManifestPrefix).stripSuffix(".delta.txt").toLongOption
            .map(g => (g, false, s.getPath)).toSeq
        case _ => Seq.empty // seal, tmp
      }
    }
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    raw.split('\n').map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** One `path<TAB>size` line of the full snapshot at `p`. */
  private def fullEntry(line: String, p: Path): (String, Long) =
    line.split('\t') match {
      case Array(f, s) if s.toLongOption.isDefined => (f, s.toLong)
      case _ => throw new IllegalStateException(s"manifest $p: bad line '$line'")
    }

  /** Resolve the live chain: newest generation = greatest numbered
    * full <= max(gen) plus the deltas after it, applied in order.
    * Retries once on a vanished file (a reader racing two full
    * commits past its glob — the pruner keeps one full chain of
    * grace, so this needs back-to-back rebases to ever trigger); a
    * sealed tree that still fails to resolve throws. */
  private[plans] def resolveChain(fs: FileSystem, root: String,
                                  upTo: Option[Long] = None): Option[Chain] = {
    def attempt(): Option[Chain] = {
      val all = globManifests(fs, root)
      val files = upTo match {
        case Some(cap) => all.filter(_._1 <= cap)
        case None => all
      }
      if (files.isEmpty) return None
      val maxGen = files.map(_._1).max
      val fulls = files.collect { case (g, true, p) if g <= maxGen => (g, p) }
      if (fulls.isEmpty)
        throw new java.io.FileNotFoundException(
          s"manifest chain at $root has deltas up to gen $maxGen but no " +
          "full snapshot base")
      val (fullGen, fullPath) = fulls.maxBy(_._1)
      val deltaByGen = files.collect {
        case (g, false, p) if g > fullGen && g <= maxGen => (g, p) }.toMap
      // contiguity: a missing delta means a torn chain — loud, never a
      // partial apply
      val missing = ((fullGen + 1) to maxGen).filterNot(deltaByGen.contains)
      if (missing.nonEmpty)
        throw new java.io.FileNotFoundException(
          s"manifest chain at $root is torn: missing generation(s) " +
          missing.mkString(","))
      var schema: Option[StructType] = None
      def parse(lines: Seq[String]): Seq[String] = lines.filter { l =>
        if (l.startsWith("#schema\t"))
          schema = Some(DataType.fromJson(l.stripPrefix("#schema\t")).asInstanceOf[StructType])
        !l.startsWith("#")
      }
      val entries = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      parse(readLines(fs, fullPath)).foreach(line => entries += fullEntry(line, fullPath))
      ((fullGen + 1) to maxGen).foreach { g =>
        parse(readLines(fs, deltaByGen(g))).foreach { line =>
          line.split('\t') match {
            case Array("+", p, s) => entries(p) = s.toLong
            case Array("-", p) => entries.remove(p)
            case other => throw new IllegalStateException(
              s"manifest delta gen $g at $root: bad line '${other.mkString("\t")}'")
          }
        }
      }
      Some(Chain(entries.toVector, schema, maxGen, fullGen,
        (maxGen - fullGen).toInt, entries.keysIterator.toSet))
    }
    try attempt() catch {
      case _: java.io.FileNotFoundException =>
        Thread.sleep(100)
        try attempt() catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"manifested tree $root: cannot resolve a complete " +
              s"manifest generation after retry (${e.getMessage})", e)
        }
    }
  }

  private[plans] def listGenerations(fs: FileSystem,
                                     root: String): Seq[(Long, Boolean)] =
    globManifests(fs, root).map(f => (f._1, f._2)).sortBy(_._1)

  /** Test/observability helpers — the on-disk manifest layout is an
    * implementation detail; specs assert through these. */
  def manifestExists(spark: SparkSession, root: String): Boolean = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    globManifests(fs, root).nonEmpty
  }

  /** The resolved LIVE entries as `path<TAB>size` text, one line per
    * file. */
  def liveManifestText(spark: SparkSession, root: String): String = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveChain(fs, root).map(_.entries.sortBy(_._1)
      .map { case (p, s) => s"$p\t$s" }.mkString("\n")).getOrElse("")
  }

  /** (relative path, size) of the visible files under `treeRoot` — the
    * whole tree, or the given partition subdirectories only. */
  def listTree(spark: SparkSession, treeRoot: String,
               dirs: Option[Seq[String]]): Seq[(String, Long)] = {
    val fs = new Path(treeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(n: String) = !n.startsWith(".") && !n.startsWith("_")
    def filesUnder(d: Path, rel: String): Seq[(String, Long)] =
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (!visible(n)) Seq.empty
        else if (st.isDirectory) filesUnder(st.getPath, s"$rel$n/")
        else Seq((s"$rel$n", st.getLen))
      }
    dirs match {
      case Some(ds) => ds.flatMap(d => filesUnder(new Path(s"$treeRoot/$d"), s"$d/"))
      case None => filesUnder(new Path(treeRoot), "")
    }
  }
}
