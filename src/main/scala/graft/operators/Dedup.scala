package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions._

/**
 * Deduplication suite for large text corpora (SURVEY.md paragraph 2 D).
 *
 * All variants follow the same scale shape: signatures are computed
 * map-side in one pass (codegen'd expressions), candidate generation
 * shuffles only compact keys (hash / band / block), and expensive
 * verification runs only on candidate pairs.
 */
object Dedup {

  /** Tokens of lowercased text ([a-z0-9] runs), empties removed.
    * Native single-pass tokenizer — same contract as
    * `filter(split(lower(c), "[^a-z0-9]+"), _ =!= "")` but codegen'd
    * (regex + interpreted HOF dominated text-query profiles). */
  def tokens(c: Column): Column = tokensOf(c)

  /**
   * Exact dedup: group by content hash. Emits one row per distinct
   * content with its cardinality — `n_docs > 1` rows are the dup sets.
   */
  def exact(docs: DataFrame): DataFrame = {
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("content_hash").asc)
  }

  /**
   * Winnowing match detection — the pair view of the MOSS sketch:
   * documents sharing at least `minShared` winnowing fingerprints,
   * with the shared count and containment ratio (shared / smaller
   * sketch). Candidates come from an inverted-index join on the
   * 8-byte sketch hash (never the pair space): the sketch is already
   * ~40% of the shingle count, so the join input is a fraction of the
   * n-gram inverted index the Jaccard pass builds, and a hot hash
   * (boilerplate fingerprint) is bounded by the same AQE skew
   * handling the dedup family relies on. Catches local overlap —
   * quotation, shared boilerplate, partial plagiarism — that
   * whole-document minhash underweights.
   */
  def winnowMatches(docs: DataFrame, minShared: Int = 2): DataFrame = {
    // Pinned: `sk` feeds the sizes aggregate AND both self-join sides.
    // ReuseExchange dedups the join sides but the sizes aggregate is a
    // separate exchange, so unpinned the winnowing kernel (the most
    // expensive text sketch) would evaluate at least twice per row.
    val sk = graft.GraftFunctions.pin(
      graft.GraftFunctions.scaleScan(docs).select(col("doc_id"),
        explode(winnowSketch(col("text"))).as("h")))
    val sizes = sk.groupBy(col("doc_id")).agg(count(lit(1)).as("sk_size"))
    val pairs = sk.as("a").join(sk.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sk_size", "size_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sk_size", "size_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared") / least(col("size_a"), col("size_b")), 6)
          .as("containment"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /**
   * Exact-substring duplication audit (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better": duplicated >= 50-token
   * spans, here w-token windows): every doc is scored by the fraction
   * of its sliding token windows that ALSO appear in at least one
   * other document — boilerplate headers, license blocks and copied
   * passages light up even when the documents as wholes are unique,
   * which is exactly the tier document-level minhash cannot see.
   *
   * Scale shape: windows never shuffle as strings — the 8-byte
   * xxhash64 of each window is the shuffle key (the string is
   * reconstructible from the doc, and the per-doc COUNTS are the
   * output). Two shuffles total: (hash -> distinct-doc count) and the
   * per-doc roll-up; both hash-aggregable with map-side partials. The
   * suffix-array construction the paper uses is a single-machine
   * design; the windowed-hash formulation is its scalable estimator
   * (windows >= w cover every duplicated span of length >= w).
   */
  def substringDup(docs: DataFrame, w: Int = 20,
                   threshold: Double = 0.2): DataFrame = {
    // windows hash DIRECTLY from the token-array slice (xxhash64 over
    // array<string> is structural): the ~w*avg-token-len window string
    // is never materialized, so the explode emits 8-byte hashes
    // instead of ~120-byte strings. Equal-count semantics: tokens
    // contain no separator characters, so slice and joined-string are
    // equally injective.
    val hashed = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(
        when(size(col("toks")) >= w,
          transform(sequence(lit(0), size(col("toks")) - w),
            i => xxhash64(slice(col("toks"), i + 1, lit(w)))))
          .otherwise(array().cast("array<bigint>"))).as("h"))
    // windows present in >= 2 DISTINCT docs; the same window repeated
    // inside one document is repetition (text_repetition's tier), not
    // cross-document duplication
    val dupWins = hashed.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1).as("dup"))
    val counted = hashed.join(dupWins, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"), count(col("dup")).as("dup_windows"))
    docs.select(col("doc_id"))
      .join(counted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        round(coalesce(col("dup_windows") / col("n_windows"), lit(0.0)), 6)
          .as("dup_fraction"))
      .withColumn("is_flagged", col("dup_fraction") > threshold)
      .orderBy(col("doc_id").asc)
  }

  /**
   * Normalization-tier exact dedup (the C4/CCNet "fuzzy-exact" pass):
   * texts that agree after lowercasing and collapsing every
   * non-alphanumeric run to a single space are duplicates —
   * punctuation, casing, and whitespace reflow no longer defeat the
   * hash. Same one-shuffle shape as [[exact]]; the md5 is taken over
   * the normalized form so the shuffle key stays fixed-width.
   */
  def normalized(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    docs.groupBy(md5(norm).as("norm_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("norm_hash").asc)
  }

  /**
   * MinHash + LSH near-dup pairs: 64-hash signature, banded into
   * `numBands` buckets; pairs sharing any band bucket are verified by
   * signature agreement (estimated Jaccard) >= threshold.
   *
   * QUERY SPEC (cross-engine rule): documents with fewer than
   * `shingleWords` tokens have an EMPTY shingle set and are excluded
   * from candidate generation entirely — they carry no content signal,
   * and Jaccard over two empty sets is undefined (the reference's
   * set-based Jaccard would divide by zero). Any counterpart engine
   * must apply the same short-doc exclusion, NOT index an
   * empty-set sentinel signature.
   */
  /**
   * Pinned (doc_id, sig [, carry...]) signature rows — the ONE home of
   * the minhash kernel for every dedup operator. The pin (r14) is
   * load-bearing twice over:
   *  1. The sentinel filter below otherwise PUSHES PAST the projection
   *     into the scan-side Filter, so `graft_minhash` evaluates twice
   *     per row — and the pushed copy runs BELOW the scaleScan
   *     exchange, i.e. serialized on a 1-split scan (r13 plans,
   *     nodes (2)/(4)).
   *  2. The frame feeds BOTH legs of the LSH self-joins; unpinned, the
   *     whole kernel lineage re-executes per leg.
   * With the pin the kernel runs exactly once per row, in parallel,
   * and every consumer reads the cached narrow rows. Short docs (empty
   * shingle set => all-MaxValue sentinel) are excluded per the
   * [[minhashLsh]] query spec.
   */
  private def sigRows(docs: DataFrame, numHashes: Int, seed: Long,
                      carry: Seq[String] = Nil): DataFrame = {
    val cc = carry.map(col)
    graft.GraftFunctions.pin(
      graft.GraftFunctions.scaleScan(docs)
        .select(col("doc_id") +:
          minhashSig(col("text"), 3, numHashes, seed).as("sig") +: cc: _*))
      .filter(element_at(col("sig"), 1) =!= lit(Long.MaxValue))
  }

  def minhashLsh(docs: DataFrame, numHashes: Int = 64, numBands: Int = 16,
                 threshold: Double = 0.5, seed: Long = 42L,
                 maxBucketSize: Option[Int] = None): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // Docs too short to produce a shingle would collide in EVERY band —
    // a quadratic false-positive bucket; sigRows drops them and pins
    // the one-pass signature kernel (r14).
    val sigs = sigRows(docs, numHashes, seed)
    val bandedAll = sigs.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band", "bucket")))
    // Skew hardening (off by default to keep exact pair semantics): a
    // bucket of b members yields b^2/2 candidate pairs, so one
    // boilerplate-duplicate cluster can dominate the whole job. With a
    // cap, oversized buckets are excluded from PAIR generation — their
    // members are better handled by the linear-output minhashGroups.
    val banded = maxBucketSize match {
      case Some(cap) =>
        val oversized = bandedAll.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bsize")).filter(col("bsize") > cap)
          .select(col("band"), col("bucket"))
        bandedAll.join(oversized, Seq("band", "bucket"), "left_anti")
      case None => bandedAll
    }
    // Estimate jaccard AT the join (before dedup) so the distinct
    // shuffle carries three scalars per pair instead of two
    // numHashes-long signature arrays.
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          b => b)).cast("double") / numHashes, 6).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /**
   * MinHash estimation-accuracy audit — the dedup family's analog of
   * the ANN recall sweeps: for every banded candidate pair, report
   * the signature-agreement Jaccard ESTIMATE next to the EXACT
   * shingle-set Jaccard and their absolute error — the measurement a
   * user reads before trusting a 64-hash signature (expected error
   * ~1/sqrt(64) ≈ 0.125) or sizing a bigger one. Candidates come from
   * the same band collisions as [[minhashLsh]]; the exact side
   * intersects the DISTINCT shingle-hash sets (array_intersect of
   * sorted hash arrays — k-scale per pair, local to the join).
   */
  def minhashAccuracy(docs: DataFrame, numHashes: Int = 64, numBands: Int = 16,
                      threshold: Double = 0.3, seed: Long = 42L): DataFrame = {
    // bandedSigs reads the pinned signature frame (r14), so both
    // self-join sides share one kernel pass already; the banding
    // explode recomputed per side is cheap slice hashing over cached
    // rows — a second pin of the exploded rows bought nothing.
    val banded = bandedSigs(docs, numHashes, numBands, seed)
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          b => b)).cast("double") / numHashes, 6).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
      .dropDuplicates("doc_a", "doc_b")
    // Pinned (r14): the exact-Jaccard shingle sets join in twice (the
    // doc_a and doc_b legs) — unpinned, the shingle kernel ran once
    // per leg.
    val sh = graft.GraftFunctions.pin(
      graft.GraftFunctions.scaleScan(docs)
        .select(col("doc_id"), shingleHashes(col("text")).as("sh")))
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard_est"),
        round(inter / (size(col("sha")) + size(col("shb")) - inter), 6)
          .as("jaccard_exact"))
      .withColumn("abs_err", round(abs(col("jaccard_est") - col("jaccard_exact")), 6))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** (doc_id, sig, band, bucket) banded signature rows — the
    * candidate-generation front half of [[minhashLsh]], shared with
    * the incremental variant. Short docs (empty shingle set) are
    * excluded per the query spec above. */
  private def bandedSigs(docs: DataFrame, numHashes: Int, numBands: Int,
                         seed: Long): DataFrame = {
    val rowsPerBand = numHashes / numBands
    sigRows(docs, numHashes, seed)
      .select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
          .as(Seq("band", "bucket")))
  }

  /**
   * Incremental near-dup: flag NEW documents that near-duplicate an
   * EXISTING corpus — the nightly-crawl-vs-indexed-corpus shape of a
   * production training-data pipeline. Same signature / banding /
   * agreement-threshold construction as [[minhashLsh]] (including the
   * short-doc exclusion), but candidates are new×old band collisions
   * ONLY: the old×old quadratic term, already resolved when the
   * corpus was ingested, is never regenerated, and output is LINEAR
   * in the new batch — each matched new doc's single best existing
   * match (highest signature agreement, ties to the smallest
   * existing doc_id) via a partial-aggregable argmax, so the final
   * shuffle carries one row per new doc. At 100 TB the corpus side's
   * banded signatures are a persisted table maintained at ingest
   * (the same posting-list shape VectorLibrary's partitioned LSH
   * index stores); only the new batch computes signatures here.
   */
  def minhashIncremental(newDocs: DataFrame, corpus: DataFrame,
                         numHashes: Int = 64, numBands: Int = 16,
                         threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    val nb = bandedSigs(newDocs, numHashes, numBands, seed)
    val ob = bandedSigs(corpus, numHashes, numBands, seed)
    nb.as("n")
      .join(ob.as("o"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket"))
      // agreement AT the join: the aggregate shuffle carries three
      // scalars per candidate, never two signature arrays
      .select(col("n.doc_id").as("doc_id"), col("o.doc_id").as("dup_of"),
        round(size(filter(zip_with(col("n.sig"), col("o.sig"), (x, y) => x === y),
          b => b)).cast("double") / numHashes, 6).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
      // argmax via struct max (multi-band repeats of a pair collapse
      // here too): highest agreement, then highest -id = lowest id
      .groupBy(col("doc_id"))
      .agg(max(struct(col("jaccard_est"), (-col("dup_of")).as("nid"))).as("m"))
      .select(col("doc_id"), (-col("m.nid")).as("dup_of"),
        col("m.jaccard_est").as("jaccard_est"))
      .orderBy(col("doc_id").asc)
  }

  /**
   * SimHash near-dup pairs: 64-bit fingerprint; banding the hash into
   * 8 x 8-bit segments (pigeonhole: hamming <= 7 implies one equal
   * segment); verify with exact Hamming distance.
   */
  def simhashDedup(docs: DataFrame, maxHamming: Int = 7, seed: Long = 42L): DataFrame = {
    // Pinned (r14): the fingerprint frame feeds both self-join legs —
    // unpinned, the simhash kernel lineage re-executed per leg.
    val fp = graft.GraftFunctions.pin(
      graft.GraftFunctions.scaleScan(docs)
        .select(col("doc_id"), simhash(col("text"), seed).as("fp")))
    val segmented = fp.select(col("doc_id"), col("fp"),
      posexplode(array((0 until 8).map(s =>
        shiftright(col("fp"), s * 8).bitwiseAND(lit(0xffL))): _*))
        .as(Seq("seg", "segval")))
    // Hamming (xor+popcount on two longs) is far cheaper than the
    // distinct shuffle, so filter candidates BEFORE deduplicating:
    // random 8-bit segments over N docs yield O(N^2/256) candidate
    // pairs, of which only the true near-dups survive the filter.
    segmented.as("a")
      .join(segmented.as("b"),
        col("a.seg") === col("b.seg") && col("a.segval") === col("b.segval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming64(col("a.fp"), col("b.fp")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /**
   * Word n-gram Jaccard similarity on pairs blocked by `source`
   * (block key at 100 TB would be an LSH band; the blocked join keeps
   * verification quadratic only within blocks).
   */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                   maxShingleDf: Option[Int] = None): DataFrame = {
    // Inverted-index formulation: explode distinct shingle hashes
    // (one-pass native expression — tokenize + hash + dedup per row),
    // count co-occurrences per pair (= intersection size) with one
    // shuffle on the shingle hash, then derive Jaccard from per-doc
    // set sizes. Never materializes the quadratic pair space — only
    // pairs actually sharing a shingle appear; the shuffle payload is
    // fixed-width longs, not strings.
    // Pinned (r14): the shingle-set frame feeds both legs of the
    // co-occurrence self-join (and twice more under a df cap) —
    // unpinned, the shingle kernel re-executed per consumer.
    val shingled = graft.GraftFunctions.pin(
      graft.GraftFunctions.scaleScan(docs)
        .select(col("doc_id"), col("source"), shingleHashes(col("text"), n).as("sh")))
    val invertedAll = shingled.select(col("doc_id"), col("source"),
      size(col("sh")).as("n_sh"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("source"), col("n_sh"),
        xxhash64(col("source"), col("shingle")).as("sh_hash"))
    // Skew hardening (off by default — it changes Jaccard values): a
    // stop-shingle present in d documents contributes d^2/2 pairs to
    // the co-occurrence join. With a document-frequency cap those
    // shingles are dropped from the inverted index, UNDER-estimating
    // the similarity of pairs that share them (the CCNet-style
    // boilerplate filter) in exchange for bounded join fan-out.
    val inverted = maxShingleDf match {
      case Some(cap) =>
        val hot = invertedAll.groupBy(col("sh_hash"))
          .agg(count(lit(1)).as("df")).filter(col("df") > cap)
          .select(col("sh_hash"))
        invertedAll.join(hot, Seq("sh_hash"), "left_anti")
      case None => invertedAll
    }
    val inter = inverted.as("a")
      .join(inverted.as("b"),
        col("a.sh_hash") === col("b.sh_hash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /**
   * Embedding-cosine near-dup pairs, blocked by `label` — the
   * ORACLE TWIN: labels are SQL-expressible, so DuckDB can verify the
   * exact pair set. Within-label is all-pairs, so this variant is for
   * test-scale verification only; the scale path is
   * [[embeddingNearDupLsh]], which blocks on LSH buckets instead.
   */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.3): DataFrame = {
    // Pinned + scaleScan (r14): the frame feeds both self-join legs —
    // unpinned, the scan ran once per leg, and the within-label pair
    // cosine kernel streamed over a 1-split probe side (guide §2.5).
    val e = graft.GraftFunctions.pin(graft.GraftFunctions.scaleScan(
      emb.select(col("vec_id"), col("label"), col("embedding"))))
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosineSim(col("a.embedding"), col("b.embedding")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a").asc, col("vec_b").asc)
  }

  /**
   * Embedding-cosine near-dup pairs blocked by LSH bucket — the 100 TB
   * shape (reference LSH construction, algorithms.py:213-418, reused
   * as a dedup blocker): sign-random-projection buckets are computed
   * map-side, candidate pairs come from an equi-join on (table,
   * bucket) — sub-quadratic as long as buckets stay balanced — and
   * only candidates are cosine-verified. Pair generation carries
   * (vec_id, tbl, bucket) scalars; embeddings are fetched per side for
   * just the surviving candidate set.
   *
   * Recall note: a pair is a candidate iff it collides in >= 1 of the
   * numTables tables; with 8x8-bit tables, cosine >= 0.3 pairs at
   * 64 dims are caught with high probability (spec-measured against
   * the label-blocked oracle twin).
   */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double = 0.3,
                          numTables: Int = 8, bitsPerTable: Int = 8,
                          seed: Long = 42L): DataFrame = {
    // NOT pinned (r14, measured): `e` is read four times (both banded
    // self-join legs + the two candidate fetch joins), but each read
    // is a column-pruned scan with a cheap native bucket kernel — the
    // pin's shuffle + cache-write jobs cost more than the re-reads
    // save (A/B at sf0.1: 0.68 -> 1.05 s). At 100 TB the candidate
    // fetches are row-group point reads on the id-sorted store, not
    // corpus scans, so the unpinned shape is also the serving shape.
    val e = emb.select(col("vec_id"), col("embedding"))
    val banded = e
      .select(col("vec_id"),
        posexplode(lshBuckets(col("embedding"), numTables, bitsPerTable, seed))
          .as(Seq("tbl", "bucket")))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    candidates
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosineSim(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a").asc, col("vec_b").asc)
  }

  /**
   * Skew-proof duplicate CLUSTERING: instead of emitting all near-dup
   * PAIRS (inherently quadratic when a corpus is dominated by one
   * duplicate set — 99% identical docs means ~n^2/2 output pairs no
   * matter how the join is organized), assign each doc a cluster
   * representative: the minimum doc_id over every (band, bucket) it
   * lands in. Both shuffles carry compact keys, each banded row joins
   * exactly one representative row, and the output is LINEAR in the
   * corpus — this is the form a 100 TB dedup pipeline actually keeps
   * (keep rows where doc_id == cluster_rep, drop the rest).
   *
   * One min-propagation step (not full connected components): chains
   * A~B~C where A,C never share a bucket can land in two clusters.
   * For dedup-retention that is a conservative (safe) approximation;
   * iterate to convergence if exact components are needed.
   */
  def minhashGroups(docs: DataFrame, numHashes: Int = 64, numBands: Int = 16,
                    seed: Long = 42L): DataFrame = {
    // one signature pass: both sides of the rep join read the pinned
    // narrow (doc_id, bkt) rows, not the minhash kernel's lineage
    // (pin = DISK_ONLY persist by default: recomputable lineage, not
    // the no-fallback block pinning of localCheckpoint)
    val edges = graft.GraftFunctions.pin(
      bucketEdges(docs, numHashes, numBands, seed))
    val reps = edges.groupBy(col("bkt")).agg(min(col("doc_id")).as("rep"))
    edges.join(reps, Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(min(col("rep")).as("cluster_rep"))
      .withColumn("is_duplicate", col("cluster_rep") < col("doc_id"))
      .orderBy(col("doc_id").asc)
  }

  /**
   * Keep-best duplicate clustering: [[minhashGroups]] with the bucket
   * representative chosen by highest `score` (lowest doc_id on ties)
   * instead of lowest id — the form real pipelines retain ("keep the
   * longest / highest-quality copy of each near-dup group"). `score`
   * is any per-document scalar (token count, quality score, ...)
   * evaluated once on the signature pass. Same scale shape as
   * minhashGroups: two compact-key shuffles, linear output, and the
   * same one-step caveat (chains that only meet transitively need
   * [[components]] for an exact fixed point).
   */
  def minhashGroupsBest(docs: DataFrame, score: Column, numHashes: Int = 64,
                        numBands: Int = 16, seed: Long = 42L): DataFrame = {
    val edges = graft.GraftFunctions.pin(
      bucketEdges(docs.withColumn("score", score.cast("double")),
        numHashes, numBands, seed, carry = Seq("score")))
    // argmax via struct max: highest score, then highest -id = lowest id
    val reps = edges.groupBy(col("bkt"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("bkt"), (-col("m.nid")).as("rep"), col("m.score").as("rep_score"))
    edges.join(reps, Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("rep_score"), (-col("rep")).as("nrep"))).as("m"))
      .select(col("doc_id"), (-col("m.nrep")).as("cluster_rep"))
      .withColumn("is_duplicate", col("cluster_rep") =!= col("doc_id"))
      .orderBy(col("doc_id").asc)
  }

  /** doc -> LSH-band-bucket bipartite edges (one row per doc per
    * band). `carry` columns of `docs` ride through unchanged — the
    * single home of the banding contract (shingle size, sentinel
    * filter, slice hashing, bkt key) shared by every clustering op. */
  private def bucketEdges(docs: DataFrame, numHashes: Int, numBands: Int,
                          seed: Long, carry: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val cc = carry.map(col)
    sigRows(docs, numHashes, seed, carry)
      .select(col("doc_id") +:
        posexplode(transform(sequence(lit(0), lit(numBands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
          .as(Seq("band", "bucket")) +: cc: _*)
      .select(col("doc_id") +: xxhash64(col("band"), col("bucket")).as("bkt") +: cc: _*)
  }

  /**
   * FULL duplicate-component clustering: min-label propagation over
   * the doc<->bucket bipartite graph, ACCELERATED by pointer jumping —
   * after each propagation round the label table compresses through
   * itself (comp := comp(comp), valid because every label is itself a
   * doc_id with a row in the table) until stable, halving label-chain
   * depth per jump. A diameter-D chain therefore converges in
   * O(log D) outer rounds instead of O(D) (the star-contraction idea
   * of Kiveris et al. 2014's MapReduce connected components, applied
   * to the label table). Each round is two shuffles on compact
   * (long, long) keys plus the jump joins.
   *
   * Hitting `maxIter` while labels are still moving THROWS — a silent
   * exit would return wrong components, the worst possible dedup
   * failure (docs declared unique that are duplicates). With jumping,
   * maxIter=10 covers diameters the bucket graph of any real corpus
   * cannot reach (> 2^10).
   */
  def componentsFromEdges(edges0: DataFrame, maxIter: Int = 10): DataFrame = {
    import graft.GraftFunctions.pinIter
    // Pin the edge list and per-round state with pinIter: an eager,
    // lineage-TRUNCATING checkpoint (reliable when a checkpoint dir is
    // configured). Truncation is load-bearing here — each jump joins
    // comp with itself, so an un-truncated plan doubles per pass; and
    // the edge lineage (the minhash kernel) would otherwise re-execute
    // ~3x per round. The pinned rows are two longs each.
    val edges = pinIter(edges0)
    var comp = pinIter(edges.select(col("doc_id")).distinct()
      .withColumn("comp", col("doc_id")))
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val bucketMin = edges.join(comp, Seq("doc_id"))
        .groupBy(col("bkt")).agg(min(col("comp")).as("bmin"))
      val pulled = edges.join(bucketMin, Seq("bkt"))
        .groupBy(col("doc_id")).agg(min(col("bmin")).as("pulled"))
      // `moved` rides INSIDE the checkpointed round state (r13): the
      // convergence check is then one filter-count over the pinned
      // rows instead of a next⋈prev equi-join — one fewer join + one
      // fewer shuffle per round, same decision (labels only ever
      // decrease, so moved ⟺ pulled < comp).
      val next = pinIter(comp.join(pulled, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("pulled"), col("comp"))).as("comp"),
          (coalesce(col("pulled"), col("comp")) < col("comp")).as("moved")))
      changed = next.filter(col("moved")).count()
      comp.unpersist()
      comp = next.select(col("doc_id"), col("comp"))
      // Pointer jumping: comp(d) := comp(comp(d)) until stable. Every
      // label is a doc_id of the same component with comp <= doc_id
      // (monotone), so each jump is one equi-join on a long key and
      // the chain depth halves per pass. Skipped in round 0: clique-
      // like duplicate graphs (the overwhelmingly common shape) reach
      // their minima in one propagate and would pay the jump's
      // join+checkpoint for nothing; deep chains just start jumping
      // one round later, still O(log D) total.
      var jumped = if (iter > 0 && changed > 0) 1L else 0L
      while (jumped > 0) {
        // left join + coalesce: a label that failed to resolve must
        // keep its row (an inner join would silently DROP the doc).
        // Same moved-in-state trick as the propagate step: comp2 (when
        // found) is comp's own label and labels are monotone, so
        // moved ⟺ comp2 < comp — no through⋈prev join needed.
        val through = pinIter(comp.as("x").join(
            comp.select(col("doc_id").as("comp"), col("comp").as("comp2")),
            Seq("comp"), "left")
          .select(col("doc_id"), coalesce(col("comp2"), col("comp")).as("comp"),
            (coalesce(col("comp2"), col("comp")) < col("comp")).as("moved")))
        jumped = through.filter(col("moved")).count()
        if (jumped > 0) {
          comp.unpersist(); comp = through.select(col("doc_id"), col("comp"))
          changed += jumped
        } else through.unpersist()
      }
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"componentsFromEdges did not converge within $maxIter rounds " +
          s"(last round still moved $changed labels) — raise maxIter; " +
          "a silent exit here would report WRONG components")
    edges.unpersist()
    comp
  }

  /** Connected-component duplicate clusters over minhash buckets:
    * (doc_id, component, is_duplicate) — component = min doc_id of the
    * full transitive duplicate set. */
  def minhashComponents(docs: DataFrame, numHashes: Int = 64, numBands: Int = 16,
                        seed: Long = 42L, maxIter: Int = 10): DataFrame = {
    componentsFromEdges(bucketEdges(docs, numHashes, numBands, seed), maxIter)
      .withColumn("is_duplicate", col("comp") < col("doc_id"))
      .orderBy(col("doc_id").asc)
  }
}
