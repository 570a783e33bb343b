package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.XHash
import graft.text.Text
import graft.plans.Lineage.LineageOps

/**
 * Deduplication operators for training-data pipelines (SURVEY.md §2 rows
 * 25-28): exact content-hash grouping, MinHash+LSH banding, SimHash, and
 * an exact n-gram-Jaccard verify pass.
 *
 * Scale shape: every candidate-generation path is a *bucket join* — rows
 * shuffle once on a band/bucket key and pairs are only formed inside a
 * bucket — never an O(n²) cross join. At 100 TB that means the cost is
 * driven by bucket sizes (bounded by banding width), not corpus size².
 *
 * All hashing uses [[XHash]] (md5-derived 60-bit family) rather than
 * xxhash64: one md5 per shingle/token buys the whole k-member family via
 * double hashing, and — unlike Spark-private xxhash64 — an external SQL
 * oracle can replay every operator bit-for-bit (see [[graft.DedupSql]]).
 */
object Dedup {

  /** Exact-dup content key: md5 of whitespace-normalized lower text. */
  def contentKey(text: Column): Column = Text.fingerprint(text)

  /** Ids surviving exact dedup: the LOWEST id of each normalized-content
    * group — the single definition of the keep policy (Corpus.clean and
    * the dedup_exact query both derive from it). */
  def exactKeepers(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(contentKey(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Default word-shingle width (the MinHash n-gram). */
  val ShingleN = 3

  /** The near-dup VERIFICATION threshold (Jaccard over shingle sets).
    * Every consumer that must agree with [[jaccardVerified]]'s default
    * — the split guard's verify tail, the DuckDB replay — references
    * THIS constant, never a literal. */
  val MinJaccard = 0.6

  // ---- LSH band geometry: DERIVED from a declared S-curve contract
  // (r13 verdict item 7), not hand-picked. A (bands b, rowsPerBand r)
  // geometry surfaces a pair with Jaccard s with probability
  // 1-(1-s^r)^b; the banding must (a) surface nearly every pair the
  // verify pass would KEEP (detection ≥ MinDetectAtVerify at
  // MinJaccard — banding recall is the only approximate step between
  // the corpus and the exact verifier) while (b) filtering the
  // sub-threshold mass (detection ≤ MaxDetectAtNoise at NoiseJaccard —
  // this bounds the candidate-pair volume the exact verifier pays
  // for, the quantity that explodes at 100 TB). DedupSpec re-derives:
  // (8, 2) is the CHEAPEST geometry meeting both bounds (no smaller
  // member budget k = b·r passes) and the unique passing split of its
  // k = 16 budget. Probe-count consequence: b band buckets per doc —
  // 8 probe rows per arriving document in the streaming admission
  // path, 8 bucket rows per doc in the batch banding.

  /** Detection floor AT the verify threshold (missing ≤3% of
    * verifier-keepable pairs at s = 0.6). */
  val MinDetectAtVerify = 0.97

  /** Sub-threshold similarity the corpus is mostly made of … */
  val NoiseJaccard = 0.2

  /** … and the detection ceiling there (≤35% of noise pairs may reach
    * the exact verifier). */
  val MaxDetectAtNoise = 0.35

  /** P(some band matches | Jaccard s) — the LSH S-curve. */
  def bandDetectP(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)

  /** The derived geometry (see the contract above; spec-pinned). */
  val Bands = 8
  val RowsPerBand = 2

  /** MEASURED banding recall floor (per-mille of exact-ground-truth
    * pairs caught — SURVEY row 106's empirical companion to the
    * S-curve theory above): the truth population's Jaccards sit at
    * 0.9+, where the curve predicts ≥ 0.9998 detection; 950‰ leaves
    * honest room for a boundary pair while still failing a geometry
    * that degrades the curve (the 1×16 split of the same k=16 budget
    * detects 0.97^16 ≈ 61% on the fixture's truth population —
    * DedupSpec drives that arm). */
  val MinBandingRecallPerMille = 950L

  /** The slot-ordered shingle-window ARRAY of a token array as ONE
    * native kernel call ([[graft.functions.ShingleWindows]]) — the
    * generator half of the fused-shingling move; the signature half is
    * [[graft.functions.ShingleMinHashSig]]. */
  private def windowsOf(tokens: Column, n: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.ShingleWindows(
        org.apache.spark.sql.graft.bridge.expression(tokens), n))

  /**
   * Word n-gram shingles (as space-joined strings) of the token array.
   * Documents shorter than n tokens contribute their whole text as a
   * single shingle so they still participate. The window array is one
   * native kernel pass — the interpreted transform+concat_ws HOF this
   * replaces cost ~1 ms/document (the ShingleMinHashSig lesson applied
   * to the generator side; DedupSpec pins bit-equality to the HOF
   * form).
   */
  def shingles(text: Column, n: Int = ShingleN): Column =
    array_distinct(windowsOf(Text.tokens(text), n))

  /**
   * One row per (doc id, slot index, shingle): the whole window array
   * is built by one native kernel call per document and posexploded —
   * replacing a codegen'd slice+concat_ws per exploded slot row (which
   * re-read the token array and re-allocated per row; the interpreted
   * transform() form would be ~7× worse again). May contain duplicate
   * shingles (at distinct slots).
   */
  def shingleRows(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      rebalance: Boolean = true): DataFrame =
    (if (rebalance) docs.repartition(col(idCol)) else docs)
      .select(col(idCol).as("id"),
        windowsOf(Text.tokens(col(textCol)), n).as("ws"))
      .select(col("id"), posexplode(col("ws")).as(Seq("i", "s")))

  /** Per-doc shingle SETS (one tokenize+shingle pass, collect_set per
    * doc) — the shared input of the signature and verify stages. */
  def shingleSets(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    shingleRows(docs, idCol, textCol, n)
      .groupBy(col("id")).agg(collect_set(col("s")).as("sh"))

  /**
   * Per-doc MinHash signature columns m0..m{k-1}. Duplicate shingles
   * need no dedup: min over a multiset == min over its set.
   *
   * The whole signature is ONE fused native kernel per document
   * ([[graft.functions.ShingleMinHashSig]]: tokens → n-gram windows →
   * digests → running minima) — no explode, no repartition, no
   * signature groupBy: the only shuffle left in the LSH path is the
   * band-bucket key's. Values are bit-identical to min-aggregating
   * member columns over exploded shingle rows (DedupSpec pins it; the
   * streaming admission path shares the same kernel). The explode of a
   * one-element array is the Generate projection-collapse barrier
   * (the Admission.bandProbes move): the k element_at references below
   * it read the SAME computed array instead of re-running the kernel
   * per member column.
   */
  def minhashSignature(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 16): DataFrame = {
    val sig = org.apache.spark.sql.graft.bridge.column(
      graft.functions.ShingleMinHashSig(
        org.apache.spark.sql.graft.bridge.expression(
          Text.tokens(col(textCol))), n, k))
    docs.select(col(idCol).as("id"), explode(array(sig)).as("sigarr"))
      // NULL-text docs: the kernel is null-in-null-out, and explode of
      // array(NULL) EMITS the row (unlike the pre-fusion explode over
      // sequence(NULL), which dropped it) — filter it here, or every
      // null-text doc would share the all-null band buckets and pair
      // with every other one (DedupSpec pins the no-signature contract)
      .where(col("sigarr").isNotNull)
      .select(col("id") +: (0 until k).map(i =>
        element_at(col("sigarr"), i + 1).as(s"m$i")): _*)
  }

  /**
   * MinHash+LSH candidate pairs: k=bands*rowsPerBand hash functions,
   * banded so two docs collide iff some band of their signatures matches
   * exactly. Probability of a pair with Jaccard j surfacing =
   * 1-(1-j^rows)^bands — 8 bands × 2 rows targets j ≳ 0.5. The band
   * bucket key is the concatenated row-min string (exact equality — no
   * second-level hash needed, and an oracle reproduces it verbatim). One
   * shuffle on the bucket key, then pairs are generated INSIDE each
   * bucket (sorted id list → ordered combinations) — never a self-join
   * (which would evaluate the signature pipeline per side) and never a
   * cross join. Bucket width is bounded by the banding parameters, which
   * bounds the quadratic pair expansion per bucket.
   */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand,
      maxBucket: Option[Int] = None,
      heavyBucket: Int = HeavyBucket): DataFrame =
    candidatesOfSignature(
      minhashSignature(docs, idCol, textCol, n, bands * rowsPerBand),
      bands, rowsPerBand, maxBucket, heavyBucket)

  /**
   * Per-bucket population histogram of the MinHash banding — run this
   * BEFORE a corpus-scale near-dup job to pick banding parameters: the
   * quadratic pair expansion is per bucket, so the largest bucket bounds
   * the worst task. Output: (band, bucket_size, n_buckets).
   */
  def bucketStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val sig = minhashSignature(docs, idCol, textCol, n, bands * rowsPerBand)
    bandedKeys(sig, bands, rowsPerBand)
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("band"), col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
  }

  private[graft] def bandedKeys(sig: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val rowHashes = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws(",", rowHashes: _*).as("bh"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Buckets at or below this population expand to pairs via the sorted
    * collect_set array (one aggregation row per bucket — cheapest when
    * buckets are small, the normal LSH regime); buckets above it stream
    * their pairs through a sort-merge self-join instead, so a degenerate
    * bucket never materializes as a single in-memory array and its
    * quadratic pair output is produced incrementally by the join. */
  val HeavyBucket = 512

  /**
   * In-bucket ordered pair generation, memory-bounded. `keyed` must have
   * the bucket key columns plus an orderable `item` column (the doc id,
   * or a struct whose first field is the id). Bucket populations are
   * counted with a window over one shuffle; the materialized (band,
   * item, cnt) table then feeds both regimes — small buckets through the
   * array expansion, heavy ones through the self-join, which reuses the
   * cached partitioning on both sides. `maxBucket` (opt-in) still SKIPS
   * buckets larger than the cap — an explicit recall-for-boundedness
   * trade (size it with [[bucketStats]]); default None keeps exact LSH
   * semantics, now safe even for degenerate buckets.
   */
  private[graft] def bucketPairs(keyed: DataFrame, keyCols: Seq[String],
      heavy: Int, maxBucket: Option[Int]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    val counted = keyed.withColumn("cnt", count(lit(1)).over(w))
    val bounded = maxBucket
      .map(cap => counted.where(col("cnt") <= cap)).getOrElse(counted)
      .where(col("cnt") > 1).lineageCut
    val small = bounded.where(col("cnt") <= heavy)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_set(col("item"))).as("xs"))
      .select(explode(flatten(transform(col("xs"), (x, i) =>
        transform(slice(col("xs"), i + lit(2), size(col("xs"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val hv = bounded.where(col("cnt") > heavy)
    val heavyPairs = hv.as("l").join(hv.as("r"),
      keyCols.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
        col("l.item") < col("r.item"))
      .select(col("l.item").as("a"), col("r.item").as("b"))
    small.union(heavyPairs)
  }

  /** LSH banding + in-bucket pair generation over a signature table
    * (see [[bucketPairs]] for the small/heavy bucket regimes). */
  private[graft] def candidatesOfSignature(sig: DataFrame, bands: Int,
      rowsPerBand: Int, maxBucket: Option[Int] = None,
      heavy: Int = HeavyBucket): DataFrame =
    bucketPairs(
      bandedKeys(sig, bands, rowsPerBand).withColumnRenamed("id", "item"),
      Seq("band", "bh"), heavy, maxBucket)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()

  /**
   * Per-doc SIGNATURE STORE row for cross-snapshot (incremental) dedup:
   * the content fingerprint plus the k MinHash signature columns
   * m0..m{k-1}. Persist this once per snapshot; each subsequent crawl
   * batch dedups against the store WITHOUT re-reading or re-signing the
   * old corpus — the Spark analog of dragnet's incremental index update
   * (`dragnet build` onto an existing index, lib/index-sink.js:
   * the derived artifact, not the raw data, absorbs the next batch).
   * At 100 TB the store is ~1e-4 of the corpus bytes (one row of
   * hashes per document), so keeping it hot is cheap and re-signing
   * petabytes per crawl is the thing this exists to avoid.
   */
  def signatureStore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame =
    docs.select(col(idCol).as("id"), contentKey(col(textCol)).as("fp"))
      // LEFT join: zero-shingle docs have no signature row, but their
      // FINGERPRINT must still enter the store — an inner join dropped
      // them and a later crawl's identical empty doc sailed past the
      // cross-snapshot exact filter (FuzzCorpus). Their member columns
      // stay NULL; band keys from all-NULL members never match a probe
      // (sig-less docs emit no band rows).
      .join(minhashSignature(docs, idCol, textCol, n, bands * rowsPerBand),
        Seq("id"), "left_outer")

  /**
   * The store UPDATE step that closes the incremental loop: dedup a new
   * batch against the persisted store at `storePath`, then APPEND the
   * keepers' signature rows back to it — so crawl N+1 dedups against
   * old ∪ N without anything ever re-reading old documents. The Spark
   * analog of repeated `dragnet build -u` onto one index
   * (lib/index-sink.js): the derived artifact absorbs each batch.
   * Append-mode parquet is safe against the concurrent read of the same
   * path because the store's file listing is pinned when `read.parquet`
   * plans the scan — the appended part files have fresh names and are
   * invisible to the in-flight job. Returns the kept ids (already
   * computed for the append, so callers chain without a re-plan).
   */
  def appendKeepersToStore(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, storePath: String,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame =
    // single-writer (r18 verdict item 6): the dedup-then-append cycle
    // is a read-modify-write — two interleaved appends would each
    // dedup against a store missing the other's keepers and admit
    // cross-batch duplicates. Claim the store; a concurrent writer
    // fails loudly and retries.
    graft.store.Lease.withLease(spark, storePath) {
      val store = liveStore(graft.sources.Sources.parquet(spark, storePath))
      val kept = incrementalKeepers(newDocs, store, idCol, textCol, n,
        bands, rowsPerBand).lineageCut
      val keptDocs = newDocs.join(kept, Seq(idCol), "left_semi")
      signatureStore(keptDocs, idCol, textCol, n, bands, rowsPerBand)
        .write.mode("append").parquet(storePath)
      kept
    }

  /**
   * Store RETIREMENT — the `removed` leg of [[graft.dedup.Corpus.snapshotDiff]]'s
   * routing table applied to the signature store: documents that
   * vanished from the corpus must stop deduping future crawls (a
   * re-crawled page whose old twin was deleted is KEEPABLE again, and
   * a store that only ever grows eventually dedups against ghosts).
   * Deletion follows the store's append-only discipline: one TOMBSTONE
   * row per retired id (same schema, `fp` NULL — a live row always
   * carries its content fingerprint) appended in O(retired batch),
   * never a store rewrite. Readers resolve tombstones via [[liveStore]];
   * [[compactStore]] folds them physically, so the tombstone volume is
   * bounded by one compaction cycle, exactly like the file-count
   * fragmentation it already manages.
   *
   * The store carries no sequence numbers, so a tombstone shadows EVERY
   * row of its id, including ones appended after it: re-adding a
   * retired id (snapshotDiff's `changed` = retire + re-add) must pass
   * through [[compactStore]] between the two steps — the LSM discipline
   * without the LSM bookkeeping. `added` and `removed` legs compose
   * freely within a cycle (their id sets are disjoint from the store's
   * live set by construction).
   */
  def retireFromStore(spark: org.apache.spark.sql.SparkSession,
      retiredIds: DataFrame, storePath: String,
      idCol: String = "doc_id"): Unit =
    graft.store.Lease.withLease(spark, storePath) {
      val store = graft.sources.Sources.parquet(spark, storePath)
      val ids = retiredIds.select(col(idCol).cast("long").as("id")).distinct()
      val tomb = store.schema.fields.foldLeft(ids)((df, f) =>
        if (f.name == "id") df
        else df.withColumn(f.name, lit(null).cast(f.dataType)))
        .select(store.columns.map(col): _*)
      tomb.write.mode("append").parquet(storePath)
    }

  /** Resolve [[retireFromStore]] tombstones: an id holding any
    * tombstone row (NULL fp) drops entirely — data rows and the
    * tombstones themselves. One id-keyed anti join over the store (the
    * ~1e-4-of-corpus artifact, not the corpus), and the tombstone side
    * of it is only the retired ids. */
  def liveStore(store: DataFrame): DataFrame =
    store.join(store.where(col("fp").isNull).select(col("id")),
      Seq("id"), "left_anti")

  /**
   * Compact a fragmented signature store: every
   * [[appendKeepersToStore]] crawl adds its own set of part files, so
   * after many crawls the store's file count — and every subsequent
   * dedup's listing + small-read overhead — grows with CRAWL COUNT,
   * not data size. Rewrite to `targetFiles` files via a staging dir +
   * RENAME-ASIDE swap (root → root.compact-old, staging → root, delete
   * old): generic Hadoop FS has no atomic dir replace, but this order
   * shrinks the root-absent window to two pure metadata renames (the
   * old delete-then-rename held a recursive multi-file delete inside
   * it) and, crucially, every failure mode leaves an intact store —
   * a failed move-aside leaves root untouched; a failed final rename
   * RESTORES the aside copy to root before throwing; the compacted
   * staging copy is preserved in both cases. Run it between crawls,
   * like `dragnet compact` between index updates. Returns the
   * compacted data file count.
   */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, targetFiles: Int = 1): Int =
    graft.store.Lease.withLease(spark, storePath) {
    // FileSystem.rename reports failure as false (HDFS) OR by throwing
    // (LocalFileSystem and other FS-contract stores); normalize to
    // false so the restore branches run in both dialects — but keep the
    // thrown exception (missing source vs disk-full vs permissions) as
    // a suppressed cause on whatever error the impl raises
    {
      var mvErr: Option[java.io.IOException] = None
      try compactStoreImpl(spark, storePath, targetFiles, (fs, a, b) =>
        try fs.rename(a, b)
        catch { case e: java.io.IOException => mvErr = Some(e); false })
      catch { case e: Throwable if mvErr.isDefined =>
        mvErr.foreach(e.addSuppressed); throw e }
    }
    }

  /** [[compactStore]] for the (h1,h2) CHUNK-hash stores (fixed and
    * CDC): same staging + rename-aside swap and failure contract, but
    * the rewrite is `distinct()` instead of tombstone resolution —
    * chunk stores carry no ids to retire, and appended crawl windows
    * may re-add keys an overlapping window already holds, so compaction
    * is where the store's set semantics become physical again. This is
    * the EVICTION rung of the streaming CDC dedup: fold the closed
    * window's keys here, restart the stream with EMPTY state against
    * the enlarged store (stream_chunks_cdc_compacted executes the full
    * cycle). */
  def compactChunkStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, targetFiles: Int = 1): Int =
    graft.store.Lease.withLease(spark, storePath) {
      var mvErr: Option[java.io.IOException] = None
      try compactStoreImpl(spark, storePath, targetFiles, (fs, a, b) =>
        try fs.rename(a, b)
        catch { case e: java.io.IOException => mvErr = Some(e); false },
        rewrite = _.distinct())
      catch { case e: Throwable if mvErr.isDefined =>
        mvErr.foreach(e.addSuppressed); throw e }
    }

  /** [[compactStore]] with the rename injectable, so the spec can drive
    * the failed-swap path deterministically (a real FS rename cannot be
    * made to fail on demand) and assert the restore leaves the store
    * intact. */
  private[graft] def compactStoreImpl(spark: org.apache.spark.sql.SparkSession,
      storePath: String, targetFiles: Int,
      rename: (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path,
        org.apache.hadoop.fs.Path) => Boolean,
      rewrite: DataFrame => DataFrame = liveStore): Int = {
    require(targetFiles >= 1, s"targetFiles must be >= 1: $targetFiles")
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    val staging = new org.apache.hadoop.fs.Path(storePath + ".compact-staging")
    val old = new org.apache.hadoop.fs.Path(storePath + ".compact-old")
    // compaction is where retirement becomes physical: tombstoned ids
    // (retireFromStore) fold out of the rewrite, so the tombstone
    // volume is bounded by one compaction cycle
    rewrite(graft.sources.Sources.parquet(spark, storePath)).repartition(targetFiles)
      .write.mode("overwrite").parquet(staging.toString)
    // a leftover aside dir from a crashed prior run would fail the
    // move-aside rename; the live store is root, so the leftover is dead
    fs.delete(old, true)
    if (!rename(fs, root, old))
      throw new graft.GraftException(s"compactStore: could not move " +
        s"$storePath aside — store untouched; compacted copy preserved " +
        s"at $staging")
    if (!rename(fs, staging, root)) {
      if (!rename(fs, old, root))
        throw new graft.GraftException(s"compactStore: swap AND restore " +
          s"failed for $storePath — intact store at $old, compacted copy " +
          s"at $staging; restore manually")
      throw new graft.GraftException(s"compactStore: swap failed for " +
        s"$storePath — store restored intact; compacted copy preserved " +
        s"at $staging")
    }
    fs.delete(old, true)
    fs.listStatus(root).count(f =>
      f.isFile && f.getPath.getName.startsWith("part-"))
  }

  /**
   * Incremental dedup: the ids of NEW-batch docs kept after deduping
   * against a persisted [[signatureStore]] — the old corpus is touched
   * ONLY through the store. Four independent deterministic filters,
   * each a single key/bucket join:
   *
   *  (a) within-batch exact — keep the lowest id per content group;
   *  (b) cross-snapshot exact — drop fingerprints present in the store;
   *  (c) cross-snapshot near — drop docs sharing ANY LSH band bucket
   *      with a stored signature. Candidate-level by design: verifying
   *      with Jaccard would need the old TEXT, defeating the point —
   *      banding is tuned so a collision IS the near-dup call;
   *  (d) within-batch near — drop the higher id of each candidate pair
   *      (conservative: the pair drops even if its lower id itself lost
   *      to an earlier filter).
   *
   * The filters compose as semi/anti joins on the id column; nothing
   * rescans old data, and the store side of (b)/(c) shuffles only
   * fingerprints and band keys.
   */
  def incrementalKeepers(newDocs: DataFrame, store: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand,
      heavyBucket: Int = HeavyBucket): DataFrame = {
    val k = bands * rowsPerBand
    val sig = minhashSignature(newDocs, idCol, textCol, n, k)
    val fps = newDocs.select(col(idCol).as("id"),
      contentKey(col(textCol)).as("fp"))
    // (a) lowest id of each within-batch content group
    val exactKeep = fps.groupBy(col("fp")).agg(min(col("id")).as("id"))
      .select(col("id"))
    // (b) fps absent from the store
    val crossExact = fps
      .join(store.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .select(col("id"))
    // (c) any band bucket shared with a stored signature
    val crossNearHits = bandedKeys(sig, bands, rowsPerBand)
      .join(bandedKeys(store, bands, rowsPerBand).select(col("band"), col("bh")),
        Seq("band", "bh"), "left_semi")
      .select(col("id")).distinct()
    // (d) higher id of each within-batch candidate pair
    val nearDrops = candidatesOfSignature(sig, bands, rowsPerBand,
      heavy = heavyBucket)
      .select(col("doc_b").as("id")).distinct()
    exactKeep
      .join(crossExact, Seq("id"), "left_semi")
      .join(crossNearHits, Seq("id"), "left_anti")
      .join(nearDrops, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }

  /**
   * SimHash as a single Column: per-token 60-bit hash, majority vote per
   * bit — near-identical token multisets land within a few bits of each
   * other. NOTE: this form runs the lambda interpreter (HOFs don't
   * codegen); for corpus-scale use [[simhashTable]], which computes the
   * same value via explode + codegen'd bit aggregation.
   */
  def simhash(text: Column, bits: Int = 60): Column = {
    require(bits <= 60, "simhash draws bits from a 60-bit token hash")
    val hs = transform(Text.tokens(text), t => XHash.h60(t))
    val n = size(hs)
    (0 until bits).map { j =>
      when(size(filter(hs, h =>
        shiftright(h, j).bitwiseAND(lit(1L)) === lit(1L))) * 2 > n,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /**
   * Per-doc (id, sim) — ONE fused native kernel pass per document
   * ([[graft.functions.SimHashSig]]: per-token md5 h60 → per-bit
   * counts → majority), r19's application of the ShingleMinHashSig
   * move to the SimHash family. Bit-identical to [[simhash]] AND to
   * the pre-r19 explode + per-bit-SUM aggregation (DedupSpec pins
   * both), but with no repartition, no explode, and no 61-aggregate
   * shuffle — the whole table is a projection. Zero-token docs emit no
   * row (the exploded form had no rows to aggregate for them).
   */
  def simhashTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", bits: Int = 60): DataFrame = {
    require(bits <= 60, "simhash draws bits from a 60-bit token hash")
    val sig = org.apache.spark.sql.graft.bridge.column(
      graft.functions.SimHashSig(
        org.apache.spark.sql.graft.bridge.expression(
          Text.tokens(col(textCol))), bits))
    docs.select(col(idCol).as("id"), sig.as("sim"))
      .where(col("sim").isNotNull)
  }

  /** SimHash banding geometry: 4 bands × 15 bits over the 60-bit hash.
    * Pigeonhole: any pair within hamming ≤ 3 leaves at least one band
    * untouched → full recall at the default maxHamming. */
  val SimBands = 4
  val SimBandBits = 15
  private val SimBandMask = (1L << SimBandBits) - 1

  /**
   * SimHash near-dup pairs: band the 60-bit hash into 4 × 15-bit slices;
   * a pair is a candidate if any slice matches; verify with exact
   * hamming ≤ maxHamming via bit_count(xor). 15-bit bands keep buckets
   * selective even when the corpus's token distribution biases the
   * majority-vote bits (byte-wide bands over a 32-bit hash collapsed
   * thousands of docs into shared buckets → quadratic pair blowup).
   */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      heavyBucket: Int = HeavyBucket): DataFrame = {
    val withSim = simhashTable(docs, idCol, textCol)
    val bandCols = (0 until SimBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sim"), b * SimBandBits).bitwiseAND(lit(SimBandMask)).as("bv"))
    }
    // Same in-bucket pair generation as minhashCandidates: one shuffle,
    // the 60-bit simhash computed once per doc. The item struct leads
    // with id, so both regimes order pairs doc_a < doc_b by construction.
    val banded = withSim
      .select(struct(col("id"), col("sim")).as("item"),
        explode(array(bandCols: _*)).as("b"))
      .select(col("item"), col("b.band").as("band"), col("b.bv").as("bv"))
    bucketPairs(banded, Seq("band", "bv"), heavyBucket, None)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Near-dup CLUSTERS: connected components over the Jaccard-verified
   * pair graph, via iterative min-label propagation — each node adopts
   * the smallest label among itself and its neighbors until fixpoint.
   * Iteration count = component diameter (tiny for dup clusters; capped
   * defensively).
   *
   * Shuffle budget: the edge list is symmetrized ONCE into a
   * both-directions (src, dst) table, hash-partitioned on src and
   * cached — each round's message join then reuses that exchange (and
   * the label table arrives pre-partitioned on id from the previous
   * round's aggregation), so a round costs exactly one shuffle: the
   * groupBy(id) over messages. The convergence check rides the same
   * aggregation — each node's self-row carries its previous label, so
   * "any label changed?" is a scan of the just-materialized round
   * output, not a separate join job.
   *
   * Lineage is cut per round under the session's [[graft.plans.Lineage]]
   * policy: `spark.graft.lineage=reliable` checkpoints to a fault-tolerant
   * FS so a lost executor mid-propagation can recompute — the right mode
   * on a real cluster; the default `localCheckpoint()` is faster for
   * single-node/interactive use. Returns (doc_id, cluster_id = min doc
   * id in the component) for every doc in at least one pair.
   */
  def clusters(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, minJaccard: Double = 0.6,
      maxIters: Int = 20): DataFrame = {
    val edges = jaccardVerified(docs, idCol, textCol, n, minJaccard)
      .select(col("doc_a"), col("doc_b")).lineageCut
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .persist()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).lineageCut
    var converged = false
    var i = 0
    val debug = sys.env.contains("GRAFT_CLUSTERS_DEBUG")
    while (!converged && i < maxIters) {
      val t0 = System.nanoTime()
      // self-rows re-inject each node's current label (so an isolated
      // minimum survives) AND carry it as `prev` for the convergence
      // test; neighbor messages flow the label across each directed copy
      // of the undirected edge.
      val self = labels.select(col("id"), col("label"),
        col("label").as("prev"))
      val msgs = sym.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"),
          lit(null).cast(labels.schema("label").dataType).as("prev"))
      val next = self.union(msgs).groupBy(col("id"))
        .agg(min(col("label")).as("label"), min(col("prev")).as("prev"))
        .lineageCut
      // next is already materialized by the checkpoint; min-propagation
      // is monotone decreasing, so "changed" == label < prev, and the
      // check is a cached-block scan, not a join.
      converged = next.where(col("label") < col("prev")).isEmpty
      labels = next.select(col("id"), col("label"))
      i += 1
      if (debug) System.err.println(
        f"[clusters] round $i: ${(System.nanoTime() - t0) / 1e9}%.2fs converged=$converged")
    }
    sym.unpersist(false)
    require(converged, s"label propagation did not converge in $maxIters iters")
    labels.select(col("id").as(idCol), col("label").as("cluster_id"))
  }

  /**
   * Benchmark DECONTAMINATION: ids of corpus docs sharing ANY word
   * n-gram with an evaluation corpus — the standard pre-training hygiene
   * pass (a doc containing a benchmark's prompt/answer n-grams leaks the
   * benchmark). Eval sets are small (thousands of rows), so their
   * distinct shingles BROADCAST: the corpus side is one map pass + a
   * broadcast semi-join + a distinct on ids — no corpus shuffle besides
   * the final distinct, at any corpus size. Drop the returned ids with
   * an anti-join to clean.
   */
  def contaminatedIds(docs: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame = {
    val evalShingles = shingleRows(evalDocs, idCol, textCol, n)
      .select(col("s")).distinct()
    // no rebalance: the corpus side never shuffles before the broadcast
    // semi-join — its only shuffle is the final distinct on ids
    shingleRows(docs, idCol, textCol, n, rebalance = false)
      .join(broadcast(evalShingles), Seq("s"), "leftsemi")
      .select(col("id").as(idCol)).distinct()
  }

  /**
   * The EVAL-side contamination report — the flip of [[contaminatedIds]]
   * (which names the training docs to act on): per BENCHMARK item, how
   * much of it leaked into the training corpus — what an eval
   * maintainer publishes next to scores (the n-gram overlap appendix of
   * GPT-3-era eval cards) and what decides which eval items to exclude
   * from a "clean" split. Per eval doc: its distinct n-gram count, how
   * many of those n-grams occur anywhere in the corpus, and how many
   * distinct corpus docs share at least one — zero-overlap items kept
   * (they ARE the clean set).
   *
   * Scale shape: the corpus side is first restricted by a BROADCAST
   * semi-join on the eval shingle set (eval-suite-bounded, the
   * [[contaminatedIds]] argument), so the exact per-eval-item
   * aggregation only ever sees corpus rows that match an eval n-gram —
   * contamination-sized, not corpus-sized. The residual risk is a
   * degenerate shingle ("the the the") matching everything; real
   * corpora cap that with a df bound (the HeavyBucket discipline), and
   * the report's own n_train_docs column is where such a shingle
   * surfaces first.
   */
  def evalOverlap(docs: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame = {
    val ev = shingleRows(evalDocs, idCol, textCol, n)
      .select(col("id").as("eval_id"), col("s")).distinct()
    val tr = shingleRows(docs, idCol, textCol, n, rebalance = false)
      .join(broadcast(ev.select(col("s")).distinct()), Seq("s"), "leftsemi")
      .select(col("id").as("train_id"), col("s")).distinct()
    val hits = ev.join(tr, Seq("s"))
      .groupBy(col("eval_id")).agg(
        countDistinct(col("train_id")).as("n_train_docs"),
        countDistinct(col("s")).as("n_shared"))
    ev.groupBy(col("eval_id")).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
  }

  // ---- Bloom-filter decontamination (the 100 TB prefilter shape) ----
  //
  // [[contaminatedIds]] broadcasts the eval shingle STRINGS; at a large
  // eval suite that broadcast carries megabytes of text and the probe is
  // a hash-join per shingle. The Bloom form compresses the eval side to
  // a fixed bit array (third mergeable sketch family here, after the
  // HLL cardinality and CMS frequency gates: Bloom = membership; state
  // merge = bitwise OR) and probes it with k pure column expressions —
  // zero joins and zero extra shuffles over the corpus. No false
  // negatives, so running the EXACT check only on Bloom survivors
  // equals running it on the whole corpus — that composition (cheap
  // sketch pass over everything, exact verify over the tiny candidate
  // set) is the standard decontamination shape at scale.

  /** Probes per shingle. With bits ≈ 64×shingles, per-shingle FPR is
    * (1-e^(-k·n/m))^k ≈ 1.4e-5 — small enough that even a 1000-shingle
    * doc's any-probe-hits union stays ~1%. */
  val BloomK = 4

  /** Bit-array size for an eval set of `n` distinct shingles: smallest
    * power of two ≥ 64·n, clamped to [2^14, 2^24]. Powers of two by
    * integer comparison (no float log — a boundary value must derive
    * identically here and in the SQL replay). The 2^24 cap bounds the
    * plan-literal bitset at 2 MB; an eval suite past ~256k shingles
    * should move the words to a broadcast variable instead. */
  def bloomBitsFor(n: Long): Int = {
    val want = 64L * math.max(n, 1L)
    (14 to 24).map(1L << _).find(_ >= want).getOrElse(1L << 24).toInt
  }

  /** Bit positions of family member `i` for a shingle's (h1, h2),
    * replayed verbatim by the oracle: (h1 + i·h2) & mask60, mod m.
    * Plain integer arithmetic — driver, executor, and DuckDB agree. */
  private def bloomPos(h1: Long, h2: Long, i: Int, m: Int): Int =
    (XHash.memberLong(h1, h2, i) % m).toInt

  /** The bit array (64-bit words) for a collected eval-side (h1, h2)
    * set. Driver-side on purpose: the eval suite is serving-sized (a
    * benchmark corpus — thousands of docs), the same bounded-collect
    * argument as the ANN LUT broadcast; the 100 TB side never collects.
    * The DISTRIBUTED twin is [[bloomWordsAgg]] — this array form
    * remains the reference the spec pins it against. */
  def bloomWords(pairs: Array[(Long, Long)], m: Int, k: Int = BloomK): Array[Long] = {
    val words = new Array[Long](m / 64)
    for ((h1, h2) <- pairs; i <- 0 until k) {
      val p = bloomPos(h1, h2, i, m)
      words(p >>> 6) |= (1L << (p & 63))
    }
    words
  }

  /** The bit array built DISTRIBUTED (r13 verdict item 5): per pair
    * the k probe positions explode to (word index, single-bit mask)
    * rows, bit_or-aggregated per word index — partials combine
    * map-side, the shuffle and the driver collect carry at most m/64
    * longs (≤ 2^18 at the m cap) no matter how large the eval suite
    * grows. Bit-identical to [[bloomWords]] over the same pair set
    * (DedupSpec pins it): same member family, same positions, OR is
    * order-free. */
  def bloomWordsAgg(pairs: DataFrame, m: Int, k: Int = BloomK): Array[Long] = {
    val powers = lit((0 until 64).map(1L << _).toArray)
    val probe = explode(array((0 until k).map(i =>
      XHash.member(col("h1"), col("h2"), i) % m): _*)).as("p")
    val rows = pairs.select(probe)
      .select(shiftright(col("p"), 6).cast("int").as("w"),
        element_at(powers, (col("p").bitwiseAND(lit(63L))).cast("int") + 1)
          .as("mask"))
      .groupBy(col("w")).agg(bit_or(col("mask")).as("bits"))
      .collect()
    val words = new Array[Long](m / 64)
    rows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Membership test as a pure codegen'd column over (h1, h2): all k
    * probed bits set. The bitset and the 64 single-bit masks ride the
    * plan as array literals — element_at + AND, no variable-shift
    * builtin needed, no UDF, no join. */
  def bloomMightContain(words: Array[Long], m: Int, k: Int = BloomK)(
      h1: Column, h2: Column): Column = {
    val wordsLit = lit(words)
    val powers = lit((0 until 64).map(1L << _).toArray)
    (0 until k).map { i =>
      val p = XHash.member(h1, h2, i) % m
      val word = element_at(wordsLit, shiftright(p, 6).cast("int") + 1)
      val mask = element_at(powers, (p.bitwiseAND(lit(63L))).cast("int") + 1)
      word.bitwiseAND(mask) =!= 0L
    }.reduce(_ && _)
  }

  /** Eval side → distinct (h1, h2) hash pairs (the Bloom input; m and
    * the bit positions derive from these, so both engines must count
    * the same set — pairs, not strings). */
  def bloomEvalPairs(evalDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    shingleRows(evalDocs, idCol, textCol, n)
      .select(XHash.h60(col("s")).as("h1"), XHash.h56(col("s")).as("h2"))
      .distinct()

  /** Full composition from an already-collected eval pair set (the
    * streaming gate drains the same pairs through the incremental
    * engine): Bloom-prefilter the corpus, then exact-verify ONLY the
    * flagged docs. Output: (idCol, exact_hit) — flagged-but-not-exact
    * rows are the filter's false positives, visible in the result the
    * same way the CMS gate surfaces its overcount. */
  def bloomDecontamFromPairs(docs: DataFrame, evalDocs: DataFrame,
      pairs: Array[(Long, Long)], idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = BloomK): DataFrame = {
    val m = bloomBitsFor(pairs.length.toLong)
    val words = bloomWords(pairs, m, k)
    bloomDecontamFromWords(docs, evalDocs, words, m, idCol, textCol, n, k)
  }

  /** The probe+verify composition from an already-built bit array —
    * shared by the pair-array entry above and the distributed batch
    * entry ([[bloomDecontam]]), which never materializes pairs on the
    * driver. */
  def bloomDecontamFromWords(docs: DataFrame, evalDocs: DataFrame,
      words: Array[Long], m: Int, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = BloomK): DataFrame = {
    val flagged = shingleRows(docs, idCol, textCol, n, rebalance = false)
      .select(col("id"), XHash.h60(col("s")).as("h1"),
        XHash.h56(col("s")).as("h2"))
      .where(bloomMightContain(words, m, k)(col("h1"), col("h2")))
      .select(col("id").as(idCol)).distinct()
    confirmFlagged(docs, evalDocs, flagged, idCol, textCol, n)
  }

  /** The exact pass over Bloom survivors only — no false negatives
    * makes this equal to the exact pass over the whole corpus. Shared
    * by the batch probe and the streamed-probe gate. Output:
    * (idCol, exact_hit). */
  def confirmFlagged(docs: DataFrame, evalDocs: DataFrame,
      flagged: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    val confirmed = contaminatedIds(
      docs.join(broadcast(flagged), Seq(idCol), "leftsemi"),
      evalDocs, idCol, textCol, n)
      .withColumn("exact_hit", lit(true))
    flagged.join(broadcast(confirmed), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("exact_hit"), lit(false)).as("exact_hit"))
  }

  /** Batch entry: derive the pair set from the eval docs and compose —
    * fully DISTRIBUTED: one count sizes m, one bit_or aggregate builds
    * the words; the driver only ever holds m/64 longs, never the pair
    * set (previously a pairs.collect() bounded by eval-suite size). */
  def bloomDecontam(docs: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, k: Int = BloomK): DataFrame = {
    val pairs = bloomEvalPairs(evalDocs, idCol, textCol, n)
      .lineageCut // count + aggregate read one materialization
    val m = bloomBitsFor(pairs.count())
    val words = bloomWordsAgg(pairs, m, k)
    bloomDecontamFromWords(docs, evalDocs, words, m, idCol, textCol, n, k)
  }

  /**
   * STREAM-SHAPE surgical decontamination (SURVEY row 110): row 105's
   * chunk excision as a PURE PER-ROW map — the form a crawl ingests
   * through, where a page must be scrubbed as it arrives with no
   * shuffle and no state. The eval side rides the plan as the Bloom
   * bit array (rows 55/105 composed); per document, every shingle
   * slot probes the filter, matched slots flag the chunks their span
   * ⌊i/w⌋..⌊(i+n−1)/w⌋ touches (the straddle discipline — matching on
   * the UN-chunked stream), and the document reassembles from its
   * unflagged chunks — tokens → slot-ordered shingle kernel → probe →
   * span-union → rebuild, all inside one projection.
   *
   * Bloom contract: no false negatives, so the excised set is a
   * SUPERSET of the exact one — a false-positive shingle over-excises
   * its ≤2 chunks (measured: zero FPs at the gate scales under the
   * 64-bits-per-element sizing; DedupSpec pins kept_chunks ≤ exact and
   * equality where FP-free). The oracle replays the probe bit for bit
   * (same m derivation, same double-hash members), so even an FP is
   * deterministic and gated, never drift.
   *
   * Scale: per-row only — the one shingle-hash per slot runs in the
   * lambda interpreter (the chunk-row precedent in Admission); a
   * corpus where that interpreter cost dominates escalates to the
   * fused-kernel treatment ShingleMinHashSig got. Works identically
   * on a static DataFrame (DedupSpec compares it to [[chunkDecontam]])
   * and a streaming one (the registry gate drains it in Append mode —
   * no state store at all).
   */
  def bloomChunkExcise(docs: DataFrame, words: Array[Long], m: Int,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = ShingleN, width: Int = ChunkWidth,
      k: Int = BloomK): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val sh = org.apache.spark.sql.graft.bridge.column(
      graft.functions.ShingleWindows(
        org.apache.spark.sql.graft.bridge.expression(col("__t")), n))
    val lo = (i: Column) => floor(i / lit(width)).cast("int")
    val hi = (i: Column) => floor((i + lit(n - 1)) / lit(width)).cast("int")
    docs
      .select(col(idCol).as("doc_id"), toks.as("__t"))
      // a zero-token doc has zero chunks: absent from the chunk table,
      // exactly as the batch reassembly's group-by sees it
      .where(size(col("__t")) > 0)
      .select(col("doc_id"), col("__t"), sh.as("__sh"))
      .select(col("doc_id"), col("__t"),
        filter(transform(col("__sh"), (s, i) =>
            when(bloomMightContain(words, m, k)(
              graft.functions.XHash.h60(s),
              graft.functions.XHash.h56(s)), i.cast("int"))
              .otherwise(lit(-1))),
          x => x >= 0).as("__bad"),
        floor((size(col("__t")) - lit(1)) / lit(width)).cast("int")
          .as("__last"))
      .select(col("doc_id"),
        (col("__last") + 1).cast("long").as("n_chunks"),
        filter(sequence(lit(0), col("__last")), j =>
          !exists(col("__bad"), i => lo(i) <= j && j <= hi(i)))
          .as("__kept"),
        col("__t"))
      .select(col("doc_id"), col("n_chunks"),
        size(col("__kept")).cast("long").as("kept_chunks"),
        array_join(transform(col("__kept"), j =>
          array_join(slice(col("__t"), j * lit(width) + 1, lit(width)),
            " ")), " ").as("kept_text"))
  }

  /**
   * Substring-level dedup signal (the exact-substring-dedup
   * approximation): per doc, the fraction of its word n-gram SLOTS
   * covered by n-grams that also appear in ≥ `minDocs` distinct
   * documents. A doc whose text is largely assembled from spans that
   * exist elsewhere scores near 1 even when no whole-document near-dup
   * pair exists — the case MinHash misses by design. Long n (default 8)
   * keeps common phrases out. Scale shape: the shared-n-gram table is
   * intra-corpus (NOT broadcastable), so both sides shuffle once on the
   * n-gram key, then one aggregation per doc — all linear, no doc²
   * stage. Output: (doc_id, n_slots, shared_frac).
   */
  def sharedSpanFrac(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8, minDocs: Int = 2): DataFrame = {
    val rows = shingleRows(docs, idCol, textCol, n, rebalance = false)
      .select(col("id"), col("s"))
    val hot = rows.distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("s"), lit(true).as("hot"))
    rows.join(hot, Seq("s"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_slots"),
        sum(when(col("hot"), lit(1L)).otherwise(lit(0L))).as("shared"))
      .select(col("id").as(idCol),
        col("n_slots").cast("long").as("n_slots"),
        (col("shared").cast("double") / col("n_slots").cast("double"))
          .as("shared_frac"))
  }

  /**
   * The duplicated SPANS themselves (what [[sharedSpanFrac]] only
   * scores): per doc, each MAXIMAL run of contiguous n-gram slots whose
   * n-gram appears in ≥ `minDocs` distinct documents — the
   * suffix-array-free approximation of exact-substring dedup's byte
   * ranges, at n-token resolution. Classic gaps-and-islands: covered
   * slot indices minus their per-doc rank are constant within a run.
   * Scale shape: one shuffle on the n-gram key (hot table + semi-join —
   * the hot table is intra-corpus, NOT broadcastable), one on the doc id
   * for the ranking window; all linear, no doc² stage. Output
   * (doc_id, span_start, span_end, n_slots): inclusive TOKEN indices,
   * span_end = last covered slot + n - 1.
   */
  def sharedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8, minDocs: Int = 2): DataFrame = {
    val rows = shingleRows(docs, idCol, textCol, n, rebalance = false)
    val hot = rows.select(col("id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs).select(col("s"))
    val covered = rows.join(hot, Seq("s"), "leftsemi")
    val w = Window.partitionBy(col("id")).orderBy(col("i"))
    covered.withColumn("g", col("i") - row_number().over(w))
      .groupBy(col("id"), col("g"))
      .agg(min(col("i")).as("lo"), max(col("i")).as("hi"),
        count(lit(1)).as("n_slots"))
      .select(col("id").as(idCol),
        col("lo").cast("long").as("span_start"),
        (col("hi") + n - 1).cast("long").as("span_end"),
        col("n_slots").cast("long").as("n_slots"))
  }

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /**
   * Verify pass: exact n-gram Jaccard over MinHash candidate pairs.
   * Candidates shuffle twice (once per side) to pick up their shingle
   * sets — still linear in |candidates|, never corpus².
   */
  def jaccardVerified(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      minJaccard: Double = MinJaccard): DataFrame = {
    // ONE tokenize+shingle pass AND one aggregation, materialized: the
    // per-doc shingle SET (for the verify joins) and the 16 signature
    // minima (for the banding) fold in the SAME groupBy — min over the
    // occurrence multiset == min over the set, so hashing pre-aggregation
    // is bit-identical to the old explode-the-set second pass while
    // removing that pass's extra exchange and checkpoint (r19: the
    // checkpointed set frame loses its partitioning, so the old
    // signature groupBy paid a fresh corpus-sized shuffle).
    val k = 16
    val rows = shingleRows(docs, idCol, textCol, n)
      .select(col("id"), col("s"),
        XHash.h60(col("s")).as("h1"), XHash.h56(col("s")).as("h2"))
    val members = rows.select(col("id") +: col("s") +: (0 until k).map(i =>
      XHash.member(col("h1"), col("h2"), i).as(s"h$i")): _*)
    val sh = members.groupBy(col("id"))
      .agg(collect_set(col("s")).as("sh"),
        (0 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*).lineageCut
    candidatesOfSignature(
      sh.select(col("id") +: (0 until k).map(i => col(s"m$i")): _*), 8, 2)
      .join(sh.as("sa"), col("doc_a") === col("sa.id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sa.sh"), col("sb.sh")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** DF cap for the exact-ground-truth candidate stage: a shingle in
    * more than this many docs is boilerplate (the sourceRank argument)
    * and is dropped before pair generation — bounding in-bucket
    * expansion the same way the banding bounds it. */
  val TruthDfCap = 64

  /**
   * EXACT near-dup ground truth (SURVEY row 106): every pair with
   * n-gram Jaccard ≥ `minJaccard`, found WITHOUT the banding — the
   * measured complement to the S-curve theory contract: the banding's
   * detection probability is a formula about random hash families; this
   * measures what the SHIPPED hashes actually catch on the actual
   * corpus. Candidate stage = co-rare-shingle bucket pairs
   * ([[bucketPairs]] with the [[TruthDfCap]] — a J ≥ 0.6 pair shares
   * many shingles, so dropping ubiquitous ones loses no truth in
   * practice and the oracle replays the identical cap), then the exact
   * Jaccard verify over the checkpointed shingle sets. Linear in
   * co-rare-shingle pairs; the audit shape a production pipeline runs
   * periodically, not per-crawl.
   */
  def exactNearDupPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = ShingleN,
      minJaccard: Double = MinJaccard,
      maxDocs: Int = TruthDfCap): DataFrame = {
    // distinct (id, shingle) rows once, restricted to the SUB-CAP
    // (informative) shingles on BOTH sides of the statistic — a
    // boilerplate shingle (> maxDocs docs) is neither similarity
    // evidence (the sourceRank argument) nor union mass, so the
    // Jaccard here is over the informative sets; at the gated scales
    // no shingle reaches the cap and it equals plain Jaccard exactly —
    // and the dedup_banding_recall gate ASSERTS that (truth_exact_ok:
    // max shingle df ≤ cap in both engines), so a corpus whose
    // boilerplate silently shifted the truth statistic turns the gate
    // red instead of mis-measuring recall.
    // bucketPairs then emits one row per SHARED shingle, so the
    // per-pair count IS |A∩B| — no per-pair shingle-set join, no
    // array ops: the exact Jaccard needs only (i, |A|, |B|), dividing
    // the same integers the set formulation divides (bit-identical
    // doubles; measured: the set-join form cost 9.5 s at sf0.1, this
    // form ~2 s)
    val shd0 = shingleRows(docs, idCol, textCol, n, rebalance = false)
      .select(col("id"), col("s")).distinct()
    exactNearDupPairsFromRows(shd0,
      shd0.groupBy(col("s")).agg(count(lit(1)).as("nd")),
      minJaccard, maxDocs)
  }

  /** [[exactNearDupPairs]] over an already-derived distinct (id, s)
    * frame plus its per-shingle df counts — so a caller that ALSO needs
    * those frames (dedup_banding_recall's truth_exact_ok cap assertion)
    * materializes them once instead of re-tokenizing the corpus per
    * consumer (r19, guide §2.4). */
  private[graft] def exactNearDupPairsFromRows(shd0: DataFrame,
      dfCounts: DataFrame, minJaccard: Double = MinJaccard,
      maxDocs: Int = TruthDfCap): DataFrame = {
    val subcap = dfCounts.where(col("nd") <= maxDocs).select(col("s"))
    val shd = shd0.join(subcap, Seq("s"), "leftsemi").lineageCut
    val cnt = shd.groupBy(col("id")).agg(count(lit(1)).as("c"))
    val inter = bucketPairs(
        shd.select(col("s"), col("id").as("item")), Seq("s"),
        heavy = HeavyBucket, maxBucket = Some(maxDocs))
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(cnt.select(col("id").as("doc_a"), col("c").as("ca")),
        Seq("doc_a"))
      .join(cnt.select(col("id").as("doc_b"), col("c").as("cb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") /
          greatest(col("ca") + col("cb") - col("i"), lit(1L))
            .cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  // ---- chunk-level (sub-document) exact dedup, C4-style ----

  /** Non-overlapping token-chunk width for [[chunkDedup]] — the
    * granularity at which repeated boilerplate is removed (C4 removed
    * repeated three-SENTENCE spans; this corpus has no sentence marks,
    * so a fixed token window plays that role). */
  val ChunkWidth = 8

  /**
   * Sub-document exact dedup at chunk granularity: each document is cut
   * into non-overlapping [[ChunkWidth]]-token chunks, and every chunk
   * whose text already occurred anywhere earlier in the corpus — an
   * earlier (doc, position), ordered by (id, chunk index) — is dropped;
   * the FIRST occurrence (and only it) survives. This is the C4 /
   * RefinedWeb "remove repeated spans, keep one" operator, the
   * sub-document complement of [[exactKeepers]] (which can only drop
   * whole documents).
   *
   * Output: one row per document — total chunks, surviving chunks, and
   * the surviving text reassembled in chunk order (a fully-duplicated
   * document comes back with kept_chunks=0 and empty text, not dropped
   * rows — the caller decides the min-length policy).
   *
   * Scale shape: two corpus-byte shuffles, both unavoidable for a
   * reassembling chunk dedup — (1) chunk rows group on the 116-bit
   * [[XHash]] pair to elect each chunk text's first occurrence
   * (partial-agg combines duplicate-heavy maps before the exchange, so
   * a hyper-duplicated boilerplate chunk — the 100 TB hot key — reduces
   * map-side instead of skewing one reducer, which a window over the
   * hash would not); (2) decided rows group back on the id to reassemble
   * documents. The winner join is hash-pair equi — AQE handles residual
   * hot-hash skew. No window over corpus-sized partitions, no driver
   * state.
   */
  /** One row per (doc, chunk index): the chunk text and its 116-bit
    * hash pair — the shared front half of [[chunkDedup]],
    * [[chunkStore]], and [[chunkDedupIncremental]]. */
  private[graft] def chunkHashRows(docs: DataFrame, idCol: String,
      textCol: String, width: Int): DataFrame = {
    val rows = docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("ts"))
      // zero-token docs have NOTHING to chunk — and sequence(0, -1)
      // DESCENDS, so without the guard an empty doc minted idx -1
      // rows (FuzzCorpus). They drop from chunk-grain outputs entirely
      .where(size(col("ts")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((size(col("ts")) - 1) / lit(width)).cast("int"))).as("idx"),
        col("ts"))
      .select(col("doc_id"), col("idx"),
        concat_ws(" ",
          slice(col("ts"), col("idx") * width + 1, lit(width))).as("chunk"))
    rows.select(col("doc_id"), col("idx"), col("chunk"),
      XHash.h60(col("chunk")).as("h1"), XHash.h56(col("chunk")).as("h2"))
  }

  /** Reassembly back half shared by the batch and incremental chunk
    * dedups: decided rows (doc_id, idx, chunk, kept) → one row per doc. */
  private[graft] def chunkReassemble(decided: DataFrame): DataFrame =
    decided.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("kept_chunks"),
        // collect_list skips nulls → only kept chunks; array_sort on the
        // (idx, chunk) struct restores document order
        array_join(transform(
          array_sort(collect_list(
            when(col("kept"), struct(col("idx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("kept_text"))

  def chunkDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", width: Int = ChunkWidth): DataFrame = {
    val hashed = chunkHashRows(docs, idCol, textCol, width)
    val winners = hashed.groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
    chunkReassemble(hashed.join(winners, Seq("h1", "h2"))
      .withColumn("kept", struct(col("doc_id"), col("idx")) === col("w")))
  }

  /**
   * CHUNK-level decontamination (SURVEY row 105): EXCISE the
   * contaminated spans and keep the rest of the document — the
   * surgical alternative to row 38's drop-the-whole-doc decision (a
   * long document quoting one eval question loses eight tokens, not
   * ten thousand). A chunk is contaminated iff ANY eval n-gram shingle
   * of the ORIGINAL document overlaps it — shingles are matched on the
   * un-chunked token stream and flag every chunk they touch
   * (⌊i/width⌋..⌊(i+n−1)/width⌋), so leakage STRADDLING a chunk
   * boundary kills both chunks; per-chunk shingling would be blind to
   * exactly those. Reassembly is [[chunkReassemble]] — the same
   * surviving-chunks rewrite the dedup legs use.
   *
   * Scale shape: contaminatedIds' broadcast semi-join over the shingle
   * stream (eval-bounded broadcast), one ≤2-element span explode on
   * the MATCHED slots only (rare), a distinct at (doc, chunk) grain,
   * and one left join at the chunk table — all linear; the eval side
   * never touches the corpus except through the broadcast.
   */
  def chunkDecontam(docs: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      width: Int = ChunkWidth, n: Int = ShingleN): DataFrame = {
    val evalShingles = shingleRows(evalDocs, idCol, textCol, n)
      .select(col("s")).distinct()
    val bad = shingleRows(docs, idCol, textCol, n, rebalance = false)
      .join(broadcast(evalShingles), Seq("s"), "leftsemi")
      .select(col("id").as("doc_id"),
        explode(sequence(
          expr(s"CAST(i div $width AS INT)"),
          expr(s"CAST((i + ${n - 1}) div $width AS INT)"))).as("idx"))
      .distinct()
      .withColumn("bad", lit(true))
    val chunks = chunkHashRows(docs, idCol, textCol, width)
    chunkReassemble(chunks.join(bad, Seq("doc_id", "idx"), "left")
      .withColumn("kept", col("bad").isNull))
  }

  // ---- content-defined chunking (CDC) — the unaligned-repeat fix ----

  /** Target mean CDC chunk width in tokens (the boundary test fires
    * with probability 1/this per position, so chunk sizes are
    * geometric with this mean — same expected granularity as the
    * fixed [[ChunkWidth]], different boundary PLACEMENT). */
  val CdcAvgWidth = 8

  /**
   * Content-defined chunk array of a token array (r15 verdict item 2 —
   * the Gear/rolling-hash idea of Lee et al. 2022's
   * deduplicate-text-datasets at token grain): a cut falls BETWEEN
   * positions p and p+1 iff h60(t_p ⊔ t_{p+1}) ≡ 0 (mod
   * [[CdcAvgWidth]]) — the boundary depends ONLY on the two tokens
   * around it, so a repeated span reproduces its interior cuts at ANY
   * offset, and its interior chunks hash-collide across copies. Fixed
   * [[ChunkWidth]] chunking is blind to exactly this: shift a repeated
   * span by one token and every 8-token window re-aligns, every chunk
   * text changes, nothing dedups (DedupSpec drives the failing pair).
   *
   * The trade: boundaries are stochastic-by-content, so chunk sizes
   * are geometric(1/avgWidth) — mean avgWidth, a measurable tail (a
   * span of w tokens with no firing bigram makes one long chunk;
   * P[>4·avg] ≈ e⁻⁴). Real CDC adds min/max size clamps; those
   * re-introduce offset dependence (a clamp decision looks at DISTANCE
   * from the previous cut, which depends on where the span started),
   * so this operator keeps the pure content rule — the honest version
   * of the shift-invariance contract it exists to provide.
   *
   * Shape: one filter + one transform over the token array — linear
   * per document, computed inside a single projection (the per-row
   * form [[graft.streaming.Admission.probeRows]] needs — a streaming
   * crawl chunk-probes row by row with no shuffle). The lambda runs
   * interpreted (Spark HOFs don't codegen) but evaluates h60 ONCE per
   * token position; the fused-native escalation (cf.
   * functions.ShingleMinHashSig) stays available if the bench flags it.
   */
  /** The CDC cut positions (1-based: a chunk ends at p, the next
    * starts at p+1) — ONE md5 per adjacent token pair. EXPENSIVE and
    * interpreter-bound (higher-order lambdas are CodegenFallback, and
    * nothing eliminates common subexpressions inside them), so every
    * consumer must stage this as its OWN projection attribute before
    * referencing it from the chunk-assembly lambda: embedded inline,
    * the assembly re-evaluates the whole md5 filter per output chunk —
    * O(chunks × tokens) digests, measured 200 s for 5k docs at sf0.1
    * vs ~2 s staged. CollapseProject keeps the stage split because the
    * attribute is referenced more than once and the producer is not
    * cheap. */
  private[graft] def cdcCuts(ts: Column,
      avgWidth: Int = CdcAvgWidth): Column =
    // ONE native kernel pass (r19, guide item 4): the interpreted
    // filter(sequence(...)) HOF paid the lambda interpreter plus
    // re-built the pair string per position; the kernel digests each
    // adjacent pair once and is bit-identical (DedupSpec pins it, and
    // the byte stream == concat_ws(" ", t_p, t_{p+1}) by construction).
    // coalesce preserves the old when/otherwise contract exactly:
    // a NULL token array cuts to the EMPTY array, never NULL (the
    // streaming probe expansion builds bounds from this — a NULL here
    // would null the whole concat and silently drop every probe row
    // of a null-text doc).
    coalesce(
      org.apache.spark.sql.graft.bridge.column(
        graft.functions.CdcCuts(
          org.apache.spark.sql.graft.bridge.expression(ts), avgWidth)),
      array().cast("array<int>"))

  /** Chunk assembly over a PRE-STAGED cut array (see [[cdcCuts]]):
    * only integer bounds arithmetic and slices — cheap enough that its
    * per-element re-evaluation inside the lambda doesn't matter. */
  private[graft] def cdcChunksFromCuts(ts: Column, cuts: Column): Column = {
    val bounds = concat(array(lit(0)), cuts, array(size(ts)))
    transform(sequence(lit(1), size(bounds) - 1), j =>
      concat_ws(" ", slice(ts, element_at(bounds, j) + 1,
        element_at(bounds, j + 1) - element_at(bounds, j))))
  }

  /** One-expression convenience form (spec fixtures, tiny inputs ONLY):
    * embeds [[cdcCuts]] inside the assembly, so it re-evaluates the md5
    * filter per output chunk — quadratic. Hot paths stage the two
    * halves instead ([[cdcChunkHashRows]], Admission.probeRows). */
  private[graft] def cdcChunksArr(ts: Column,
      avgWidth: Int = CdcAvgWidth): Column =
    cdcChunksFromCuts(ts, cdcCuts(ts, avgWidth))

  /** One row per (doc, CDC chunk index) with the 116-bit hash pair —
    * [[chunkHashRows]]' content-defined twin; downstream election and
    * reassembly are shared verbatim. */
  private[graft] def cdcChunkHashRows(docs: DataFrame, idCol: String,
      textCol: String, avgWidth: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        Text.tokens(col(textCol)).as("__ts"))
      // zero-token docs chunk to nothing (the fixed-width chunker's
      // contract; without the guard bounds [0,0] minted one "" chunk)
      .where(size(col("__ts")) > 0)
      .select(col("doc_id"), col("__ts"),
        cdcCuts(col("__ts"), avgWidth).as("__cuts"))
      .select(col("doc_id"),
        posexplode(cdcChunksFromCuts(col("__ts"), col("__cuts"))))
      .toDF("doc_id", "idx", "chunk")
      .select(col("doc_id"), col("idx"), col("chunk"),
        XHash.h60(col("chunk")).as("h1"), XHash.h56(col("chunk")).as("h2"))

  /** [[chunkDedup]] over content-defined chunks: same first-occurrence
    * election on the hash pair, same reassembly — only the boundary
    * rule changes, and with it WHICH repeats are catchable: a repeated
    * span shifted by any offset now dedups through its interior
    * chunks. Scale shape identical to [[chunkDedup]] (two corpus-byte
    * shuffles, map-side combine on the hyper-duplicated chunks). */
  def cdcChunkDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", avgWidth: Int = CdcAvgWidth): DataFrame = {
    val hashed = cdcChunkHashRows(docs, idCol, textCol, avgWidth)
    val winners = hashed.groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
    chunkReassemble(hashed.join(winners, Seq("h1", "h2"))
      .withColumn("kept", struct(col("doc_id"), col("idx")) === col("w")))
  }

  /** The CDC chunk-hash store — [[chunkStore]]'s content-defined twin
    * (16 bytes per distinct chunk, the only artifact the incremental
    * leg reads). */
  def cdcChunkStore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", avgWidth: Int = CdcAvgWidth): DataFrame =
    cdcChunkHashRows(docs, idCol, textCol, avgWidth)
      .select(col("h1"), col("h2")).distinct()

  /** Incremental [[cdcChunkDedup]]: a new crawl's content-defined
    * chunks dedup against the persisted [[cdcChunkStore]] plus
    * first-in-batch election — the row-80 lifecycle on CDC boundaries,
    * which is where CDC matters MOST: cross-snapshot boilerplate
    * arrives at arbitrary offsets inside fresh pages, exactly the
    * alignment fixed chunks lose. */
  def cdcChunkDedupIncremental(newDocs: DataFrame, store: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      avgWidth: Int = CdcAvgWidth): DataFrame = {
    val hashed = cdcChunkHashRows(newDocs, idCol, textCol, avgWidth)
    val flagged = hashed.join(
      store.select(col("h1"), col("h2"), lit(true).as("in_store")),
      Seq("h1", "h2"), "left_outer")
    val winners = hashed.groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
    chunkReassemble(flagged.join(winners, Seq("h1", "h2"))
      .withColumn("kept", col("in_store").isNull &&
        struct(col("doc_id"), col("idx")) === col("w")))
  }

  /** The persistable chunk-hash store: the distinct 116-bit pairs of
    * every chunk a corpus snapshot contains — 16 bytes per distinct
    * chunk, the artifact [[chunkDedupIncremental]] dedups new crawls
    * against without re-reading a byte of old text. */
  def chunkStore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", width: Int = ChunkWidth): DataFrame =
    chunkHashRows(docs, idCol, textCol, width)
      .select(col("h1"), col("h2")).distinct()

  /**
   * Incremental [[chunkDedup]] — the sub-document leg of the
   * incremental-crawl story (the dedup signature store, the lexicon,
   * and the IVF+PQ index already close this loop at their grains): a
   * NEW batch's chunks dedup against the persisted [[chunkStore]] of
   * the old snapshot plus first-occurrence-wins within the batch, and
   * each batch document reassembles from its survivors. Old data is
   * touched only through the 16-bytes-per-chunk store; the plan is the
   * batch operator plus one (h1,h2) anti-membership join.
   */
  def chunkDedupIncremental(newDocs: DataFrame, store: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      width: Int = ChunkWidth): DataFrame = {
    val hashed = chunkHashRows(newDocs, idCol, textCol, width)
    val flagged = hashed.join(
      store.select(col("h1"), col("h2"), lit(true).as("in_store")),
      Seq("h1", "h2"), "left_outer")
    val winners = hashed.groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
    chunkReassemble(flagged.join(winners, Seq("h1", "h2"))
      .withColumn("kept", col("in_store").isNull &&
        struct(col("doc_id"), col("idx")) === col("w")))
  }
}
