package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sources.Sources

/**
 * SURVEY.md §2 rows 25-28: deduplication over the `documents` table.
 * Exact dedup is oracle-checked; the hash-family ops (MinHash/SimHash)
 * depend on Spark's xxhash64 so they are rows-only — their *verify*
 * passes (exact Jaccard / hamming) make the outputs meaningful anyway.
 */
object DedupQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Sources.table(s, dir, "documents")

  /** Old-snapshot/new-batch split for the incremental-dedup gate: a
    * deterministic id partition, so the oracle can replay both sides.
    * The chained (two-crawl) gate splits the new space further into
    * batch A (even thirds) and batch B (odd thirds). */
  /** Skew-gate fixture (r17 verdict item 6): a 60-token boilerplate
    * span and the ABSOLUTE id cut below which every doc becomes a
    * near-dup of it — sized so the shared LSH buckets cross
    * Dedup.HeavyBucket at sf0.1 (~0.93·700 = 654 docs per band bucket)
    * while the pair volume stays ~C(700,2) at any scale. */
  private[graft] val SkewBoiler: String =
    (0 until 60).map(i => s"boiler$i").mkString(" ")
  private[graft] val SkewCut = 700L

  private[graft] val OldWhere = "doc_id % 3 <> 0"
  private[graft] val NewWhere = "doc_id % 3 = 0"
  private[graft] val BatchAWhere = "doc_id % 6 = 0"
  private[graft] val BatchBWhere = "doc_id % 6 = 3"

  /** The cached artifacts below derive from the documents table only
    * ([[graft.tools.LocalFs.cached]] keys them on its fingerprint). */
  private val Docs = Seq("documents.parquet")

  /** The OLD snapshot's signature store, built once per source dataset —
    * the persisted artifact the incremental query dedups against; the
    * old documents are never read again. */
  private[graft] def ensureStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("sigstore", dir, Docs) { p =>
      Dedup.signatureStore(docs(s, dir).where(expr(OldWhere)))
        .write.mode("overwrite").parquet(p)
    }

  /** Chunk-hash store of the OLD snapshot (16 bytes per distinct
    * chunk). */
  private[graft] def ensureChunkStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("chunkstore", dir, Docs) { p =>
      Dedup.chunkStore(docs(s, dir).where(expr(OldWhere)))
        .write.mode("overwrite").parquet(p)
    }

  /** CDC chunk-hash store of the OLD snapshot — [[ensureChunkStore]]'s
    * content-defined twin. */
  private[graft] def ensureCdcChunkStore(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.tools.LocalFs.cached("cdcstore", dir, Docs) { p =>
      Dedup.cdcChunkStore(docs(s, dir).where(expr(OldWhere)))
        .write.mode("overwrite").parquet(p)
    }

  /** The CDC store AFTER one maintenance cycle: window A's
    * (BatchAWhere) novel chunk keys appended to the OLD-slice store,
    * then folded physical via the distinct-rewrite two-rename swap
    * (Dedup.compactChunkStore). This executes the EVICTION rung of the
    * streaming CDC dedup (SURVEY §4): the stream that restarts after
    * the cycle probes the ENLARGED store with EMPTY state
    * (stream_chunks_cdc_compacted), so streaming state is bounded by
    * the compaction cadence, never the corpus. */
  private[graft] def ensureCdcCompactedStore(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.tools.LocalFs.cached("cdccompact", dir, Docs) { p =>
      val basePath = ensureCdcChunkStore(s, dir)
      // 1. the base artifact: the OLD snapshot's store
      graft.sources.Sources.parquet(s, basePath).write.mode("overwrite").parquet(p)
      // 2. the maintenance append — window A's NOVEL keys only (the
      //    same anti-membership probe the stream ran); anti side reads
      //    the ORIGINAL store path, never the dir being appended to
      Dedup.cdcChunkStore(docs(s, dir).where(expr(BatchAWhere)))
        .join(graft.sources.Sources.parquet(s, basePath), Seq("h1", "h2"), "left_anti")
        .write.mode("append").parquet(p)
      // 3. eviction made physical: distinct rewrite + two-rename swap
      Dedup.compactChunkStore(s, p)
    }

  /** The packed-shard artifact (members + physical sequence files),
    * written once per dataset; Corpus.writeShards itself takes any FS
    * root. */
  private def ensureShards(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("shards", dir, Docs) { p =>
      graft.dedup.Corpus.writeShards(docs(s, dir), p, seqLen = 256, shards = 8)
    }

  /** Eval fraction of the dedup-aware split (#38c/d): 1/SplitMod of
    * docs by stable id hash — measured so the leakage gate is
    * non-vacuous at sf0.001 AND sf0.01 (13 / 10 straddling verified
    * pairs; mod 8 would leave 1 at the smallest fixture). */
  private[graft] val SplitMod = 5L

  /** The split side of a doc: one per-row hash expression, stable under
    * any repartition or reordering (never positional). */
  private[graft] def isEval: org.apache.spark.sql.Column =
    pmod(graft.functions.XHash.h60(
      concat(lit("sp:"), col("doc_id").cast("string"))), lit(SplitMod)) === 0L

  private def evalSide: org.apache.spark.sql.Column = isEval.as("is_eval")

  /** Persisted eval-side LSH band artifact for the STREAMING split
    * guard (stream_split_guard): the (k1, k2, eval_id) band rows of the
    * EVAL docs, computed once from the reference corpus by the same
    * per-row expression the stream probes with (Admission.bandProbes) —
    * ~1/SplitMod of the corpus × 8 rows of hashes, the
    * signature-store scale argument. */
  private[graft] def ensureEvalBands(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.tools.LocalFs.cached("evalbands", dir, Docs) { p =>
      graft.streaming.Admission.bandProbes(docs(s, dir).where(isEval))
        .withColumnRenamed("doc_id", "eval_id")
        .write.parquet(p)
    }

  /** DuckDB replay of the split assignment. */
  private[graft] def splitAssignSql: String =
    s"""SELECT doc_id,
          (${graft.functions.XHash.h60Sql("'sp:' || CAST(doc_id AS VARCHAR)")}
            % $SplitMod = 0) AS is_eval
        FROM documents"""

  /** The pack-time mixture contract of the quota gates (#41e/f):
    * twelve capped sources cycling 400/800/1200 tokens (each binds —
    * every source holds ~1.3k tokens at sf0.01 and more at 10×), the
    * rest uncapped. Both engines replay this one constant. */
  private[graft] val PackQuotas: Seq[(String, Long)] =
    (0 until 12).map(i => s"src$i" -> (400L * (i % 3 + 1)))

  /** DuckDB replay of the quota when-chain (-1 = uncapped). */
  private def quotaCaseSql(src: String): String =
    s"CASE $src " + PackQuotas.map { case (s0, q) =>
      s"WHEN '$s0' THEN $q" }.mkString(" ") + " ELSE -1 END"

  /** LANGUAGE quotas at pack time (SURVEY row 116, r15 verdict item 4
    * — the mixture contract every production pipeline states BEFORE
    * source: CommonCrawl-scale corpora quota by language or an
    * anglophone crawl floods the pack). Keys are the PREDICTED langid
    * bucket (row 32's classifier — the production shape; ground-truth
    * labels don't exist on a real crawl). Honest corpus note: the
    * driver's synthetic text is English-ish whatever its `lang` label,
    * so lang_pred collapses to {en, und} here — which still exercises
    * BOTH quota arms on the real gate data (en ≈ 24k tokens vs the 3k
    * cap → binds hard at sf0.01 and 10×; und ≈ 1k tokens, uncapped →
    * passes through whole), and QuotaSpec drives the es cap on a
    * genuinely-Spanish fixture so the multi-language arm is pinned
    * too, not latent. */
  private[graft] val LangQuotas: Seq[(String, Long)] =
    Seq("en" -> 3000L, "es" -> 2000L)

  private def langQuotaCaseSql(lang: String): String =
    s"CASE $lang " + LangQuotas.map { case (l, q) =>
      s"WHEN '$l' THEN $q" }.mkString(" ") + " ELSE -1 END"

  /** Mixture weights for the water-filling solver (SURVEY row 104):
    * the twenty named sources cycling weight 1..4 — every weight
    * divides lcm 12, so the solver's rational sort key avail·12/w is
    * integer-exact. Declared as a formula of the source NUMBER so the
    * oracle replays it without a 20-entry case. */
  private[graft] val MixWeights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1L)).toMap

  /** The epoch seed `corpus_pack_shuffled` gates at — an arbitrary
    * epoch number; QuotaSpec exercises other seeds to pin
    * seed-sensitivity, this one is merely the oracle-replayed sample. */
  private[graft] val PackShuffleSeed = 7L

  /** DuckDB replay of Corpus.mixSolve over `documents`: one CTE chain
    * ending in `solve(source, weight, avail, alloc, saturated)`. The
    * budget is 9/10 of total tokens — measured to make the saturation
    * decision genuinely split (high-weight sources saturate on their
    * availability, low-weight ones stay proportional). Wide products
    * (avail·(lcm/w), budget·w) run in HUGEINT — the twin of the Spark
    * side's DECIMAL(38,0) overflow armor; these weights have gcd 1 so
    * the normalized set the Spark side decides on is the declared one. */
  private[graft] def mixSolveCtes(): String = s"""
        av AS (
          SELECT source,
            CAST(sum(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')))
              AS BIGINT) AS avail,
            (CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS w
          FROM documents GROUP BY source),
        tot AS (
          SELECT CAST(sum(avail) AS BIGINT) AS ta,
            CAST(sum(w) AS BIGINT) AS tw FROM av),
        srt AS (
          SELECT source, avail, w, CAST(ta AS HUGEINT) * 9 // 10 AS bud, tw,
            row_number() OVER (
              ORDER BY CAST(avail AS HUGEINT) * (12 // w), source) AS pos,
            CAST(sum(avail) OVER (
              ORDER BY CAST(avail AS HUGEINT) * (12 // w), source
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
            CAST(sum(w) OVER (
              ORDER BY CAST(avail AS HUGEINT) * (12 // w), source
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw
          FROM av CROSS JOIN tot),
        sat AS (
          SELECT *, CAST(avail AS HUGEINT) * (tw - (cumw - w))
              <= (bud - (cuma - avail)) * w
            AS satur
          FROM srt),
        ks AS (SELECT min(CASE WHEN NOT satur THEN pos END) AS kstar
               FROM sat),
        pre AS (
          SELECT COALESCE(max(CASE WHEN pos < kstar THEN cuma END), 0)
              AS cumaK,
            COALESCE(max(CASE WHEN pos < kstar THEN cumw END), 0) AS cumwK
          FROM sat CROSS JOIN ks),
        solve AS (
          SELECT source, CAST(w AS BIGINT) AS weight, avail,
            CAST(CASE WHEN kstar IS NULL OR pos < kstar THEN avail
              ELSE (bud - cumaK) * w // (tw - cumwK) END AS BIGINT)
              AS alloc,
            (kstar IS NULL OR pos < kstar) AS saturated
          FROM sat CROSS JOIN ks CROSS JOIN pre)"""

  /** DuckDB replay of Corpus.mixSolveRepeat (SURVEY row 111): the
    * mixSolveCtes structure with SUPPLY = avail·epochs driving every
    * decision (sort key, saturation, allocation) while the budget
    * stays a fraction of Σavail — ends in `rsolve` carrying the epoch
    * split. Same HUGEINT armor, same weight formula. */
  private[graft] def mixSolveRepeatCtes(epochs: Int, budNum: Int,
      budDen: Int): String = s"""
        av AS (
          SELECT source,
            CAST(sum(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')))
              AS BIGINT) AS avail,
            CAST(sum(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')))
              * $epochs AS BIGINT) AS sup,
            (CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS w
          FROM documents GROUP BY source),
        tot AS (
          SELECT CAST(sum(avail) AS BIGINT) AS ta,
            CAST(sum(w) AS BIGINT) AS tw FROM av),
        srt AS (
          SELECT source, avail, sup, w,
            CAST(ta AS HUGEINT) * $budNum // $budDen AS bud, tw,
            row_number() OVER (
              ORDER BY CAST(sup AS HUGEINT) * (12 // w), source) AS pos,
            CAST(sum(sup) OVER (
              ORDER BY CAST(sup AS HUGEINT) * (12 // w), source
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
            CAST(sum(w) OVER (
              ORDER BY CAST(sup AS HUGEINT) * (12 // w), source
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw
          FROM av CROSS JOIN tot),
        sat AS (
          SELECT *, CAST(sup AS HUGEINT) * (tw - (cumw - w))
              <= (bud - (cuma - sup)) * w
            AS satur
          FROM srt),
        ks AS (SELECT min(CASE WHEN NOT satur THEN pos END) AS kstar
               FROM sat),
        pre AS (
          SELECT COALESCE(max(CASE WHEN pos < kstar THEN cuma END), 0)
              AS cumaK,
            COALESCE(max(CASE WHEN pos < kstar THEN cumw END), 0) AS cumwK
          FROM sat CROSS JOIN ks),
        solve AS (
          SELECT source, CAST(w AS BIGINT) AS weight, avail, sup,
            CAST(CASE WHEN kstar IS NULL OR pos < kstar THEN sup
              ELSE (bud - cumaK) * w // (tw - cumwK) END AS BIGINT)
              AS alloc,
            (kstar IS NULL OR pos < kstar) AS saturated
          FROM sat CROSS JOIN ks CROSS JOIN pre),
        rsolve AS (
          SELECT *,
            CAST(CASE WHEN avail = 0 THEN 0 ELSE alloc // avail END
              AS BIGINT) AS full_epochs,
            CAST(CASE WHEN avail = 0 THEN 0 ELSE alloc % avail END
              AS BIGINT) AS resid_toks
          FROM solve)"""

  /** DuckDB replay of Corpus.quotaAdmit over `documents`: inclusive
    * per-source running token sum in doc-id order, kept while ≤ quota.
    * (The Spark side's two-pass bucket formulation computes the same
    * prefix sum — the buckets are an execution detail.) */
  private def quotaAdmittedSql(): String =
    s"""SELECT doc_id, source, n_toks FROM (
          SELECT doc_id, source,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS BIGINT) AS n_toks,
            SUM(CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS BIGINT))
              OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents)
        WHERE ${quotaCaseSql("source")} < 0
           OR cum <= ${quotaCaseSql("source")}"""

  /** The quota-packed shard artifact (#41e/f); members carry
    * `source`. */
  private def ensureQuotaShards(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("quotashards", dir, Docs) { p =>
      graft.dedup.Corpus.writeShardsQuota(docs(s, dir), p, PackQuotas,
        seqLen = 256, shards = 8)
    }

  /** The UPDATED store for the chained gate: old snapshot ∪ batch A's
    * keeper signatures, produced by copying the base store and running
    * [[Dedup.appendKeepersToStore]] on batch A — the update step itself
    * touches old data only through the store parquet. */
  private def ensureChainedStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("sigstore", dir, Docs, "chain") { p =>
      val base = ensureStore(s, dir)
      graft.sources.Sources.parquet(s, base).write.mode("overwrite").parquet(p)
      Dedup.appendKeepersToStore(s, docs(s, dir).where(expr(BatchAWhere)), p)
    }

  /** The retired slice of the old snapshot (⊂ OldWhere: 1 mod 9 and
    * 4,7 mod 9 are nonzero mod 3 — only 1 mod 9 is used, a ninth of
    * the corpus): the documents snapshotDiff would route to `removed`. */
  private val RetireWhere = "doc_id % 9 = 1"

  /** The store AFTER retirement: base-store copy + tombstone rows for
    * the retired slice ([[Dedup.retireFromStore]] — append-only, no
    * rewrite). */
  private def ensureRetiredStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("sigstore", dir, Docs, "retired") { p =>
      val base = ensureStore(s, dir)
      graft.sources.Sources.parquet(s, base).write.mode("overwrite").parquet(p)
      Dedup.retireFromStore(s,
        docs(s, dir).where(expr(RetireWhere)).select(col("doc_id")), p)
    }

  /** Shared oracle for both integrity gates (bucketing must change the
    * plan, never the answer). */
  private val integritySql = """
        WITH dd AS (
          SELECT doc_id AS id, COUNT(*) AS dn FROM documents
          WHERE doc_id % 13 <> 5 GROUP BY 1),
        vv AS (
          SELECT vec_id AS id, COUNT(*) AS vn FROM embeddings
          WHERE vec_id % 11 <> 3 GROUP BY 1)
        SELECT CAST(SUM(COALESCE(dn, 0)) AS BIGINT) AS n_docs,
          CAST(SUM(COALESCE(vn, 0)) AS BIGINT) AS n_vecs,
          CAST(SUM(CASE WHEN vn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS docs_without_vec,
          CAST(SUM(CASE WHEN dn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS vecs_without_doc,
          CAST(SUM(CASE WHEN dn > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS dup_doc_ids,
          CAST(SUM(CASE WHEN vn > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS dup_vec_ids
        FROM dd FULL OUTER JOIN vv USING (id)"""

  private[graft] val BucketedDocsTable = "graft_docs_bucketed"
  private[graft] val BucketedEmbsTable = "graft_embs_bucketed"

  /** Write documents/embeddings as EXTERNAL id-bucketed tables (16
    * buckets, sorted within) under /tmp — the warehouse layout a 100 TB
    * deployment keeps its corpus in so id-keyed joins and aggregations
    * co-locate without shuffles. The data lives at the artifact-cache
    * path of both inputs, so a regenerated dataset rewrites; a second
    * call in the same session (bench sweeps) finds both tables already
    * at that path and is a metadata no-op. */
  private[graft] def ensureBucketedTables(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = synchronized {
    val root = graft.tools.LocalFs.path("bucketed", dir,
      Docs :+ "embeddings.parquet")
    def at(table: String, sub: String): Boolean =
      s.catalog.tableExists(table) && s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.getPath.stripSuffix("/") == s"$root/$sub"
    if (!at(BucketedDocsTable, "docs") || !at(BucketedEmbsTable, "embs")) {
      graft.tools.LocalFs.deleteRec(java.nio.file.Paths.get(root).getParent)
      s.sql(s"DROP TABLE IF EXISTS $BucketedDocsTable")
      s.sql(s"DROP TABLE IF EXISTS $BucketedEmbsTable")
      Sources.table(s, dir, "documents")
        .write.bucketBy(16, "doc_id").sortBy("doc_id")
        .option("path", s"$root/docs").mode("overwrite")
        .saveAsTable(BucketedDocsTable)
      Sources.table(s, dir, "embeddings")
        .write.bucketBy(16, "vec_id").sortBy("vec_id")
        .option("path", s"$root/embs").mode("overwrite")
        .saveAsTable(BucketedEmbsTable)
    }
  }

  def all: Seq[Q] = Seq(

    // #25 exact dedup: group by normalized content hash, keep min doc_id
    Q("dedup_exact",
      (s, dir) => docs(s, dir)
        .groupBy(Dedup.contentKey(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper")),
      Some("""
        SELECT md5(regexp_replace(regexp_replace(lower(text), '[ \t\n\f\r\x0B]+', ' ', 'g'), '(^ )|( $)', '', 'g')) AS fp,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(MIN(doc_id) AS BIGINT) AS keeper
        FROM documents GROUP BY 1""")),

    // #26 MinHash+LSH candidate pairs (8 bands × 2 rows over word
    // 3-gram shingles — targets Jaccard ≳ 0.5). Oracle replays the md5
    // double-hash family + banding in DuckDB (DedupSql).
    Q("dedup_minhash",
      (s, dir) => Dedup.minhashCandidates(docs(s, dir)),
      Some(DedupSql.minhashCandidates())),

    // #25s the SKEW gate (r17 verdict item 6): 100 TB crawls are not
    // uniform — one domain's boilerplate can put thousands of near-dup
    // pages in ONE LSH bucket, which is exactly the regime bucketPairs'
    // heavy path (Dedup.HeavyBucket=512: sort-merge self-join instead
    // of the in-memory array expansion) exists for. This leg derives a
    // bounded skew IN-QUERY — every doc below SkewCut becomes the
    // same 60-token boilerplate plus a distinct tail token — and runs
    // the real banding + pair generation over it. At sf0.1 the 700-doc
    // population shares band buckets (~93% per band: P(both row-mins
    // from the 58 boilerplate shingles) = (58/60)^2 → ~654 docs), so
    // max_bucket clears 512: the heavy regime EXECUTES in the driver
    // bench and the gate hashes its output. At sf0.01 (500 docs) the
    // same query exercises the boundary from below — engagement is a
    // data-derived column on both sides, never a pinned literal, so
    // the oracle stays green at every scale. Cost is bounded by
    // construction: the skew population is ABSOLUTE (700), so the
    // pair volume is ~C(700,2) at any sf — a gate, not a cliff. The
    // signature computes ONCE (bounded localCheckpoint: one row per
    // doc) and feeds both the pair generation and the bucket
    // histogram.
    Q("dedup_minhash_skew",
      (s, dir) => {
        val skewed = docs(s, dir).select(col("doc_id"),
          when(col("doc_id") < SkewCut,
            concat(lit(SkewBoiler + " tail"),
              col("doc_id").cast("string")))
            .otherwise(col("text")).as("text"))
        val sig = Dedup.minhashSignature(skewed).localCheckpoint()
        val pairs = Dedup.candidatesOfSignature(sig,
            Dedup.Bands, Dedup.RowsPerBand)
          .agg(count(lit(1)).cast("long").as("n_pairs"))
        val bs = Dedup.bandedKeys(sig, Dedup.Bands, Dedup.RowsPerBand)
          .groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("c"))
          .agg(max(col("c")).cast("long").as("max_bucket"),
            sum(when(col("c") > Dedup.HeavyBucket, 1L).otherwise(0L))
              .cast("long").as("heavy_buckets"))
        pairs.crossJoin(bs).select(col("n_pairs"), col("max_bucket"),
          col("heavy_buckets"),
          (col("max_bucket") > Dedup.HeavyBucket).as("heavy_engaged"))
      },
      Some(DedupSql.minhashSkewGate(SkewBoiler, SkewCut))),

    // #26b MEASURED banding recall (SURVEY row 106): the S-curve
    // contract (Dedup's declared detection floor, spec-derived
    // geometry) is a THEOREM about random hash families; this gate
    // measures what the SHIPPED hashes catch on the ACTUAL corpus —
    // exact ground truth (co-rare-shingle candidates under the
    // TruthDfCap, exact Jaccard verify, NO banding anywhere in the
    // truth path) left-joined against the banding's candidate pairs,
    // with the measured 950-per-mille floor asserted TRUE. A hash
    // family or geometry change that degrades real detection turns
    // this red even if it replays consistently in both engines —
    // the approx_ok discipline applied to the dedup family's one
    // approximate stage.
    Q("dedup_banding_recall",
      (s, dir) => {
        val d = docs(s, dir)
        // truth_exact_ok: the ground truth's TruthDfCap is documented
        // as linearity armor that never BINDS at the gated scales —
        // assert that, so the "exact" in the contract stays literal: if
        // boilerplate ever pushes a shingle's df past the cap, the
        // truth set silently shifts to informative-shingle Jaccard and
        // this column turns the gate red instead.
        // The distinct (id, shingle) frame and its df counts are
        // materialized ONCE and shared with the truth path (r19, guide
        // §2.4: this gate previously tokenized+shingled the corpus a
        // second time just for the cap assertion).
        val shd0 = Dedup.shingleRows(d, rebalance = false)
          .select(col("id"), col("s")).distinct().localCheckpoint()
        val dfc = shd0.groupBy(col("s")).agg(count(lit(1)).as("nd"))
          .localCheckpoint()
        val capOk = dfc
          .agg((max(col("nd")) <= lit(Dedup.TruthDfCap.toLong))
            .as("truth_exact_ok"))
        val truth = Dedup.exactNearDupPairsFromRows(shd0, dfc)
          .join(Dedup.minhashCandidates(d)
            .withColumn("caught", lit(true)), Seq("doc_a", "doc_b"), "left")
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            coalesce(col("caught"), lit(false)).as("caught"))
          .localCheckpoint()
        // one aggregate row broadcast back, not a partitionless window
        // that would gather every truth pair into one task
        val recallOk = truth.agg(
          (sum(when(col("caught"), 1L).otherwise(0L)) * 1000 >=
            lit(Dedup.MinBandingRecallPerMille) * count(lit(1))).as("recall_ok"))
        truth.crossJoin(broadcast(recallOk))
          .crossJoin(broadcast(capOk))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(DedupSql.bandingRecall())),

    // #27 SimHash near-dups: 60-bit hash, 4×15-bit bands, hamming ≤ 3
    // verify (the full-recall bound for 4-band banding)
    Q("dedup_simhash",
      (s, dir) => Dedup.simhashPairs(docs(s, dir)),
      Some(DedupSql.simhashPairs())),

    // #28 exact n-gram Jaccard verify pass over the MinHash candidates
    Q("dedup_jaccard",
      (s, dir) => Dedup.jaccardVerified(docs(s, dir)),
      Some(DedupSql.jaccardVerified())),

    // #26b banding observability: the bucket-population histogram that
    // sizes LSH parameters before a corpus-scale run (largest bucket =
    // worst quadratic task)
    Q("dedup_bucket_stats",
      (s, dir) => Dedup.bucketStats(docs(s, dir)),
      Some(DedupSql.bucketStats())),

    // #28b connected-component near-dup clusters over the verified pair
    // graph (min-label propagation; oracle = recursive transitive
    // closure in DuckDB)
    Q("dedup_clusters",
      (s, dir) => Dedup.clusters(docs(s, dir)),
      Some(DedupSql.clusters())),

    // #28c QUALITY-aware canonical election: per near-dup cluster, keep
    // the member with the BEST per-token quality instead of the min id
    // — the dedup × quality interaction a real pipeline wants (the
    // lowest-id copy of a page is often the worst-scraped one). The
    // election key is exact-integer: per-token quality num/n ordered by
    // the quantized (num + 940·n)·1000 div n — the +940·n shift (the
    // model's per-token minimum is -940 milli: weight floor -1000 +
    // bias 60) keeps the dividend NON-NEGATIVE so Spark's
    // truncate-toward-zero div and DuckDB's floor // agree; ties elect
    // the min id. One groupBy max_by (partial-agg, no per-cluster
    // window — a pathological giant cluster stays distributed). The
    // min-id baseline rides along with a `differs` flag, so the gate
    // itself shows the quality election changing real decisions.
    Q("dedup_canonical",
      (s, dir) => {
        val d = docs(s, dir)
        val q = graft.text.Text.qualityModelRaw(d)
          .withColumn("qkey",
            expr(graft.text.Text.qmKeyExpr))
          .select(col("doc_id"), col("qkey"))
        Dedup.clusters(d).join(q, Seq("doc_id"))
          .groupBy(col("cluster_id")).agg(
            count(lit(1)).as("n_members"),
            max_by(col("doc_id"),
              struct(col("qkey"), col("doc_id") * lit(-1L)))
              .as("canonical_id"),
            min(col("doc_id")).as("minid_id"))
          .withColumn("differs", col("canonical_id") =!= col("minid_id"))
      },
      Some {
        val h = graft.functions.XHash.h60Sql("'qm:' || t")
        s"""
        WITH cl AS (SELECT * FROM (${DedupSql.clusters()})),
        tk AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        qd AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(($h % ${graft.text.Text.QmBuckets})
                * 2654435761 % 2000 - 1000)
              + ${graft.text.Text.QmBiasNum} * count(*) AS BIGINT) AS num
          FROM tk GROUP BY doc_id),
        m AS (
          SELECT cl.cluster_id, cl.doc_id,
            ${graft.text.Text.qmKeySql("qd.num", "qd.n_tokens")} AS qkey
          FROM cl JOIN qd USING (doc_id)),
        r AS (
          SELECT cluster_id, doc_id, qkey,
            row_number() OVER (PARTITION BY cluster_id
              ORDER BY qkey DESC, doc_id ASC) AS rn,
            count(*) OVER (PARTITION BY cluster_id) AS n_members,
            min(doc_id) OVER (PARTITION BY cluster_id) AS minid_id
          FROM m)
        SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
          doc_id AS canonical_id, minid_id,
          doc_id <> minid_id AS differs
        FROM r WHERE rn = 1"""
      }),

    // #25d incremental CROSS-SNAPSHOT dedup — the operation a real
    // pipeline runs per crawl: dedup a NEW batch (doc_id % 3 = 0)
    // against the persisted signature store of the OLD snapshot
    // (doc_id % 3 <> 0) without re-reading or re-signing the old
    // corpus. The store (fp + minhash columns) is built once per sfDir
    // by ensureStore; the query's plan touches old data only through
    // that parquet. The oracle replays BOTH snapshots and all four
    // filters (within-batch exact, cross exact, cross band-collision,
    // within-batch candidate drop).
    Q("dedup_incremental",
      (s, dir) => {
        val store = graft.sources.Sources.parquet(s, ensureStore(s, dir))
        Dedup.incrementalKeepers(
          docs(s, dir).where(expr(NewWhere)), store)
          .select(col("doc_id").cast("long").as("doc_id"))
      },
      Some(DedupSql.incrementalKeepers(OldWhere, NewWhere))),

    // #25d2 the CLOSED incremental loop — two crawls chained through one
    // evolving store: batch A dedups against the old-snapshot store and
    // its keepers' signatures are APPENDED back (Dedup
    // .appendKeepersToStore); batch B then dedups against the updated
    // store, so an A-duplicate in B drops exactly as an old-duplicate
    // does. The oracle replays the whole chain (A's four filters, the
    // store union, B's four filters) from the raw documents; the Spark
    // plan reads old data and batch A only through the store parquet.
    Q("dedup_incremental2",
      (s, dir) => {
        val store = graft.sources.Sources.parquet(s, ensureChainedStore(s, dir))
        Dedup.incrementalKeepers(
          docs(s, dir).where(expr(BatchBWhere)), store)
          .select(col("doc_id").cast("long").as("doc_id"))
      },
      Some(DedupSql.incrementalChained(OldWhere, BatchAWhere, BatchBWhere))),

    // #25d3 store RETIREMENT — the `removed` leg of corpus_diff's
    // routing table closed into the store lifecycle: the retired
    // slice's ids are tombstoned (append-only, O(retired)), the next
    // crawl dedups against the LIVE store only, so a new doc whose
    // sole duplicate was retired is keepable again. The oracle replays
    // the keepers against the SHRUNK population (old minus retired) —
    // tombstones that fail to shadow their data rows, or shadow ids
    // they shouldn't, hash-mismatch. DedupSpec proves the red path
    // (a doc kept HERE that dedup_incremental drops) and that
    // compaction folds tombstones physically without changing answers.
    Q("dedup_retire",
      (s, dir) => {
        val store = Dedup.liveStore(
          graft.sources.Sources.parquet(s, ensureRetiredStore(s, dir)))
        Dedup.incrementalKeepers(docs(s, dir).where(expr(NewWhere)), store)
          .select(col("doc_id").cast("long").as("doc_id"))
      },
      Some(DedupSql.incrementalKeepers(
        s"($OldWhere) AND NOT ($RetireWhere)", NewWhere))),

    // #25c boilerplate line removal (C4/RefinedWeb): lines whose
    // normalized form appears in >= 3 distinct docs are stripped
    // everywhere, order preserved. Oracle rebuilds each doc with the
    // same normalization, threshold, and position sort.
    Q("corpus_boilerplate",
      (s, dir) => graft.dedup.Corpus.stripBoilerplate(docs(s, dir), minDocs = 3)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").as("clean_text")),
      Some("""
        WITH ls AS (
          SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents),
        lines AS (
          SELECT doc_id,
            unnest(range(1, len(parts) + 1)) AS pos,
            unnest(parts) AS ln
          FROM ls),
        hot AS (
          SELECT regexp_replace(regexp_replace(lower(ln), '[ \t\n\f\r\x0B]+', ' ', 'g'), '(^ )|( $)', '', 'g') AS n FROM lines
          WHERE regexp_replace(regexp_replace(lower(ln), '[ \t\n\f\r\x0B]+', ' ', 'g'), '(^ )|( $)', '', 'g') <> ''
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
        kept AS (
          SELECT doc_id, pos, ln FROM lines l
          WHERE NOT EXISTS (
            SELECT 1 FROM hot h WHERE h.n = regexp_replace(regexp_replace(lower(l.ln), '[ \t\n\f\r\x0B]+', ' ', 'g'), '(^ )|( $)', '', 'g'))),
        re AS (
          SELECT doc_id,
            array_to_string(list(ln ORDER BY pos), chr(10)) AS clean_text
          FROM kept GROUP BY doc_id)
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
          coalesce(re.clean_text, '') AS clean_text
        FROM documents d LEFT JOIN re USING (doc_id)""")),

    // #25b the composed cleaning pipeline (quality floor → exact dedup →
    // near-dup removal) — the end-to-end training-data story, oracle-
    // checked as one CTE chain; CorpusSpec additionally pins the
    // semantics on planted dups
    Q("corpus_clean",
      (s, dir) => graft.dedup.Corpus.clean(docs(s, dir))
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars")),
      Some(DedupSql.corpusClean())),

    // #25d the same pipeline under the connected-component keep-policy:
    // one survivor per near-dup CLUSTER (chains resolve fully) — oracle
    // extends the CTE chain with the recursive closure
    Q("corpus_clean_cc",
      (s, dir) => graft.dedup.Corpus.clean(docs(s, dir),
          graft.dedup.Corpus.CleanConfig(clusterDedup = true))
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars")),
      Some(DedupSql.corpusCleanClusters())),

    // #25d3 the cleaning pipeline under the QUALITY-canonical keep
    // policy (row 98 composed into row 25's pipeline): one survivor per
    // near-dup cluster, elected by best per-token model quality instead
    // of min id — quality floor and exact dedup unchanged, so the
    // survivor COUNT matches corpus_clean_cc while the membership
    // shifts toward the better-scraped copies (CorpusSpec pins both).
    Q("corpus_clean_best",
      (s, dir) => graft.dedup.Corpus.clean(docs(s, dir),
          graft.dedup.Corpus.CleanConfig(clusterDedup = true,
            qualityCanonical = true))
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars")),
      Some(DedupSql.corpusCleanBest())),

    // #25e benchmark decontamination: corpus docs sharing any word
    // 3-gram with the "eval set" (doc_id % 97 == 0 plays the benchmark
    // split). Eval shingles broadcast; the corpus side is one map pass +
    // semi-join + distinct — no corpus shuffle before the final distinct.
    Q("corpus_decontam",
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.contaminatedIds(
          d.where(col("doc_id") % 97 =!= 0),
          d.where(col("doc_id") % 97 === 0))
      },
      Some(DedupSql.decontam())),

    // #38d the EVAL-side contamination report (SURVEY row 118): row 38
    // names the TRAINING docs to drop; this is the other deliverable of
    // the same overlap evidence — per BENCHMARK item, how much of it
    // leaked (distinct n-grams, n-grams found anywhere in the corpus,
    // corpus docs sharing one), zero-overlap items kept with zeros —
    // what an eval maintainer publishes next to scores and what decides
    // the "clean split" membership. The corpus side is restricted by
    // the same broadcast semi-join before the exact per-item rollup, so
    // the aggregation sees contamination-sized input, not corpus-sized.
    Q("corpus_eval_overlap",
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.evalOverlap(
          d.where(col("doc_id") % 97 =!= 0),
          d.where(col("doc_id") % 97 === 0))
      },
      Some(DedupSql.evalOverlap())),

    // #38b decontamination as a Bloom prefilter (the 100 TB shape):
    // eval shingles → fixed bit array probed by pure column
    // expressions over the corpus (zero joins), exact verify only on
    // the flagged survivors. flagged ⊇ exact (no false negatives);
    // false positives are the exact_hit=false rows, visible like the
    // CMS gate's overcount. The oracle replays the bit positions
    // relationally — the gate proves bitset-probe == set-membership.
    Q("corpus_decontam_bloom",
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.bloomDecontam(
          d.where(col("doc_id") % 97 =!= 0),
          d.where(col("doc_id") % 97 === 0))
      },
      Some(DedupSql.decontamBloom())),

    // #38c dedup-AWARE train/eval SPLIT — the leakage decontam (row
    // 38) cannot see: a stable-hash doc split puts NEAR-duplicate pairs
    // on opposite sides (Lee et al. 2022's train-test overlap), so eval
    // scores measure memorization of a near-copy, not generalization.
    // Split = one per-row hash expression (h60('sp:'||id) % 5 == 0 →
    // eval, ~20%; stable under any repartition — never positional).
    // Leakage evidence = the verified near-dup pairs (row 28's
    // LSH-banded + Jaccard chain, bounded by HeavyBucket caps — linear
    // in candidates at any corpus size) that STRADDLE the split; repair
    // = drop the TRAIN member of every straddling pair (the benchmark
    // side is immutable — dropping eval docs would change the eval
    // set). Post-repair zero straddle is structural; non-vacuity
    // (leaked > 0 at both sf, eval never dropped) is pinned in
    // CorpusSpec. The pair table is tiny next to the corpus, so the
    // two assignment joins stay keyed and the repair is one semi-join.
    Q("corpus_split_leakage",
      (s, dir) => {
        val assign = docs(s, dir).select(col("doc_id"), evalSide)
        val p = Dedup.jaccardVerified(docs(s, dir))
          .join(assign.as("ea"),
            col("doc_a") === col("ea.doc_id")).drop(col("ea.doc_id"))
          .withColumnRenamed("is_eval", "eval_a")
          .join(assign.as("eb"),
            col("doc_b") === col("eb.doc_id")).drop(col("eb.doc_id"))
          .withColumnRenamed("is_eval", "eval_b")
          .where(col("eval_a") =!= col("eval_b"))
        p.select(
          when(col("eval_a"), col("doc_a")).otherwise(col("doc_b"))
            .as("eval_id"),
          when(col("eval_a"), col("doc_b")).otherwise(col("doc_a"))
            .as("train_id"),
          col("jaccard"))
      },
      Some(s"""
        WITH pairs AS (${DedupSql.jaccardVerified()}),
        a AS ($splitAssignSql),
        s AS (
          SELECT p.doc_a, p.doc_b, p.jaccard,
            ea.is_eval AS eval_a, eb.is_eval AS eval_b
          FROM pairs p
          JOIN a ea ON ea.doc_id = p.doc_a
          JOIN a eb ON eb.doc_id = p.doc_b
          WHERE ea.is_eval <> eb.is_eval)
        SELECT CASE WHEN eval_a THEN doc_a ELSE doc_b END AS eval_id,
          CASE WHEN eval_a THEN doc_b ELSE doc_a END AS train_id,
          jaccard
        FROM s""")),

    // #38d the REPAIRED assignment itself: every doc with its split,
    // leak flag, and keep decision (eval always kept; train kept iff
    // not the train member of a straddling pair).
    Q("corpus_split",
      (s, dir) => {
        val d = docs(s, dir)
        val assign = d.select(col("doc_id"), evalSide)
        val leakTrain = Dedup.jaccardVerified(d)
          .join(assign.as("ea"),
            col("doc_a") === col("ea.doc_id")).drop(col("ea.doc_id"))
          .withColumnRenamed("is_eval", "eval_a")
          .join(assign.as("eb"),
            col("doc_b") === col("eb.doc_id")).drop(col("eb.doc_id"))
          .withColumnRenamed("is_eval", "eval_b")
          .where(col("eval_a") =!= col("eval_b"))
          .select(when(col("eval_a"), col("doc_b")).otherwise(col("doc_a"))
            .as("leak_id"))
          .distinct()
        assign.join(leakTrain, col("doc_id") === col("leak_id"),
            "left_outer")
          .select(col("doc_id"),
            when(col("is_eval"), lit("eval")).otherwise(lit("train"))
              .as("split"),
            (!col("is_eval") && col("leak_id").isNotNull).as("leaked"),
            (col("is_eval") || col("leak_id").isNull).as("kept"))
      },
      Some(s"""
        WITH pairs AS (${DedupSql.jaccardVerified()}),
        a AS ($splitAssignSql),
        leak AS (
          SELECT DISTINCT
            CASE WHEN ea.is_eval THEN p.doc_b ELSE p.doc_a END AS leak_id
          FROM pairs p
          JOIN a ea ON ea.doc_id = p.doc_a
          JOIN a eb ON eb.doc_id = p.doc_b
          WHERE ea.is_eval <> eb.is_eval)
        SELECT a.doc_id,
          CASE WHEN a.is_eval THEN 'eval' ELSE 'train' END AS split,
          (NOT a.is_eval AND l.leak_id IS NOT NULL) AS leaked,
          (a.is_eval OR l.leak_id IS NULL) AS kept
        FROM a LEFT JOIN leak l ON l.leak_id = a.doc_id""")),

    // #25g substring-level dedup signal: per-doc fraction of word
    // 5-gram slots covered by spans that exist in >= 2 docs — catches
    // span-level copying that whole-document MinHash misses
    Q("dedup_spans",
      (s, dir) => Dedup.sharedSpanFrac(docs(s, dir), n = 5),
      Some(DedupSql.sharedSpanFrac(n = 5))),

    // #25h the duplicated spans THEMSELVES: maximal contiguous runs of
    // hot 5-gram slots per doc (inclusive token ranges) — the
    // suffix-array-free stand-in for exact-substring dedup's byte
    // ranges, all-integer output so the oracle compare is exact
    Q("dedup_span_ranges",
      (s, dir) => Dedup.sharedSpans(docs(s, dir), n = 5),
      Some(DedupSql.sharedSpans(n = 5))),

    // #25j the sub-document dedup run INCREMENTALLY (the fourth closed
    // incremental loop, at chunk grain: signature store, lexicon, and
    // IVF+PQ index close it at theirs): a new crawl's chunks dedup
    // against the persisted chunk-hash store of the old snapshot —
    // 16 bytes per distinct old chunk, no old text re-read — plus
    // first-occurrence-wins within the batch. The oracle replays the
    // old snapshot's chunk set from raw documents, so a stale or
    // partial store hash-mismatches.
    Q("dedup_chunks_incremental",
      (s, dir) => {
        val store = graft.sources.Sources.parquet(s, ensureChunkStore(s, dir))
        Dedup.chunkDedupIncremental(
          docs(s, dir).where(expr(NewWhere)), store)
      },
      Some(DedupSql.chunkDedupIncremental(OldWhere, NewWhere))),

    // #25i sub-document exact dedup, C4-style: non-overlapping 8-token
    // chunks, every repeated chunk text keeps exactly its first
    // (doc_id, idx) occurrence corpus-wide and each doc reassembles
    // from its survivors — the "remove repeated spans" operator that
    // EDITS documents rather than dropping them. First-occurrence
    // election is a struct-min groupBy on the 116-bit hash pair
    // (map-side partial combine — a hyper-duplicated boilerplate
    // chunk reduces in the mappers instead of skewing one reducer).
    Q("dedup_chunks",
      (s, dir) => Dedup.chunkDedup(docs(s, dir)),
      Some(DedupSql.chunkDedup())),

    // #25j CONTENT-DEFINED chunking (SURVEY row 115, r15 verdict item
    // 2): row 66's operator with the boundary rule that survives
    // unaligned repeats — a cut falls between tokens p and p+1 iff
    // h60(bigram) ≡ 0 (mod 8), so a repeated span reproduces its
    // INTERIOR cuts at any offset and dedups through its interior
    // chunks. Fixed windows re-align on a one-token shift and miss the
    // whole span (DedupSpec drives the pair the fixed operator
    // provably misses) — the gap a real crawl's shifted boilerplate
    // hits first (Lee et al. 2022). Same two-shuffle election +
    // reassembly plan as dedup_chunks.
    Q("dedup_chunks_cdc",
      (s, dir) => Dedup.cdcChunkDedup(docs(s, dir)),
      Some(DedupSql.cdcChunkDedup())),

    // #25k the CDC incremental twin: a new crawl's content-defined
    // chunks dedup against the persisted 16-bytes-per-chunk CDC store
    // plus first-in-batch election — row 80's lifecycle on CDC
    // boundaries, where shift-invariance matters MOST (cross-snapshot
    // boilerplate arrives at arbitrary offsets inside fresh pages).
    // The oracle replays the old slice's store from raw documents, so
    // a stale or torn store hash-mismatches.
    Q("dedup_chunks_cdc_incremental",
      (s, dir) => {
        val store = graft.sources.Sources.parquet(s, ensureCdcChunkStore(s, dir))
        Dedup.cdcChunkDedupIncremental(
          docs(s, dir).where(expr(NewWhere)), store)
      },
      Some(DedupSql.cdcChunkDedupIncremental(OldWhere, NewWhere))),

    // #20c link-analysis source ranking: PageRank over the source
    // co-duplication graph (edge weight = distinct shared word
    // 5-grams), five damped power iterations with dangling-mass
    // redistribution — the CommonCrawl-domain-rank quality signal. The
    // oracle unrolls every iteration relationally, pinning edge build,
    // message arithmetic, and damping cross-engine at each state.
    Q("corpus_source_rank",
      (s, dir) => graft.dedup.Corpus.sourceRank(docs(s, dir)),
      Some(DedupSql.sourceRank())),

    // #40b crawl delta: two deterministic snapshot views of the corpus
    // (old skips ids ≡4 mod 5; new skips ids ≡0 mod 5 and revises the
    // text of ids ≡0 mod 7), every id classified added / removed /
    // changed / unchanged by content fingerprint — the routing table
    // an incremental pipeline feeds its dedup/clean/index updates and
    // store retirements from. Only (id, fingerprint) pairs shuffle.
    Q("corpus_diff",
      (s, dir) => {
        val d = docs(s, dir)
        graft.dedup.Corpus.snapshotDiff(
          d.where(col("doc_id") % 5 =!= 4),
          d.where(col("doc_id") % 5 =!= 0)
            .withColumn("text", when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" rev2"))).otherwise(col("text"))))
      },
      Some("""
        WITH oldc AS (
          SELECT doc_id,
            md5(regexp_replace(regexp_replace(lower(text), '[ \t\n\f\r\x0B]+', ' ', 'g'), '(^ )|( $)', '', 'g')) AS fp
          FROM documents WHERE doc_id % 5 <> 4),
        newc AS (
          SELECT doc_id,
            md5(regexp_replace(regexp_replace(lower(
              CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END),
              '[ \t\n\f\r\x0B]+', ' ', 'g'), '(^ )|( $)', '', 'g')) AS fp
          FROM documents WHERE doc_id % 5 <> 0)
        SELECT CAST(COALESCE(o.doc_id, n.doc_id) AS BIGINT) AS doc_id,
          CASE WHEN o.doc_id IS NULL THEN 'added'
               WHEN n.doc_id IS NULL THEN 'removed'
               WHEN o.fp <> n.fp THEN 'changed'
               ELSE 'unchanged' END AS status
        FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id""")),

    // #40c referential integrity across the parallel tables: the
    // pre-flight check an embedding-dependent stage runs before
    // trusting the doc↔vector join. Deterministic holes punched in
    // each side (docs skip ids ≡5 mod 13, vectors skip ids ≡3 mod 11)
    // so every counter is exercised; the driver testdata's tables are
    // id-aligned, which the n_docs/n_vecs totals confirm.
    Q("corpus_integrity",
      (s, dir) => graft.dedup.Corpus.integrityReport(
        docs(s, dir).where(col("doc_id") % 13 =!= 5),
        graft.sources.Sources.table(s, dir, "embeddings")
          .where(col("vec_id") % 11 =!= 3)),
      Some(integritySql)),

    // #40d the SAME integrity check over id-BUCKETED tables — the §4
    // co-location claim made live instead of narrated: both tables are
    // written bucketBy(16, id), so the groupBy(id) aggregations and
    // the full-outer id join all consume the scan's bucket
    // partitioning and the only exchange left in the whole plan is the
    // final single-row rollup (PlanShapeSpec pins it). Same oracle as
    // corpus_integrity: bucketing must change the plan, not the
    // answer.
    Q("corpus_integrity_bucketed",
      (s, dir) => {
        ensureBucketedTables(s, dir)
        graft.dedup.Corpus.integrityReport(
          s.table(BucketedDocsTable).where(col("doc_id") % 13 =!= 5),
          s.table(BucketedEmbsTable).where(col("vec_id") % 11 =!= 3))
      },
      Some(integritySql)),

    // #25i sequence packing (concat-and-chunk): per doc, the context
    // windows it lands in when each shard's token stream is split at a
    // fixed length. Hash-sharded, id-ordered → deterministic layout;
    // all-integer output so the oracle compare is exact.
    Q("corpus_pack",
      (s, dir) => graft.dedup.Corpus.packChunks(docs(s, dir),
        seqLen = 256, shards = 8),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS BIGINT) AS n_toks
          FROM documents),
        c AS (
          SELECT doc_id, shard, n_toks,
            COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
          FROM t)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(shard AS BIGINT) AS shard,
          CAST(tok_offset AS BIGINT) AS tok_offset,
          CAST(tok_offset // 256 AS BIGINT) AS chunk_first,
          CAST((tok_offset + n_toks - 1) // 256 AS BIGINT) AS chunk_last
        FROM c""")),

    // #41b the SHARD MANIFEST over the packed layout — the artifact a
    // trainer's data loader actually consumes (and the integrity check
    // a 100 TB packing job publishes): per shard, document and token
    // totals, the number of fixed-length sequences the shard splits
    // into (from the LAST doc's chunk_last — the packing is
    // offset-contiguous per shard), a replayable content checksum
    // (sum of id·XHash over members — order-free, so map-side partial
    // aggs suffice), and the count of docs straddling a sequence
    // boundary. One rollup over the pack table; output is shard-count
    // rows.
    Q("corpus_pack_manifest",
      (s, dir) => {
        val p = graft.dedup.Corpus.packChunks(docs(s, dir),
          seqLen = 256, shards = 8)
        p.groupBy(col("shard")).agg(
          count(lit(1)).as("n_docs"),
          (max(col("chunk_last")) + 1).as("n_seqs"),
          sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
            .otherwise(0L)).as("straddlers"),
          sum(col("doc_id") % lit(1000003L) *
            (graft.functions.XHash.h60(col("doc_id").cast("string"))
              % lit(1000000L)) % lit(1000003L)).as("checksum"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 1000000 AS ck,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS BIGINT) AS n_toks
          FROM documents),
        c AS (
          SELECT doc_id, shard, ck, n_toks,
            COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
          FROM t)
        SELECT CAST(shard AS BIGINT) AS shard,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(max((tok_offset + n_toks - 1) // 256) + 1 AS BIGINT) AS n_seqs,
          CAST(sum(CASE WHEN tok_offset // 256 <>
            (tok_offset + n_toks - 1) // 256 THEN 1 ELSE 0 END) AS BIGINT)
            AS straddlers,
          CAST(sum(doc_id % 1000003 * ck % 1000003) AS BIGINT) AS checksum
        FROM c GROUP BY shard""")),

    // #41c the packing made PHYSICAL: writeShards persists the member
    // table AND the shard sequence files themselves (fixed 256-token
    // windows, partitioned by shard); the gate recomputes every
    // manifest column FROM THE WRITTEN BYTES — n_seqs and n_toks come
    // off the seq files, docs/straddlers/checksum off the member table
    // — and the oracle recomputes the same numbers from the raw corpus,
    // so a missing, duplicated, or torn window on disk hash-mismatches.
    Q("corpus_pack_written",
      (s, dir) => {
        val root = ensureShards(s, dir)
        val members = graft.sources.Sources.parquet(s, s"$root/members")
        val seqs = graft.sources.Sources.parquet(s, s"$root/seqs")
        val fromSeqs = seqs.groupBy(col("shard")).agg(
          count(lit(1)).as("n_seqs"),
          sum(size(col("tokens"))).cast("long").as("n_toks"))
        val fromMembers = members.groupBy(col("shard")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
            .otherwise(0L)).as("straddlers"),
          sum(col("doc_id") % lit(1000003L) *
            (graft.functions.XHash.h60(col("doc_id").cast("string"))
              % lit(1000000L)) % lit(1000003L)).as("checksum"))
        fromMembers.join(fromSeqs, Seq("shard"))
          .select(col("shard"), col("n_docs"), col("n_seqs"),
            col("n_toks"), col("straddlers"), col("checksum"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 1000000 AS ck,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS BIGINT) AS n_toks
          FROM documents),
        c AS (
          SELECT doc_id, shard, ck, n_toks,
            COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
          FROM t)
        SELECT CAST(shard AS BIGINT) AS shard,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(max((tok_offset + n_toks - 1) // 256) + 1 AS BIGINT) AS n_seqs,
          CAST(sum(n_toks) AS BIGINT) AS n_toks,
          CAST(sum(CASE WHEN tok_offset // 256 <>
            (tok_offset + n_toks - 1) // 256 THEN 1 ELSE 0 END) AS BIGINT)
            AS straddlers,
          CAST(sum(doc_id % 1000003 * ck % 1000003) AS BIGINT) AS checksum
        FROM c GROUP BY shard""")),

    // #41d packing EFFICIENCY report over the written artifact — the
    // loader-ops metric a 100 TB packing job publishes next to its
    // manifest: per shard, the padding the fixed windows waste
    // (n_seqs·seqLen − n_toks, only ever in the final partial window
    // by construction — offset-contiguous packing pads nowhere else)
    // and the fill rate in exact millionths (integer division; no
    // float enters the gate). Reads members off the persisted shard
    // artifact; the oracle recomputes from the raw corpus.
    Q("corpus_pack_stats",
      (s, dir) => {
        val members = graft.sources.Sources.parquet(s, s"${ensureShards(s, dir)}/members")
        members.groupBy(col("shard")).agg(
          (max(col("chunk_last")) + 1).as("n_seqs"),
          sum(col("n_toks")).as("n_toks"))
          .select(col("shard"),
            col("n_seqs"),
            col("n_toks"),
            (col("n_seqs") * lit(256L) - col("n_toks")).as("pad_tokens"),
            expr("n_toks * 1000000 div (n_seqs * 256)")
              .as("fill_millionths"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS BIGINT) AS n_toks
          FROM documents),
        c AS (
          SELECT doc_id, shard, n_toks,
            COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
          FROM t),
        g AS (
          SELECT CAST(shard AS BIGINT) AS shard,
            CAST(max((tok_offset + n_toks - 1) // 256) + 1 AS BIGINT) AS n_seqs,
            CAST(sum(n_toks) AS BIGINT) AS n_toks
          FROM c GROUP BY shard)
        SELECT shard, n_seqs, n_toks,
          n_seqs * 256 - n_toks AS pad_tokens,
          n_toks * 1000000 // (n_seqs * 256) AS fill_millionths
        FROM g""")),

    // #41e per-source QUOTA packing (VERDICT r12 item 4): the mixture
    // contract applied AT PACK TIME — "at most N tokens of source S",
    // exact to the token, admitted as an ordered doc-id prefix per
    // source (Corpus.quotaAdmit's two-pass prefix sum). The manifest
    // gains the per-source grain: (shard, source) rows recomputed FROM
    // THE WRITTEN BYTES (the member table carries source), so an
    // over-quota doc that leaked into the artifact hash-mismatches.
    Q("corpus_pack_quota",
      (s, dir) => {
        val members = graft.sources.Sources.parquet(s, s"${ensureQuotaShards(s, dir)}/members")
        members.groupBy(col("shard"), col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_toks"),
          sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
            .otherwise(0L)).as("straddlers"),
          sum(col("doc_id") % lit(1000003L) *
            (graft.functions.XHash.h60(col("doc_id").cast("string"))
              % lit(1000000L)) % lit(1000003L)).as("checksum"))
      },
      Some(s"""
        WITH a AS (${quotaAdmittedSql()}),
        m AS (
          SELECT doc_id, source, n_toks,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 1000000 AS ck,
            COALESCE(SUM(n_toks) OVER (
              PARTITION BY ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
          FROM a)
        SELECT CAST(shard AS BIGINT) AS shard, source,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_toks) AS BIGINT) AS n_toks,
          CAST(sum(CASE WHEN tok_offset // 256 <>
            (tok_offset + n_toks - 1) // 256 THEN 1 ELSE 0 END) AS BIGINT)
            AS straddlers,
          CAST(sum(doc_id % 1000003 * ck % 1000003) AS BIGINT) AS checksum
        FROM m GROUP BY shard, source""")),

    // #41f the quota FILL report: per source, the cap, what the written
    // artifact actually holds (docs/tokens off the member bytes), what
    // the quota rejected, and the fill rate in integer millionths —
    // the contract-compliance table published next to the manifest.
    // Sources whose quota admits nothing still report (raw-corpus left
    // join), and admitted_toks > quota is structurally impossible to
    // pass the gate.
    Q("corpus_pack_quota_fill",
      (s, dir) => {
        val members = graft.sources.Sources.parquet(s, s"${ensureQuotaShards(s, dir)}/members")
        val admitted = members.groupBy(col("source")).agg(
          count(lit(1)).as("admitted_docs"),
          sum(col("n_toks")).as("admitted_toks"))
        val quota = PackQuotas.foldLeft(lit(-1L)
            : org.apache.spark.sql.Column) { case (acc, (s0, q)) =>
          when(col("source") === s0, lit(q)).otherwise(acc)
        }
        docs(s, dir).groupBy(col("source"))
          .agg(count(lit(1)).as("total_docs"))
          .join(admitted, Seq("source"), "left_outer")
          .select(col("source"), quota.as("quota"),
            coalesce(col("admitted_docs"), lit(0L)).as("admitted_docs"),
            coalesce(col("admitted_toks"), lit(0L)).as("admitted_toks"),
            (col("total_docs") - coalesce(col("admitted_docs"), lit(0L)))
              .as("dropped_docs"),
            when(quota < 0L, lit(-1L))
              .otherwise(expr(
                "coalesce(admitted_toks, 0) * 1000000 div quota"))
              .as("fill_millionths"))
      },
      Some(s"""
        WITH a AS (${quotaAdmittedSql()}),
        g AS (
          SELECT source, CAST(count(*) AS BIGINT) AS admitted_docs,
            CAST(sum(n_toks) AS BIGINT) AS admitted_toks
          FROM a GROUP BY source),
        r AS (
          SELECT source, CAST(count(*) AS BIGINT) AS total_docs,
            CAST(${quotaCaseSql("source")} AS BIGINT) AS quota
          FROM documents GROUP BY source)
        SELECT r.source, r.quota,
          COALESCE(g.admitted_docs, 0) AS admitted_docs,
          COALESCE(g.admitted_toks, 0) AS admitted_toks,
          r.total_docs - COALESCE(g.admitted_docs, 0) AS dropped_docs,
          CASE WHEN r.quota < 0 THEN CAST(-1 AS BIGINT)
            ELSE COALESCE(g.admitted_toks, 0) * 1000000 // r.quota END
            AS fill_millionths
        FROM r LEFT JOIN g ON r.source = g.source""")),

    // #41g LANGUAGE-balanced pack quotas (SURVEY row 116, r15 verdict
    // item 4): row 32's langid composed into rows 91/92's quota
    // machinery — admission keyed on the PREDICTED language bucket
    // (the production shape; a crawl has no ground-truth labels), so
    // a lang-skewed crawl cannot flood the pack. Same ordered-prefix
    // admission (quotaAdmit, two-pass bucketed prefix sum — no
    // one-partition-per-language window), same pack manifest at
    // (shard, lang) grain. Non-vacuity on THIS corpus (see LangQuotas'
    // honest note): the en cap binds hard (24k→≤3k tokens), und passes
    // through whole; the es cap is pinned by QuotaSpec's Spanish
    // fixture. Oracle: the shared langPredSql fragment feeds the
    // same prefix-admission and manifest replay — one language
    // decision for both gates.
    Q("corpus_pack_lang_quota",
      (s, dir) => {
        val d = docs(s, dir).withColumn("lang_pred",
          graft.text.Text.langId(col("text")))
        // two consumers (pack + lang re-join) — checkpoint, or the
        // langid scoring and the bucketed admission run twice
        val admitted = graft.dedup.Corpus.quotaAdmit(d, LangQuotas,
          srcCol = "lang_pred").localCheckpoint()
        val members = graft.dedup.Corpus.packMembers(admitted,
          seqLen = 256, shards = 8)
        members.join(admitted.select(col("doc_id"),
            col("lang_pred").as("lang")), Seq("doc_id"))
          .groupBy(col("shard"), col("lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_toks"),
            sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
              .otherwise(0L)).as("straddlers"),
            sum(col("doc_id") % lit(1000003L) *
              (graft.functions.XHash.h60(col("doc_id").cast("string"))
                % lit(1000000L)) % lit(1000003L)).as("checksum"))
      },
      Some(s"""
        WITH lp AS (${TextQueries.langPredSql("documents")}),
        a AS (
          SELECT doc_id, lang_pred, n_toks FROM (
            SELECT doc_id, lang_pred,
              CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
                AS BIGINT) AS n_toks,
              SUM(CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
                AS BIGINT)) OVER (PARTITION BY lang_pred ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM lp)
          WHERE ${langQuotaCaseSql("lang_pred")} < 0
             OR cum <= ${langQuotaCaseSql("lang_pred")}),
        m AS (
          SELECT doc_id, lang_pred, n_toks,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8
              AS shard,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")}
              % 1000000 AS ck,
            COALESCE(SUM(n_toks) OVER (
              PARTITION BY
                ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS tok_offset
          FROM a)
        SELECT CAST(shard AS BIGINT) AS shard, lang_pred AS lang,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_toks) AS BIGINT) AS n_toks,
          CAST(sum(CASE WHEN tok_offset // 256 <>
            (tok_offset + n_toks - 1) // 256 THEN 1 ELSE 0 END) AS BIGINT)
            AS straddlers,
          CAST(sum(doc_id % 1000003 * ck % 1000003) AS BIGINT) AS checksum
        FROM m GROUP BY shard, lang_pred""")),

    // #25j the CLOSED-LOOP curation pipeline: clean → chunk dedup
    // (text rewritten) → SemDeDup over survivor embeddings (geometry
    // derived from the survivor population) → decontamination →
    // quality-model keep → token-budget fill → pack → per-shard
    // manifest — one composed plan, one replayed oracle. Every stage
    // is individually gated elsewhere; this gate proves the contracts
    // COMPOSE (any drifted doc at any stage changes a manifest count
    // or checksum).
    Q("corpus_pipeline",
      (s, dir) => graft.dedup.Corpus.pipeline(docs(s, dir),
        Sources.table(s, dir, "embeddings")),
      Some(DedupSql.pipeline())),

    // #25j5 the per-doc DISPOSITION LEDGER (SURVEY row 120) — the
    // pipeline's audit artifact: EVERY input doc with the stage that
    // removed it ('quality'/'exact_dup'/'near_dup'/'chunks_dup'/
    // 'semantic_dup'/'eval_split'/'contaminated'/'model_quality'/
    // 'budget') or 'packed'. Reads the SAME survivor frames the
    // manifest packs (Corpus.pipelineStages — not a parallel
    // reimplementation; CorpusSpec pins ledger['packed'] == the
    // manifest's packed population), union-tagged with stage levels
    // and max-aggregated per doc: ONE shuffle of id-only rows
    // regardless of stage count. Oracle replays the identical chain
    // CTEs with a level-union tail.
    Q("corpus_pipeline_ledger",
      (s, dir) => graft.dedup.Corpus.pipelineLedger(docs(s, dir),
        Sources.table(s, dir, "embeddings")),
      Some(DedupSql.pipelineLedger())),

    // #25j2 the pipeline with EVERY curation stage engaged — the
    // round-13 rows composed into the closed loop: the corpus arrives
    // as synthesized HTML PAGES and row 100's extraction strips the
    // markup as the true stage 0 (fromHtml=true; the round trip is
    // byte-identical, so the composed oracle is UNCHANGED — the
    // markup-invariance pin: a broken extractor moves every manifest
    // checksum, a markup-only change moves nothing), the per-domain
    // BLOCKLIST (row 91's decision, the cheapest signal) prunes whole
    // domains BEFORE any dedup join runs, and the pack tail applies
    // the per-source token QUOTAS (row 92's mixture contract) to the
    // curated, rewritten text, publishing the manifest at the
    // (shard, source) grain. One plan, one composed oracle reusing
    // the stage fragments — a drifted doc at ANY of the ten stages
    // moves a count or checksum.
    Q("corpus_pipeline_full",
      (s, dir) => graft.dedup.Corpus.pipeline(docs(s, dir),
        Sources.table(s, dir, "embeddings"),
        domainFloorMilli = Some(UrlQueries.DomainFloorMilli),
        quotas = PackQuotas, fromHtml = true),
      Some(DedupSql.pipeline(
        domainFloorMilli = Some(UrlQueries.DomainFloorMilli),
        quotas = PackQuotas))),

    // #25j3 the pipeline with SURGICAL decontamination (SURVEY row
    // 108, r14 verdict item 2): stage D swaps row 38's drop-the-whole-
    // doc action for row 105's chunk EXCISION — contaminated spans are
    // cut out (straddled chunks included: the shingle match runs on
    // the UN-chunked stream) and the REST of each document flows on
    // into quality scoring, the token budget, and the quota-aware pack
    // tail. Same ten-stage composition as corpus_pipeline_full (HTML
    // stage 0, domain blocklist, quotas), so the two manifests differ
    // ONLY by stage D's action — and CorpusSpec pins the payoff: the
    // surgical manifest packs strictly MORE surviving tokens on the
    // same corpus (the measured 171-doc-drop → 263-chunk-drop saving,
    // end to end). Oracle: the composed CTE chain with row 105's
    // excision fragment spliced in place of the anti-join.
    Q("corpus_pipeline_surgical",
      (s, dir) => graft.dedup.Corpus.pipeline(docs(s, dir),
        Sources.table(s, dir, "embeddings"),
        domainFloorMilli = Some(UrlQueries.DomainFloorMilli),
        quotas = PackQuotas, fromHtml = true, decontam = "chunk"),
      Some(DedupSql.pipeline(
        domainFloorMilli = Some(UrlQueries.DomainFloorMilli),
        quotas = PackQuotas, decontam = "chunk"))),

    // #25k the pipeline's INCREMENTAL twin — crawl N+1's admission
    // chain: doc-level dedup against the persisted signature store,
    // chunk-level dedup against the persisted chunk store (text
    // REWRITTEN to the surviving chunks), decontamination vs the eval
    // split, quality-model keep. Old data is touched ONLY through the
    // two store artifacts; the oracle replays their contents from the
    // raw old snapshot, so a stale or torn store hash-mismatches.
    // Output: the admitted docs with their token counts — what the
    // crawl contributes to training.
    Q("corpus_pipeline_incremental",
      (s, dir) => {
        val batch = docs(s, dir).where(expr(NewWhere))
        val k1 = Dedup.incrementalKeepers(batch,
          graft.sources.Sources.parquet(s, ensureStore(s, dir)))
        val b1 = batch.join(k1, Seq("doc_id"), "left_semi")
        val b2 = Dedup.chunkDedupIncremental(b1,
            graft.sources.Sources.parquet(s, ensureChunkStore(s, dir)))
          .where(col("kept_chunks") > 0)
          .select(col("doc_id"), col("kept_text").as("text"))
          .localCheckpoint()
        val evalDocs = docs(s, dir).where(col("doc_id") % 97 === 0)
        val cs = b2.where(col("doc_id") % 97 =!= 0)
        val b3 = cs.join(Dedup.contaminatedIds(cs, evalDocs),
          Seq("doc_id"), "left_anti")
        graft.text.Text.qualityModelRaw(b3).where(col("num") >= 0L)
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"))
      },
      Some(DedupSql.pipelineIncremental(OldWhere, NewWhere))),

    // #25k2 the incremental admission chain with SURGICAL
    // decontamination (SURVEY row 113): crawl N+1's stage 3 swaps the
    // drop-the-whole-doc anti-join for row 105's chunk excision —
    // the crawl's contaminated spans are cut and each admitted doc's
    // clean remainder flows into the quality keep — so BOTH admission
    // shapes (batch full pipeline, incremental crawl) now offer both
    // decontamination actions. Old data is still touched only through
    // the two persisted stores; the oracle splices the excision
    // fragment into the incremental replay. A crawl doc quoting one
    // eval question now contributes its other chunks' tokens instead
    // of vanishing (strictly ≥ admitted token mass, spec-pinned).
    Q("corpus_pipeline_incremental_surgical",
      (s, dir) => {
        val batch = docs(s, dir).where(expr(NewWhere))
        val k1 = Dedup.incrementalKeepers(batch,
          graft.sources.Sources.parquet(s, ensureStore(s, dir)))
        val b1 = batch.join(k1, Seq("doc_id"), "left_semi")
        val b2 = Dedup.chunkDedupIncremental(b1,
            graft.sources.Sources.parquet(s, ensureChunkStore(s, dir)))
          .where(col("kept_chunks") > 0)
          .select(col("doc_id"), col("kept_text").as("text"))
          .localCheckpoint()
        val evalDocs = docs(s, dir).where(col("doc_id") % 97 === 0)
        val cs = b2.where(col("doc_id") % 97 =!= 0)
        val b3 = Dedup.chunkDecontam(cs, evalDocs)
          .where(col("kept_chunks") > 0)
          .select(col("doc_id"), col("kept_text").as("text"))
        graft.text.Text.qualityModelRaw(b3).where(col("num") >= 0L)
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"))
      },
      Some(DedupSql.pipelineIncremental(OldWhere, NewWhere,
        decontam = "chunk"))),

    // #38e CHUNK-level decontamination (SURVEY row 105): EXCISE the
    // contaminated spans and keep the rest of the document — the
    // surgical alternative to row 38's drop-whole-doc decision (a long
    // doc quoting one eval question loses eight tokens, not ten
    // thousand). Shingles are matched on the UN-CHUNKED token stream
    // and flag every chunk their slot span touches, so leakage
    // straddling a chunk boundary kills BOTH chunks — per-chunk
    // shingling would be blind to exactly those (DedupSpec drives a
    // straddling fixture through both arms). Reassembly is the dedup
    // legs' surviving-chunks rewrite, under one replayed oracle.
    Q("corpus_decontam_chunks",
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.chunkDecontam(
          d.where(col("doc_id") % 97 =!= 0),
          d.where(col("doc_id") % 97 === 0))
      },
      Some(DedupSql.chunkDecontam())),

    // #25f source-weighted mixture sampling (domain reweighting):
    // per-source deterministic hash keep-rates, power-of-two rates so
    // rate×10⁶ is integer-exact in both engines. Output = per-source
    // survivor counts.
    Q("corpus_mix",
      (s, dir) => graft.dedup.Corpus.mixBySource(docs(s, dir),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          default = 0.125)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n")),
      Some(s"""
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents
        WHERE ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 1000000
          < CAST(floor((CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                    WHEN 'src2' THEN 0.25 ELSE 0.125 END)
                 * 1000000.0) AS BIGINT)
        GROUP BY 1""")),

    // #40b2 source-weighted RESAMPLING with rates above 1 — the full
    // "epochs" mixture knob (2 epochs of src0 plus a hash-chosen half,
    // a quarter of src2, everything else 1.25×), each copy tagged with
    // its dn_epoch index. The oracle replays the copy-count arithmetic
    // and the repetition with a range() lambda.
    Q("corpus_resample",
      (s, dir) => graft.dedup.Corpus.resampleBySource(docs(s, dir),
          Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25),
          default = 1.25)
        .select(col("doc_id"), col("source"), col("dn_epoch")),
      Some(s"""
        WITH r AS (
          SELECT doc_id, source,
            CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
                        WHEN 'src2' THEN 0.25 ELSE 1.25 END AS rate,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")}
              % 1000000 AS h
          FROM documents),
        c AS (
          SELECT doc_id, source,
            CAST(floor(rate) AS BIGINT) +
              (CASE WHEN h < CAST(floor((rate - floor(rate)) * 1000000.0) AS BIGINT)
                    THEN 1 ELSE 0 END) AS copies
          FROM r)
        SELECT doc_id, source, unnest(range(copies)) AS dn_epoch
        FROM c WHERE copies > 0"""))

    ,
    // #40d mixture WATER-FILLING solver (SURVEY row 104): the
    // feasibility step the mixture rows (40/92/97) assume someone ran —
    // a weight schedule is a WISH; the corpus has hard per-source
    // supplies, and the allocator spills a scarce source's unused share
    // onto the others without disturbing their ratios. Exact classic
    // water-filling over int64 (integer sort key avail·12/w, prefix-
    // saturation lemma, floor division with non-negative operands), so
    // both engines replay every decision bit for bit. The 9/10 budget
    // makes the decision SPLIT: high-weight sources saturate on their
    // availability, low-weight ones stay proportional (two-sided at
    // sf0.01 and 10×; DedupSpec pins the invariants).
    Q("corpus_mix_solve",
      (s, dir) => graft.dedup.Corpus.mixSolve(docs(s, dir), MixWeights),
      Some(s"""
        WITH ${mixSolveCtes()}
        SELECT source, weight, avail, alloc, saturated FROM solve""")),

    // #40d2 the solved allocation EXECUTED: the alloc column joins back
    // as each source's token cap and Corpus.quotaAdmitWith (row 97's
    // cap-as-joined-column admission, two-pass bucketed prefix sum)
    // admits docs in id order until the cap binds. Output: per-source
    // admitted counts against the solved quota — admitted ≤ alloc by
    // construction, and the shortfall is bounded by one document
    // (inclusive-boundary admission), which fill_millionths makes
    // visible. Closes the loop: plan (solve) → execution (admission)
    // under ONE composed oracle.
    Q("corpus_mix_solve_exec",
      (s, dir) => {
        val solve = graft.dedup.Corpus.mixSolve(docs(s, dir), MixWeights)
          .select(col("source"), col("alloc")).localCheckpoint()
        val joined = docs(s, dir).join(solve, Seq("source"))
        val adm = graft.dedup.Corpus.quotaAdmitWith(joined, col("alloc"))
        val agg = adm.groupBy(col("source")).agg(
          count(lit(1)).as("ad"),
          sum(graft.text.Text.tokenCount(col("text")).cast("long"))
            .as("at"))
        // LEFT from solve: a source whose cap admits nothing still
        // reports a zero row, it does not vanish
        solve.join(agg, Seq("source"), "left")
          .select(col("source"), col("alloc"),
            coalesce(col("ad"), lit(0L)).as("admitted_docs"),
            coalesce(col("at"), lit(0L)).as("admitted_toks"),
            expr("coalesce(at, 0L) * 1000000 div greatest(alloc, 1L)")
              .as("fill_millionths"))
      },
      Some(s"""
        WITH ${mixSolveCtes()},
        adm AS (
          SELECT doc_id, d.source, n_toks FROM (
            SELECT doc_id, source,
              CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
                AS BIGINT) AS n_toks,
              SUM(CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
                AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM documents) d
          JOIN solve sv ON d.source = sv.source
          WHERE sv.alloc < 0 OR d.cum <= sv.alloc)
        SELECT sv.source, sv.alloc,
          CAST(count(adm.doc_id) AS BIGINT) AS admitted_docs,
          CAST(COALESCE(sum(adm.n_toks), 0) AS BIGINT) AS admitted_toks,
          CAST(COALESCE(sum(adm.n_toks), 0) * 1000000
            // greatest(sv.alloc, 1) AS BIGINT) AS fill_millionths
        FROM solve sv LEFT JOIN adm ON adm.source = sv.source
        GROUP BY sv.source, sv.alloc"""))
    ,
    // #40d3 water-filling WITH REPETITION (SURVEY row 111): row 104's
    // solver composed with row 97's data-constrained epoch cap
    // (Muennighoff 2023) — each source's SUPPLY is avail·4, the budget
    // is 2.8× the unique corpus (budgetNum=28/10; the solver's own
    // DEFAULT is 1.8×), and where row 97's planner TRUNCATES
    // a capped source's excess, the solver SPILLS it onto the others
    // at their weight ratios (the standard lemma on repeated
    // supplies). The 28/10 budget makes the decision genuinely SPLIT:
    // 5/20 sources saturate at the full 4 epochs (their spill funds
    // the others) at sf0.01 AND 10×. Output carries the executor's
    // epoch split: full_epochs whole copies + resid_toks of a partial
    // epoch.
    Q("corpus_mix_solve_repeat",
      (s, dir) => graft.dedup.Corpus.mixSolveRepeat(docs(s, dir),
        MixWeights, budgetNum = 28L),
      Some(s"""
        WITH ${mixSolveRepeatCtes(4, 28, 10)}
        SELECT source, weight, avail, sup, alloc, saturated,
          full_epochs, resid_toks
        FROM rsolve""")),

    // #40d4 the repeated allocation EXECUTED (the corpus_upsample
    // machinery pointed at the SOLVED plan): full_epochs whole copies
    // of every doc per source plus the maximal id-order prefix that
    // fits resid_toks (quotaAdmitWith — the two-pass bucketed prefix
    // sum, no corpus-sized window), reported per source against the
    // plan. executed ≤ alloc with the shortfall bounded by one
    // document; epochs are contiguous from 1.
    Q("corpus_mix_solve_repeat_exec",
      (s, dir) => {
        val plan = graft.dedup.Corpus.mixSolveRepeat(docs(s, dir),
            MixWeights, budgetNum = 28L)
          .select(col("source"), col("alloc"), col("full_epochs"),
            col("resid_toks")).localCheckpoint()
        val d = docs(s, dir).select(col("doc_id"), col("source"),
          col("text"),
          graft.text.Text.tokenCount(col("text")).cast("long")
            .as("n_toks"))
        val withPlan = d.join(plan, Seq("source"))
        val fullRows = withPlan.where(col("full_epochs") >= 1L)
          .select(col("source"),
            explode(sequence(lit(1L), col("full_epochs"))).as("epoch"),
            col("n_toks"))
        val partial = graft.dedup.Corpus.quotaAdmitWith(
            withPlan.where(col("resid_toks") > 0L), col("resid_toks"),
            srcCol = "source", broadcastOffsets = false)
          .select(col("source"), (col("full_epochs") + 1L).as("epoch"),
            col("n_toks"))
        val agg = fullRows.union(partial).groupBy(col("source")).agg(
          sum(col("n_toks")).as("executed_toks"),
          max(col("epoch")).as("max_epoch"))
        plan.join(agg, Seq("source"), "left")
          .select(col("source"), col("alloc"),
            coalesce(col("executed_toks"), lit(0L)).as("executed_toks"),
            coalesce(col("max_epoch"), lit(0L)).as("max_epoch"),
            expr("coalesce(executed_toks, 0L) * 1000000" +
              " div greatest(alloc, 1L)").as("fill_millionths"))
      },
      Some(s"""
        WITH ${mixSolveRepeatCtes(4, 28, 10)},
        qd AS (
          SELECT doc_id, source,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
              AS BIGINT) AS n_toks
          FROM documents),
        fulle AS (
          SELECT qd.source,
            unnest(generate_series(1, p.full_epochs)) AS epoch,
            qd.n_toks
          FROM qd JOIN rsolve p USING (source)
          WHERE p.full_epochs >= 1),
        cum AS (
          SELECT doc_id, source, n_toks,
            SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM qd),
        part AS (
          SELECT c.source, p.full_epochs + 1 AS epoch, c.n_toks
          FROM cum c JOIN rsolve p USING (source)
          WHERE p.resid_toks > 0 AND c.cum <= p.resid_toks),
        ex AS (
          SELECT source, CAST(epoch AS BIGINT) AS epoch, n_toks
          FROM fulle
          UNION ALL
          SELECT source, CAST(epoch AS BIGINT), n_toks FROM part),
        ag AS (
          SELECT source, CAST(sum(n_toks) AS BIGINT) AS executed_toks,
            CAST(max(epoch) AS BIGINT) AS max_epoch
          FROM ex GROUP BY source)
        SELECT p.source, p.alloc,
          COALESCE(ag.executed_toks, 0) AS executed_toks,
          COALESCE(ag.max_epoch, 0) AS max_epoch,
          CAST(COALESCE(ag.executed_toks, 0) * 1000000
            // greatest(p.alloc, 1) AS BIGINT) AS fill_millionths
        FROM rsolve p LEFT JOIN ag ON ag.source = p.source"""))
    ,
    // #40d5 the repeated allocation PACKED (SURVEY row 114): row 111's
    // epoch plan made trainable — every copy gets a distinct id
    // (doc_id·32 + epoch: the stride covers mixSolveRepeat's whole
    // legal range, maxEpochs ≤ 16 ⇒ epoch ≤ 17 < 32, so copies never
    // collide for ANY caller — not just this query's budgetNum=28 —
    // and the oracle replays the arithmetic), the copies shard by the
    // copy-id hash (repeats of one doc SPREAD across shards — what a
    // loader wants), and the row-86 manifest summarizes the result:
    // a drifted epoch count, a lost partial-prefix doc, or a reordered
    // pack moves a count or checksum. Closes plan → execution → pack:
    // "train on 2.8× the corpus" is now a physical artifact, not a
    // table of intentions.
    Q("corpus_pack_repeat",
      (s, dir) => {
        val plan = graft.dedup.Corpus.mixSolveRepeat(docs(s, dir),
            MixWeights, budgetNum = 28L)
          .select(col("source"), col("full_epochs"), col("resid_toks"))
          .localCheckpoint()
        val d = docs(s, dir).select(col("doc_id"), col("source"),
          col("text"))
        val withPlan = d.join(plan, Seq("source"))
        val fullRows = withPlan.where(col("full_epochs") >= 1L)
          .select(col("doc_id"),
            explode(sequence(lit(1L), col("full_epochs"))).as("epoch"),
            col("text"))
        val partial = graft.dedup.Corpus.quotaAdmitWith(
            withPlan.where(col("resid_toks") > 0L), col("resid_toks"),
            srcCol = "source", broadcastOffsets = false)
          .select(col("doc_id"), (col("full_epochs") + 1L).as("epoch"),
            col("text"))
        val copies = fullRows.union(partial)
          .select((col("doc_id") * graft.dedup.Corpus.CopyIdStride
            + col("epoch")).as("cid"), col("text"))
        graft.dedup.Corpus.packMembers(copies, seqLen = 256, shards = 8,
            idCol = "cid")
          .groupBy(col("shard")).agg(
            count(lit(1)).as("n_docs"),
            (max(col("chunk_last")) + 1).as("n_seqs"),
            sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
              .otherwise(0L)).as("straddlers"),
            sum(col("cid") % lit(1000003L) *
              (graft.functions.XHash.h60(col("cid").cast("string"))
                % lit(1000000L)) % lit(1000003L)).as("checksum"))
      },
      Some(s"""
        WITH ${mixSolveRepeatCtes(4, 28, 10)},
        qd AS (
          SELECT doc_id, source,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
              AS BIGINT) AS n_toks
          FROM documents),
        fulle AS (
          SELECT qd.doc_id,
            unnest(generate_series(1, p.full_epochs)) AS epoch,
            qd.n_toks
          FROM qd JOIN rsolve p USING (source)
          WHERE p.full_epochs >= 1),
        cum AS (
          SELECT doc_id, source, n_toks,
            SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM qd),
        part AS (
          SELECT c.doc_id, p.full_epochs + 1 AS epoch, c.n_toks
          FROM cum c JOIN rsolve p USING (source)
          WHERE p.resid_toks > 0 AND c.cum <= p.resid_toks),
        cp AS (
          SELECT doc_id * 32 + epoch AS cid, n_toks FROM (
            SELECT doc_id, epoch, n_toks FROM fulle
            UNION ALL
            SELECT doc_id, epoch, n_toks FROM part)),
        pt AS (
          SELECT cid,
            ${graft.functions.XHash.h60Sql("CAST(cid AS VARCHAR)")} % 8
              AS shard,
            ${graft.functions.XHash.h60Sql("CAST(cid AS VARCHAR)")}
              % 1000000 AS ck,
            n_toks
          FROM cp),
        pc AS (
          SELECT cid, shard, ck, n_toks,
            COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY cid
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS tok_offset
          FROM pt)
        SELECT CAST(shard AS BIGINT) AS shard,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(max((tok_offset + n_toks - 1) // 256) + 1 AS BIGINT)
            AS n_seqs,
          CAST(sum(CASE WHEN tok_offset // 256 <>
            (tok_offset + n_toks - 1) // 256 THEN 1 ELSE 0 END)
            AS BIGINT) AS straddlers,
          CAST(sum(cid % 1000003 * ck % 1000003) AS BIGINT) AS checksum
        FROM pc GROUP BY shard""")),

    // #41e SEEDED GLOBAL SHUFFLE at pack time (SURVEY row 117): the
    // trainer's data-order knob. The unshuffled pack reads the corpus
    // in the SAME id order every epoch — correlated gradient steps;
    // `df.sample`/`rand()` would reshuffle but their output depends on
    // partition layout, so an epoch is unreplayable. The permutation
    // key is h60(seed || ':' || id): shard assignment AND within-shard
    // order both follow it, so one integer reorders the corpus
    // globally while every epoch stays bit-replayable in any engine.
    // The gate's checksum folds tok_offset — a pure function of the
    // permutation — against the id, so a drifted order (not just a
    // drifted membership) moves it; the oracle replays the seeded key,
    // the shard hash, and the running offsets exactly. QuotaSpec pins
    // the contract's two halves: different seed ⇒ different layout,
    // same seed ⇒ same multiset of (id, n_toks) as the unshuffled pack.
    Q("corpus_pack_shuffled",
      (s, dir) => graft.dedup.Corpus.packMembers(docs(s, dir),
          seqLen = 256, shards = 8, shuffleSeed = Some(PackShuffleSeed))
        .groupBy(col("shard")).agg(
          count(lit(1)).as("n_docs"),
          (max(col("chunk_last")) + 1).as("n_seqs"),
          sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
            .otherwise(0L)).as("straddlers"),
          sum(col("tok_offset") % lit(1000003L) *
            (col("doc_id") % lit(999983L)) % lit(1000003L))
            .as("order_check")),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
            ${graft.functions.XHash.h60Sql(
              s"CONCAT('$PackShuffleSeed:', CAST(doc_id AS VARCHAR))")}
              AS k,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
              AS BIGINT) AS n_toks
          FROM documents),
        c AS (
          SELECT doc_id, k % 8 AS shard, n_toks,
            COALESCE(SUM(n_toks) OVER (PARTITION BY k % 8
              ORDER BY k, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS tok_offset
          FROM t)
        SELECT CAST(shard AS BIGINT) AS shard,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(max((tok_offset + n_toks - 1) // 256) + 1 AS BIGINT)
            AS n_seqs,
          CAST(sum(CASE WHEN tok_offset // 256 <>
            (tok_offset + n_toks - 1) // 256 THEN 1 ELSE 0 END)
            AS BIGINT) AS straddlers,
          CAST(sum(tok_offset % 1000003 * (doc_id % 999983) % 1000003)
            AS BIGINT) AS order_check
        FROM c GROUP BY shard""")),

    // #41f CURRICULUM packing (SURVEY row 119): the rows-117+68
    // composition — within every shard the docs pack in ascending
    // integer quality grade (the row-85 kc percent, model-scored), the
    // seeded shuffle breaking ties WITHIN a grade, so a sequential
    // reader anneals on the highest-quality data last (the
    // decay-phase/midtraining data schedule) while shards stay
    // hash-balanced (the grade orders, it never places). The manifest
    // is per (shard, grade): doc/token mass, the grade's [first_off,
    // end_off) stream span — contiguous by construction, which
    // QuotaSpec asserts row-to-row — and the row-117 order_check, so a
    // mis-ordered grade or a leaked tie-break moves the gate. Oracle
    // replays the model scoring, the grade arithmetic, the seeded key,
    // and the running offsets exactly.
    Q("corpus_pack_curriculum",
      (s, dir) => {
        val d = docs(s, dir)
        val kc = graft.text.Text.qualityModelRaw(d)
          .select(col("doc_id"),
            expr("(num + 1000 * n_tokens) * 100 div (1000 * n_tokens)")
              .as("kc"))
        val graded = d.join(kc, Seq("doc_id"))
        graft.dedup.Corpus.packMembers(graded, seqLen = 256, shards = 8,
            shuffleSeed = Some(PackShuffleSeed),
            orderPrefix = Some(col("kc")))
          .withColumnRenamed("grade", "kc") // carried out — no re-join
          .groupBy(col("shard"), col("kc")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_toks"),
            min(col("tok_offset")).as("first_off"),
            max(col("tok_offset") + col("n_toks")).as("end_off"),
            sum(col("tok_offset") % lit(1000003L) *
              (col("doc_id") % lit(999983L)) % lit(1000003L))
              .as("order_check"))
      },
      Some {
        val h = graft.functions.XHash.h60Sql("'qm:' || t")
        s"""
        WITH tk AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        qd AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
            CAST(sum(($h % ${graft.text.Text.QmBuckets})
                * 2654435761 % 2000 - 1000)
              + ${graft.text.Text.QmBiasNum} * count(*) AS BIGINT) AS num
          FROM tk GROUP BY doc_id),
        m AS (
          SELECT doc_id, n_toks,
            (num + 1000 * n_toks) * 100 // (1000 * n_toks) AS kc,
            ${graft.functions.XHash.h60Sql(
              s"CONCAT('$PackShuffleSeed:', CAST(doc_id AS VARCHAR))")}
              AS k
          FROM qd),
        c AS (
          SELECT doc_id, kc, n_toks, k % 8 AS shard,
            COALESCE(SUM(n_toks) OVER (PARTITION BY k % 8
              ORDER BY kc, k, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS tok_offset
          FROM m)
        SELECT CAST(shard AS BIGINT) AS shard, CAST(kc AS BIGINT) AS kc,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_toks) AS BIGINT) AS n_toks,
          CAST(min(tok_offset) AS BIGINT) AS first_off,
          CAST(max(tok_offset + n_toks) AS BIGINT) AS end_off,
          CAST(sum(tok_offset % 1000003 * (doc_id % 999983) % 1000003)
            AS BIGINT) AS order_check
        FROM c GROUP BY shard, kc"""
      }),

    // #41g TOKENIZER-sized packing (SURVEY row 121): the row-86
    // manifest with n_toks counted by the PINNED BPE tokenizer (row
    // 51) instead of whitespace words. A trainer's loader consumes
    // tokenizer tokens; BPE runs ~1.3-2× words (fertility), so a
    // word-sized manifest mis-sizes every context window and every
    // budget by that factor — this is the units fix that makes the
    // pack, the token budget, and the tokenizer one story. Same
    // two-shuffle pack plan (the counter is a pure expression in the
    // first projection); the oracle counts tokens through the SAME
    // generated merge-table expression text_tokens_bpe gates, so the
    // two can never disagree about what a token is.
    Q("corpus_pack_bpe",
      (s, dir) => graft.dedup.Corpus.packMembers(docs(s, dir),
          seqLen = 256, shards = 8,
          tokenCount = graft.text.Text.bpeTokenCount)
        .groupBy(col("shard")).agg(
          count(lit(1)).as("n_docs"),
          (max(col("chunk_last")) + 1).as("n_seqs"),
          sum(col("n_toks")).as("n_toks"),
          sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
            .otherwise(0L)).as("straddlers")),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8
              AS shard,
            ${TextQueries.bpeCountSqlExpr("text")} AS n_toks
          FROM documents),
        c AS (
          SELECT doc_id, shard, n_toks,
            COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS tok_offset
          FROM t)
        SELECT CAST(shard AS BIGINT) AS shard,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(max((tok_offset + greatest(n_toks, 1) - 1) // 256) + 1
            AS BIGINT) AS n_seqs,
          CAST(sum(n_toks) AS BIGINT) AS n_toks,
          CAST(sum(CASE WHEN tok_offset // 256 <>
            (tok_offset + greatest(n_toks, 1) - 1) // 256
            THEN 1 ELSE 0 END)
            AS BIGINT) AS straddlers
        FROM c GROUP BY shard""")),

    // #40c per-source CAP (stratified sampling): at most N docs per
    // source, picked by smallest deterministic hash — the "cap any one
    // domain's share" mixture step. The oracle replays the hash ranking
    // and the cut exactly (sf0.01 has 20 sources × 25 docs; per=10
    // binds on every source).
    Q("corpus_stratified",
      (s, dir) => graft.dedup.Corpus.stratifiedSample(docs(s, dir), per = 10)
        .select(col("doc_id"), col("source")),
      Some(s"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
            row_number() OVER (PARTITION BY source
              ORDER BY ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")},
                       doc_id) AS rn
          FROM documents)
        WHERE rn <= 10""")),

    // #40d DSIR importance-weighted selection: score each doc by the
    // log-likelihood ratio of its hashed unigram+bigram bag under the
    // target slice (source='src0') vs the whole corpus, perturb with
    // replayable per-doc Gumbel noise, keep above the 75th-percentile
    // histogram cutoff. The oracle replays the full pipeline: feature
    // hashing, both Laplace-smoothed models, the log-weight sums, the
    // Gumbel draw, and the bucket-walk cutoff.
    Q("corpus_dsir",
      (s, dir) => graft.dedup.Corpus.dsirSelect(docs(s, dir),
        col("source") === "src0"),
      Some(s"""
        WITH tl AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+') AS t
          FROM documents),
        uni AS (SELECT doc_id, unnest(t) AS f FROM tl),
        bi AS (
          SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 2), ' ') AS f
          FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
                FROM tl WHERE len(t) >= 2)),
        fcnt AS (
          SELECT doc_id, ${graft.functions.XHash.h60Sql("f")} % 1024 AS bkt,
            COUNT(*) AS n
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
          GROUP BY 1, 2),
        tgt AS (SELECT doc_id FROM documents WHERE source = 'src0'),
        ct AS (
          SELECT bkt, SUM(n) AS tc FROM fcnt JOIN tgt USING (doc_id)
          GROUP BY 1),
        cr AS (SELECT bkt, SUM(n) AS rc FROM fcnt GROUP BY 1),
        nt AS (SELECT CAST(COALESCE(SUM(tc), 0) AS DOUBLE) AS nt FROM ct),
        nr AS (SELECT CAST(SUM(rc) AS DOUBLE) AS nr FROM cr),
        model AS (
          SELECT cr.bkt,
            ln((CAST(COALESCE(ct.tc, 0) AS DOUBLE) + 1.0) / (nt.nt + 1024))
              - ln((CAST(cr.rc AS DOUBLE) + 1.0) / (nr.nr + 1024)) AS lw
          FROM cr LEFT JOIN ct ON cr.bkt = ct.bkt, nt, nr),
        docw AS (
          SELECT doc_id, round(SUM(lw * n), 6) AS logw
          FROM fcnt JOIN model USING (bkt) GROUP BY 1),
        keyed AS (
          SELECT doc_id, logw,
            round(logw - ln(-ln(
              ((${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")}
                % 1000000) + 0.5) / 1000000.0)), 6) AS gkey
          FROM docw),
        c AS ${graft.plans.Quantiles.bucketsSql("keyed", "gkey", 0.001,
          Seq("cut" -> 0.75))}
        SELECT doc_id, logw,
          ${graft.plans.Quantiles.bucketSql("gkey", 0.001)} > cut AS selected
        FROM keyed, c"""))
  )
}
