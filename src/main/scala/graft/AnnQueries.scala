package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.sources.Sources

/**
 * SURVEY.md §2 rows 29-31: similarity search over the `embeddings`
 * table. Brute-force cosine top-k is the oracle-checked baseline (the
 * DuckDB side computes the identical strict-order double arithmetic);
 * the LSH-bucketed variants are the scale paths (rows-only).
 */
object AnnQueries {

  /** The ANN-family corpus: the embeddings table MINUS zero-norm
    * vectors — invalid input (a failed encoder emits all-zeros; cosine
    * over one is 0/0) dropped at the ingest boundary, the reference's
    * bad-value row-drop semantics applied to vectors. The filter
    * applies HERE, before counts and derived geometry, so the valid
    * population is the single corpus notion on both engines — every
    * oracle's `FROM embeddings` carries the identical norm>0
    * predicate. Found by the FuzzCorpus gate. */
  private[graft] def emb(s: org.apache.spark.sql.SparkSession, dir: String) =
    Sources.table(s, dir, "embeddings")
      .where(graft.ann.Ann.norm(col("embedding")) > 0)

  /** The cached ANN artifacts derive from the embeddings table only. */
  private val Embs = Seq("embeddings.parquet")

  /** The query point: the lowest-id vector (deterministic, oracle-able). */
  private def queryVec(e: org.apache.spark.sql.DataFrame) =
    e.orderBy(col("vec_id")).limit(1)

  /** A deterministic query BATCH for the batch-serving gates: the nq
    * lowest-id vectors, qid = vec_id. */
  private def queryBatch(e: org.apache.spark.sql.DataFrame, nq: Int) =
    e.orderBy(col("vec_id")).limit(nq)
      .select(col("vec_id").as("qid"), col("embedding"))

  /** How many leading dimensions the anisotropic fixture boosts —
    * exactly PQ subspace 0 (m=4 over 64 dims), the worst case for an
    * unrotated sub-vector split. */
  private[graft] val AnisoBoostDims = 16

  /** The ANISOTROPIC fixture for the rotation's quality gate: variance
    * concentrated in PQ subspace 0 (dims 0-15 boosted 8×, the rest
    * damped 8× — a 4096:1 variance ratio), the unbalanced-subspace
    * case Ge et al. CVPR'13 §4 motivates OPQ with. An unrotated m=4
    * split leaves subspace 0 carrying ~99.9% of the squared mass; the
    * H·D rotation spreads it to ~25% per subspace — the balance the
    * gate pins (NOT recall: see ann_rotated_balance's comment for why
    * recall provably cannot separate the paths here). Both weights are
    * exact powers of two, so the fixture is bit-replayable in SQL. */
  private[graft] def anisoEmb(e: org.apache.spark.sql.DataFrame) =
    e.withColumn("embedding", transform(col("embedding"), (x, i) =>
      x.cast("double") *
        when(i < lit(AnisoBoostDims), lit(8.0)).otherwise(lit(0.125))))

  /** The IVF+PQ serving artifact, built once per dataset: centroids,
    * codebooks, and the cell-partitioned code table — what a production
    * pipeline persists per crawl so searches never open the corpus.
    * The geometry is part of the artifact's identity: same data under
    * a changed nlist derivation must rebuild, not serve the old
    * layout. */
  private def ensureIvfpqArtifact(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val e = emb(s, dir)
    val (nl, _, mod) = ivfGeom(e)
    graft.tools.LocalFs.cached("ivfpq", dir, Embs, s"nl$nl") { p =>
      val centroids = Ann.ivfCentroids(e, nlist = nl, modulus = mod)
      val cb = Ann.pqCodebooks(e, modulus = sampleMod(e))
      centroids.write.mode("overwrite").parquet(s"$p/centroids")
      cb.write.mode("overwrite").parquet(s"$p/codebooks")
      // skew-guarded layout: bounded rows per file within each cell
      // dir, one file for balanced cells (Ann.boundedCellLayout)
      Ann.boundedCellLayout(Ann.ivfpqEncode(e, centroids, cb))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(s"$p/codes")
    }
  }

  /** Old-corpus/new-batch split for the INCREMENTAL index gate (the
    * dedup-store pattern applied to the ANN artifact): the artifact is
    * trained and first built from the old slice only. */
  private val AnnOldWhere = "vec_id % 3 <> 0"
  private val AnnNewWhere = "vec_id % 3 = 0"

  /** The incremental IVF+PQ artifact: built from the OLD corpus slice
    * (geometry, centroids, codebooks all derive from it), then the new
    * batch is encoded with the FROZEN halves read back off disk and
    * APPENDED into the cell-partitioned code table — the `dragnet
    * build -u` move for the vector index: a 100 TB index absorbs a
    * crawl by encoding the new rows only, never retraining or
    * re-encoding what it already holds. */
  private def ensureIvfpqIncArtifact(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, Int) = {
    val e = emb(s, dir)
    val eOld = e.where(expr(AnnOldWhere))
    val (nl, np, mod) = ivfGeom(eOld)
    val path = graft.tools.LocalFs.cached("ivfpq-inc", dir, Embs, s"nl$nl") { p =>
      val centroids = Ann.ivfCentroids(eOld, nlist = nl, modulus = mod)
      val cb = Ann.pqCodebooks(eOld, modulus = sampleMod(eOld))
      centroids.write.mode("overwrite").parquet(s"$p/centroids")
      cb.write.mode("overwrite").parquet(s"$p/codebooks")
      Ann.boundedCellLayout(Ann.ivfpqEncode(eOld, centroids, cb))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(s"$p/codes")
      // the incremental step: encode ONLY the new batch, against the
      // persisted halves (read back — the artifact is the contract,
      // not the in-memory frames), and append its files per cell
      Ann.boundedCellLayout(Ann.ivfpqEncode(e.where(expr(AnnNewWhere)),
          graft.sources.Sources.parquet(s, s"$p/centroids"),
          graft.sources.Sources.parquet(s, s"$p/codebooks")))
        .write.mode("append")
        .partitionBy("cell").parquet(s"$p/codes")
    }
    (path, np)
  }

  /** The PQ codebook sampling modulus PIN for the oracle-gated queries:
    * the static oracle SQL derives it as `count(*) // 16` (k = 16 codes
    * per subspace — the code alphabet is fixed, not corpus-sized), so
    * the Spark side must use the exact same integer (the operators'
    * scale default — plan-stats estimation, no extra pass — is
    * approximate). On these raw parquet reads count() is footer
    * metadata, not a data pass. */
  private def sampleMod(e: org.apache.spark.sql.DataFrame) =
    Some(math.max(1L, e.count() / 16))

  /** The DERIVED IVF geometry pins for the oracle-gated queries:
    * (nlist, nprobe, centroid sampling modulus), each computed by the
    * exact integer formula the oracle's [[ivfGeomCtes]] replays from
    * count(*) — the same both-sides derivation move the r5 bucket-bits
    * gates made, so the gates exercise the geometry that actually
    * scales (16 cells at the 500-vector gate by the min clamp, 32 at
    * the 20k-vector sf1 gate, ~√n/4 beyond). */
  private[graft] def ivfGeom(e: org.apache.spark.sql.DataFrame): (Int, Int, Some[Long]) = {
    val n = e.count()
    val nl = Ann.nlistFor(n)
    (nl, Ann.nprobeFor(nl), Some(math.max(1L, n / nl)))
  }

  def all: Seq[Q] = Seq(

    // #30 brute-force cosine top-k — exact baseline, oracle-checked
    Q("ann_topk",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.bruteForceTopK(e, queryVec(e), 10)
      },
      Some("""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0 ORDER BY vec_id LIMIT 1),
        t AS (
          SELECT vec_id,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(list_zip(embedding, qe),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
              (a, b) -> a + b) AS dp,
            sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS na,
            sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nb
          FROM embeddings, q WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0)
        SELECT vec_id, dp / (na * nb) AS cos
        FROM t ORDER BY cos DESC, vec_id LIMIT 10""")),

    // #31 LSH-bucketed top-k: scan only the query's sign bucket. The
    // oracle reproduces the identical arithmetic: sign bucket from dims
    // 1-4, per-vector normalization, sequential-double dot.
    Q("ann_lsh",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.lshTopK(e, queryVec(e), 10)
      },
      Some(s"""
        WITH n AS (
          SELECT vec_id, $bucketSql AS b,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        q AS (SELECT b AS qb, vn AS qn FROM n ORDER BY vec_id LIMIT 1)
        SELECT vec_id, ${dotSql("vn", "qn")} AS cos
        FROM n, q WHERE b = qb ORDER BY cos DESC, vec_id LIMIT 10""")),

    // #30-batch exact top-k for a query TABLE: one corpus pass against
    // the broadcast batch, per-query ranking window — the ground-truth
    // side of the recall gates, oracle-checked end to end.
    Q("ann_topk_batch",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.bruteForceTopKBatch(e, queryBatch(e, 4), 10)
      },
      Some(exactBatchSql)),

    // #31e RECALL GATE, LSH: per-query recall@10 of the bucketed batch
    // path against the exact batch ground truth. `hits`/`recall` are
    // deterministic (both sides fully replayed in SQL), pinning the
    // approximate path's RESULTS; `recall_ok` is the quality contract —
    // the oracle asserts literal TRUE, so a hyperparameter or impl
    // change that tanks retrieval turns the gate red even if it is
    // applied consistently to both engines (the HLL approx_ok move).
    // Single-probe LSH trades recall at bucket boundaries by design;
    // the floor is its honest contract, not a target.
    Q("ann_recall_lsh",
      (s, dir) => {
        val e = emb(s, dir)
        val q = queryBatch(e, 4)
        recallGate(Ann.bruteForceTopKBatch(e, q, 10),
          Ann.lshTopKBatch(e, q, 10), MinLshHits)
      },
      Some(recallSql(lshBatchSql, MinLshHits))),

    // #31f RECALL GATE, IVF+PQ: the composed serving path (persisted
    // artifact, batch search) against the same exact ground truth —
    // the end-to-end quality contract for the production read path.
    Q("ann_recall_ivfpq",
      (s, dir) => {
        val p = ensureIvfpqArtifact(s, dir)
        val e = emb(s, dir)
        val (_, np, _) = ivfGeom(e)
        val q = queryBatch(e, 4)
        recallGate(Ann.bruteForceTopKBatch(e, q, 10),
          Ann.ivfpqTopKEncodedBatch(
            graft.sources.Sources.parquet(s, s"$p/codes"),
            graft.sources.Sources.parquet(s, s"$p/centroids"),
            graft.sources.Sources.parquet(s, s"$p/codebooks"),
            q, 10, nprobe = np), MinIvfpqHits)
      },
      Some(recallSql(ivfpqBatchSql, MinIvfpqHits))),

    // #31f2 TWO-STAGE serving — ADC shortlists top-RerankCand, an
    // exact re-rank over the float vectors elects the final 10 (the
    // IVFADC + re-ranking read path, Jégou et al. TPAMI'11 §V-E's
    // refinement stage). Candidates come from the PERSISTED artifact;
    // only C float rows per query are ever re-opened (a keyed
    // point-lookup via Ann.rerankExact — never a corpus scan) and the
    // per-qid re-rank window is C-bounded by construction. Oracle = the
    // batch chain with its rank cut at C plus the exact-dot re-rank
    // replay.
    Q("ann_ivfpq_rerank",
      (s, dir) => {
        val p = ensureIvfpqArtifact(s, dir)
        val e = emb(s, dir)
        val (_, np, _) = ivfGeom(e)
        val q = queryBatch(e, 4)
        Ann.rerankExact(
          Ann.ivfpqTopKEncodedBatch(
            graft.sources.Sources.parquet(s, s"$p/codes"),
            graft.sources.Sources.parquet(s, s"$p/centroids"),
            graft.sources.Sources.parquet(s, s"$p/codebooks"),
            q, RerankCand, nprobe = np),
          e, q, 10)
      },
      Some(ivfpqBatchSqlTrained(candK = RerankCand, rerank = true))),

    // #31f3 RECALL GATE, re-rank: the refinement stage must actually
    // refine — reranked recall holds a measured margin over the plain
    // ADC top-10 AND an absolute floor, against the same exact ground
    // truth. A re-rank that silently returns its input scores margin
    // zero and fails; a collapsed candidate stage fails the floor.
    Q("ann_recall_rerank",
      (s, dir) => {
        val p = ensureIvfpqArtifact(s, dir)
        val e = emb(s, dir)
        val (_, np, _) = ivfGeom(e)
        val q = queryBatch(e, 4)
        // ONE ADC pass serves both sides: the plain top-10 is by
        // construction the 10-prefix of the same (score desc, id)
        // ranking that produced the C candidates — a per-qid window
        // over C×|queries| rows, not a second codes scan
        val cand = Ann.ivfpqTopKEncodedBatch(
            graft.sources.Sources.parquet(s, s"$p/codes"),
            graft.sources.Sources.parquet(s, s"$p/centroids"),
            graft.sources.Sources.parquet(s, s"$p/codebooks"),
            q, RerankCand, nprobe = np)
          .localCheckpoint()
        val w10 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))
        val plain = cand.withColumn("__rn", row_number().over(w10))
          .where(col("__rn") <= 10).drop("__rn")
        // ceiling = exact-top-10 members PRESENT in the candidate set —
        // the best ANY reranker can extract. An exact reranker attains
        // it BY CONSTRUCTION (a candidate outscoring an exact-top-10
        // member would itself be exact-top-10), so the gate demands the
        // margin only where plain is genuinely lossy: on a corpus where
        // plain already sits at the ceiling (seed-2 FuzzCorpus: 128
        // vectors, candidates ≈ the whole corpus) the margin is
        // unattainable and at-ceiling IS the correctness proof.
        recallGate2(Ann.bruteForceTopKBatch(e, q, 10),
          Ann.rerankExact(cand, e, q, 10),
          plain, MinRerankMargin, MinRerankHits,
          nameA = "hits_rerank", nameB = "hits_plain",
          ceiling = Some(cand))
      },
      Some(s"""
        WITH ex AS (SELECT * FROM ($exactBatchSql)),
        rr AS (SELECT * FROM (${
          ivfpqBatchSqlTrained(candK = RerankCand, rerank = true)})),
        pl AS (SELECT * FROM ($ivfpqBatchSql)),
        h1 AS (
          SELECT ex.qid, count(rr.vec_id) AS hits_rerank
          FROM ex LEFT JOIN rr
            ON ex.qid = rr.qid AND ex.vec_id = rr.vec_id
          GROUP BY 1),
        h2 AS (
          SELECT ex.qid, count(pl.vec_id) AS hits_plain
          FROM ex LEFT JOIN pl
            ON ex.qid = pl.qid AND ex.vec_id = pl.vec_id
          GROUP BY 1)
        SELECT h1.qid, h1.hits_rerank, h2.hits_plain, TRUE AS sep_ok
        FROM h1 JOIN h2 USING (qid) ORDER BY qid""")),

    // #31g RECALL GATE, INCREMENTAL: the old-slice-trained artifact
    // serving the GROWN corpus (old ∪ appended batch) against the
    // exact ground truth over everything — the quality contract for
    // index maintenance: geometry that stops representing the corpus
    // as it grows turns this red, which no determinism check catches.
    Q("ann_recall_incremental",
      (s, dir) => {
        val (p, np) = ensureIvfpqIncArtifact(s, dir)
        val e = emb(s, dir)
        val q = queryBatch(e, 4)
        recallGate(Ann.bruteForceTopKBatch(e, q, 10),
          Ann.ivfpqTopKEncodedBatch(
            graft.sources.Sources.parquet(s, s"$p/codes"),
            graft.sources.Sources.parquet(s, s"$p/centroids"),
            graft.sources.Sources.parquet(s, s"$p/codebooks"),
            q, 10, nprobe = np), MinIncHits)
      },
      Some(recallSql(ivfpqBatchSqlTrained(AnnOldWhere), MinIncHits))),

    // #31g2 DRIFT GATE (r18 verdict item 5): the index-lifecycle
    // DECISION the recall floors lacked. The frozen geometry's
    // training slice and the incoming batch each get a mean cosine
    // quantization residual (1 − best-centroid dot — one
    // |slice|×nlist pass, the cost of the assignment an append pays
    // anyway); ratio > 1.25 (rounded to 6dp so both engines compare
    // the identical number) flips retrain_due. The oracle replays
    // centroid sampling, residuals, means, and the THRESHOLD
    // COMPARISON itself — the adaptive-arm discipline applied to
    // retraining. AnnSpec forces drift (a disjointly-distributed
    // batch) and watches the flag flip; on the driver corpus the
    // batch is same-distribution and the flag stays false.
    Q("ann_drift_gate",
      (s, dir) => {
        val e = emb(s, dir)
        val eOld = e.where(expr(AnnOldWhere))
        val (nl, _, mod) = ivfGeom(eOld)
        Ann.driftGate(eOld, e.where(expr(AnnNewWhere)),
          Ann.ivfCentroids(eOld, nlist = nl, modulus = mod))
      },
      Some(s"""
        WITH n AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn,
            (vec_id % 3 <> 0) AS is_old
          FROM embeddings WHERE $normSql > 0),${ivfGeomCtes(AnnOldWhere)}
        cent AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE n.is_old AND
            ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
              % mm.m = 0),
        dm AS (
          SELECT n.id, n.is_old, max(${dotSql("n.vn", "c.cv")}) AS dmax
          FROM n CROSS JOIN cent c GROUP BY 1, 2),
        e AS (
          SELECT
            avg(CASE WHEN is_old
              THEN CAST(1.0 AS DOUBLE) - dmax END) AS err_trained,
            avg(CASE WHEN NOT is_old
              THEN CAST(1.0 AS DOUBLE) - dmax END) AS err_batch
          FROM dm)
        SELECT err_trained, err_batch,
          CASE WHEN err_trained > 0
            THEN round(err_batch / err_trained, 6) END AS ratio,
          CASE WHEN err_trained > 0
            THEN round(err_batch / err_trained, 6) >
              CAST(${Ann.DriftRatioMax} AS DOUBLE)
            ELSE err_batch > 0 END AS retrain_due
        FROM e""")),

    // #31h FILTERED vector search (the serving shape every vector store
    // pairs with ANN: "nearest neighbors WHERE label = c"): the index is
    // built over the FULL corpus, the predicate evaluates on probed-cell
    // members only — attributes ride ON the assignment row (ivfAssign
    // keep=label), so no corpus join happens at serve time; over the
    // persisted cell-partitioned layout the same plan is literal-IN
    // pruning + a scan-level filter on the pruned files. nprobe doubles
    // (capped at nlist) — the standard compensation for candidates
    // thinned by the filter's selectivity.
    Q("ann_filtered",
      (s, dir) => filteredIvf(s, dir),
      Some(filteredIvfSql)),

    // #31h2 the ADAPTIVE switch's other arm, gated at driver scale
    // (r18, found by a seed-3 FuzzCorpus sweep): a HIGHLY SELECTIVE
    // predicate (label ∧ id mod 4 → ~12 vectors at sf0.01) routes to
    // the exact pre-filter branch — brute force over the slice, both
    // cheaper than probing and immune to the tiny-slice recall
    // collapse IVF post-filtering suffers (a 13-vector slice measured
    // 2/10 through the probe-only path). The oracle replays the
    // DECISION, not just the chosen arm: the slice count picks exact
    // vs IVF relationally, so at sf0.1 (~125 matches) the same query
    // flips to the IVF arm and stays green. Together with
    // ann_filtered (whose ~50-vector slice takes the IVF arm at
    // sf0.01), both branches of the switch are oracle-gated in one
    // driver run.
    Q("ann_filtered_selective",
      (s, dir) => filteredAdaptive(s, dir, "label_eq_mod4"),
      Some(filteredAdaptiveSql(
        s"label = $FilterLabel AND vec_id % 4 = 3",
        s"a.label = $FilterLabel AND a.id % 4 = 3"))),

    // #31i RECALL GATE, FILTERED: the filtered IVF path against the
    // exact filtered ground truth (brute force over the label slice).
    // Both sides replay in SQL; recall_ok is the quality contract —
    // the oracle asserts literal TRUE, so geometry or compensation
    // changes that tank filtered retrieval turn the gate red.
    Q("ann_recall_filtered",
      (s, dir) => {
        val e = emb(s, dir)
        val ex = Ann.bruteForceTopK(
          e.where(col("label") === FilterLabel), queryVec(e), 10)
        ex.select(col("vec_id")).as("e")
          .join(filteredIvf(s, dir).select(col("vec_id")).as("a"),
            col("e.vec_id") === col("a.vec_id"), "left")
          .agg(count(col("a.vec_id")).as("hits"))
          .select(col("hits"), (col("hits") / lit(10.0)).as("recall"),
            (col("hits") >= MinFilteredHits).as("recall_ok"))
      },
      Some(s"""
        SELECT count(ap.vec_id) AS hits,
          count(ap.vec_id) / 10.0 AS recall, TRUE AS recall_ok
        FROM ($exactFilteredSql) ex
        LEFT JOIN ($filteredIvfSql) ap ON ex.vec_id = ap.vec_id""")),

    // #31b multi-probe LSH: also scan hamming-1 sign buckets
    Q("ann_multiprobe",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.lshTopKMultiProbe(e, queryVec(e), 10)
      },
      Some(s"""
        WITH n AS (
          SELECT vec_id, $bucketSql AS b,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        q AS (SELECT b AS qb, vn AS qn FROM n ORDER BY vec_id LIMIT 1)
        SELECT vec_id, ${dotSql("vn", "qn")} AS cos
        FROM n, q
        WHERE b IN (qb, xor(qb, 1), xor(qb, 2), xor(qb, 4), xor(qb, 8))
        ORDER BY cos DESC, vec_id LIMIT 10""")),

    // #31c IVF scale path: deterministic coarse cells (XHash-sampled
    // centroids), nprobe search. Oracle replays centroid sampling, cell
    // assignment (argmax by (dot, cid)), and the nprobe scan.
    Q("ann_ivf",
      (s, dir) => {
        val e = emb(s, dir)
        // geometry + sampling modulus pinned to the oracle's integer
        // derivation from count(*) (a parquet footer-metadata count on
        // this raw read); the operator's scale default derives the same
        // formula from plan stats with no extra pass
        val (nl, np, mod) = ivfGeom(e)
        Ann.ivfTopK(e, queryVec(e), 10, nlist = nl, nprobe = np,
          modulus = mod)
      },
      Some(s"""
        WITH n AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),${ivfGeomCtes()}
        cent AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mm.m = 0),
        dists AS (
          SELECT n.id, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent c),
        asg AS (
          SELECT id, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM dists),
        qn AS (SELECT vn AS qn FROM n ORDER BY id LIMIT 1),$qcCte
        SELECT a.id AS vec_id, ${dotSql("a.vn", "q.qn")} AS cos
        FROM asg a JOIN qc ON a.cell = qc.cell CROSS JOIN qn q
        WHERE a.rn = 1
        ORDER BY cos DESC, vec_id LIMIT 10""")),

    // #31c2 IVF with one deterministic Lloyd refinement: sampled
    // centroids → assign → per-dimension cell means → reassign → nprobe
    // search. Fixed iteration count keeps the training replayable: the
    // oracle recomputes the assignment, the means (empty cells keep the
    // sampled centroid), and the refined search end to end.
    Q("ann_ivf_lloyd",
      (s, dir) => {
        val e = emb(s, dir)
        val (nl, np, mod) = ivfGeom(e)
        val refined = Ann.ivfRefine(e,
          Ann.ivfCentroids(e, nlist = nl, modulus = mod))
        Ann.ivfTopKAssigned(Ann.ivfAssign(e, refined), refined,
          queryVec(e), 10, nprobe = np)
      },
      Some(s"""
        WITH n AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),${ivfGeomCtes()}$lloydCentCtes
        d1 AS (
          SELECT n.id, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent c),
        asg AS (
          SELECT id, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM d1),
        qn AS (SELECT vn AS qn FROM n ORDER BY id LIMIT 1),$qcCte
        SELECT a.id AS vec_id, ${dotSql("a.vn", "q.qn")} AS cos
        FROM asg a JOIN qc ON a.cell = qc.cell CROSS JOIN qn q
        WHERE a.rn = 1
        ORDER BY cos DESC, vec_id LIMIT 10""")),

    // #31d k-NN JOIN: every vector retrieves its top-5 neighbors from
    // the same table (bulk retrieval; bucket+probe join, never a cross
    // join). The bit width is DERIVED from the corpus size — the same
    // clamped ceil(log2(n/1024)) on both sides (Spark from the footer
    // count, the oracle from count(*) in SQL), so the gate exercises
    // the geometry that actually scales: 4 bits at sf0.01 (clamp), 5 at
    // the 10× gate's 20k vectors. Oracle replays the derived buckets,
    // the ADAPTIVE probe (hamming-1 probes only for left rows whose
    // home bucket underfills k), dots, and the ranking window.
    Q("ann_knn_join",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.knnJoin(e, e, 5,
          bits = Ann.bucketBitsFor(e.count(), Ann.QuadraticTargetBucket))
      },
      Some(s"""
        $derivedBitsCtes
        home AS (
          SELECT p.vec_id AS lid, r.vec_id AS rid,
            ${dotSql("p.vn", "r.vn")} AS cos
          FROM n p JOIN n r ON r.b = p.b AND r.vec_id <> p.vec_id),
        filled AS (SELECT lid FROM home GROUP BY lid HAVING count(*) >= 5),
        probes AS (
          SELECT vec_id AS lid, vn AS lv,
            unnest(list_transform(range(bits), j -> xor(b, 1::BIGINT << j))) AS pb
          FROM n, bb WHERE vec_id NOT IN (SELECT lid FROM filled)),
        pcand AS (
          SELECT p.lid, r.vec_id AS rid, ${dotSql("p.lv", "r.vn")} AS cos
          FROM probes p JOIN n r ON r.b = p.pb AND r.vec_id <> p.lid),
        cand AS (
          SELECT lid, rid, cos FROM home
          UNION ALL SELECT lid, rid, cos FROM pcand),
        ranked AS (
          SELECT lid, rid, cos,
            CAST(row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid)
              AS INT) AS rank
          FROM cand)
        SELECT lid, rid, cos, rank FROM ranked WHERE rank <= 5""")),

    // #30b int8-quantized brute-force top-k: 4× smaller vectors, cosine
    // is scale-invariant so no dequantization. The oracle replays the
    // explicit floor(x·scale + 0.5) quantization and the integer-valued
    // double arithmetic.
    Q("ann_quantized",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.quantizedTopK(e, queryVec(e), 10)
      },
      Some(s"""
        WITH qz AS (
          SELECT vec_id,
            list_transform(embedding, x -> floor(CAST(x AS DOUBLE)
              * (127.0 / greatest(list_aggregate(
                   list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                   'max'), 1e-30)) + 0.5)) AS q
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        qq AS (SELECT q AS query_q FROM qz ORDER BY vec_id LIMIT 1),
        scored AS (
          SELECT vec_id,
            ${dotSql("q", "query_q")}
              / (sqrt(${dotSql("q", "q")}) * sqrt(${dotSql("query_q", "query_q")})) AS cos
          FROM qz, qq)
        SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 10""")),

    // #29b embedding-space outlier detection (noise/mislabel hunting
    // before training): per label, the 3 vectors farthest from their
    // label's centroid — computed ENTIRELY in exact integers: int8
    // per-vector quantization (the ann_quantized arithmetic), per-dim
    // integer sums for the centroid, and the scaled L1 distance
    // Σ_d |cnt·q_d − S_d| (the mean's division multiplied away), so
    // neither float centroids nor summation order can move a rank.
    // Dim-exploded rows are (id, label, dim, int) — narrow; the
    // centroid table is labels×dims and broadcasts back.
    Q("corpus_embed_outliers",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val qz = emb(s, dir).select(col("vec_id"), col("label"),
          Ann.quantize8(col("embedding")).as("q"))
        val e = qz.select(col("vec_id"), col("label"),
            posexplode(col("q")))
          .select(col("vec_id"), col("label"), col("pos"),
            col("col").cast("long").as("qd"))
        val c = e.groupBy(col("label"), col("pos"))
          .agg(sum(col("qd")).as("sd"), count(lit(1)).as("cnt"))
        val dist = e.join(broadcast(c), Seq("label", "pos"))
          .groupBy(col("vec_id"), col("label"))
          .agg(sum(abs(col("cnt") * col("qd") - col("sd"))).as("sdist"))
        dist.withColumn("rnk", row_number().over(
            Window.partitionBy(col("label"))
              .orderBy(col("sdist").desc, col("vec_id"))))
          .where(col("rnk") <= 3)
          .select(col("label").cast("long").as("label"), col("vec_id"),
            col("sdist"), col("rnk").cast("long").as("rnk"))
      },
      Some(s"""
        WITH qz AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> floor(CAST(x AS DOUBLE)
              * (127.0 / greatest(list_aggregate(
                   list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                   'max'), 1e-30)) + 0.5)) AS q
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        e AS (
          SELECT vec_id, label, d, q[d] AS qd
          FROM qz, UNNEST(range(1, len(q) + 1)) u(d)),
        c AS (
          SELECT label, d, sum(qd) AS sd, count(*) AS cnt
          FROM e GROUP BY 1, 2),
        dist AS (
          SELECT e.vec_id, e.label,
            sum(abs(c.cnt * e.qd - c.sd)) AS sdist
          FROM e JOIN c ON c.label = e.label AND c.d = e.d
          GROUP BY 1, 2),
        r AS (
          SELECT label, vec_id, sdist,
            row_number() OVER (PARTITION BY label
              ORDER BY sdist DESC, vec_id) AS rnk
          FROM dist)
        SELECT CAST(label AS BIGINT) AS label, vec_id,
          CAST(sdist AS BIGINT) AS sdist, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3""")),

    // #30e RECALL GATE, int8: the quantized scan's top-10 against the
    // full-precision exact ground truth — the quality contract scalar
    // quantization was missing (its determinism gate can't see a
    // precision collapse). Floor 32/40 pinned from measurement (38/40
    // at sf0.01, 40/40 at sf0.001 and the 10× dir — int8 over 64 dims
    // is near-lossless, and the floor leaves honest slack).
    Q("ann_recall_quantized",
      (s, dir) => {
        val e = emb(s, dir)
        val q = queryBatch(e, 4)
        recallGate(Ann.bruteForceTopKBatch(e, q, 10),
          Ann.quantizedTopKBatch(e, q, 10), MinQuantHits)
      },
      Some(recallSql(quantizedBatchSql, MinQuantHits))),

    // #30c product quantization: deterministic per-subspace codebooks
    // (XHash-sampled like IVF), L2-nearest encoding, ADC search. The
    // oracle replays sampling, sub-vector split, argmin encoding (ties
    // on cid), the query lookup table, and the fixed-order score sum.
    Q("ann_pq",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.pqTopK(e, queryVec(e), 10, modulus = sampleMod(e))
      },
      Some(pqSql(lloyd = false))),

    // #30f OPQ-lite rotated PQ: the (1/√d)·H·D structured rotation
    // (deterministic ±1 diagonal from the house hash + fast
    // Walsh-Hadamard butterflies) decorrelates dimensions before the
    // sub-vector split, so the PQ subspaces share the variance — the
    // cheap stand-in for learned OPQ. Every butterfly is two double
    // adds in a fixed association order, so the oracle's relational
    // replay of all six stages is bit-identical and the gate needs no
    // new tolerance. Same sampling modulus as ann_pq (id-hash based,
    // rotation-invariant).
    Q("ann_pq_rotated",
      (s, dir) => {
        val e = emb(s, dir)
        val re = graft.ann.Opq.rotated(e)
        Ann.pqTopK(re, queryVec(re), 10, modulus = sampleMod(e))
      },
      Some(pqSql(lloyd = false, rotated = true))),

    // #30f2 batch PQ serving (the pqTopK analog of ann_topk_batch /
    // ann_ivfpq_batch): one codebook sample + one encode pass serve
    // the whole query batch — the LUT grows to m×k×nq broadcast rows,
    // the top-k boundary becomes a per-qid ranking window, and the
    // corpus-side cost is unchanged from the single-query path. The
    // oracle replays sampling, encoding, the per-qid LUT, and the
    // fixed-order score sum.
    Q("ann_pq_batch",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.pqTopKBatch(e, queryBatch(e, 4), 10, modulus = sampleMod(e))
      },
      Some(pqBatchSql)),

    // #30f4 LEARNED dimension permutation before the sub-vector split —
    // the balanced-variance allocation rung of OPQ (see
    // [[graft.ann.Permute]]: ranked by exact integer energy, dealt
    // round-robin; the permutation rides the plan as one broadcast
    // 64-element row, no driver collect). The oracle learns the SAME
    // permutation in HUGEINT and replays the whole permuted PQ chain.
    Q("ann_pq_permuted",
      (s, dir) => {
        val e = emb(s, dir)
        val pe = graft.ann.Permute.permuted(e,
          graft.ann.Permute.permutation(e))
        Ann.pqTopK(pe, queryVec(pe), 10, modulus = sampleMod(e))
      },
      Some(pqSql(lloyd = false, permuted = true))),

    // #30f5 the RECALL FLOOR the r12 verdict asked for — deliverable by
    // the permutation where the rotation provably could not (the
    // inertness theorem): on the anisotropic fixture over the
    // DEDUPLICATED population (cosine-dedup at 0.99 first — the 10×
    // dir's synthetic near-copies otherwise turn recall@10 into a
    // dedup measurement; at base scales the dedup is a no-op), the
    // permuted PQ's 20-query hit total must beat plain PQ's by ≥
    // [[MinPermMargin]] AND clear [[MinPermRecallHits]] absolutely.
    // Measured: plain 40-42 vs permuted 82-86 of 200 at sf0.001 /
    // sf0.01 / 10×-deduped — the floors sit at half the observed
    // separation. An identity (no-op) permutation scores margin 0 and
    // FAILS. The oracle replays dedup, fixture, permutation learning,
    // BOTH PQ chains, the exact ground truth, and the per-qid counts.
    Q("ann_recall_permuted",
      (s, dir) => {
        val e = emb(s, dir)
        val (nl, _, mod) = ivfGeom(e)
        val kept = Ann.semanticDedup(e, minCos = PermDedupMinCos,
          nlist = nl, modulus = mod).select(col("vec_id"))
        val pop = anisoEmb(e.join(kept, Seq("vec_id"), "left_semi"))
          .localCheckpoint()
        val ppop = graft.ann.Permute.permuted(pop,
          graft.ann.Permute.permutation(pop))
        val popMod = Some(math.max(1L, pop.count() / 16))
        val exact = Ann.bruteForceTopKBatch(pop, queryBatch(pop, 20), 10)
        recallGate2(exact,
          Ann.pqTopKBatch(ppop, queryBatch(ppop, 20), 10, modulus = popMod),
          Ann.pqTopKBatch(pop, queryBatch(pop, 20), 10, modulus = popMod),
          MinPermMargin, MinPermRecallHits)
      },
      Some(permRecallSql)),

    // #30f3 the ROTATION'S CONTRACT made falsifiable (the r12 verdict
    // item asked for a recall floor a no-op rotation fails; the
    // MEASURED finding is that no such floor exists — see the
    // [[graft.ann.Opq]] Scaladoc and OpqSpec's collapse pin: for any
    // axis-aligned variance concentration, Hadamard block
    // self-similarity makes rotated sampled-codebook PQ return
    // BIT-IDENTICAL top-k to plain PQ, and on sparse fixtures the
    // rotation measurably INCREASES sampled-codebook distortion, so
    // recall can never separate them at gate scale). What the rotation
    // provably delivers is Ge et al. CVPR'13's own objective: BALANCED
    // variance across the PQ subspaces. Gate exactly that, on the
    // anisotropic fixture ([[anisoEmb]], subspace 0 carrying ~99.9% of
    // the squared mass): per-vector per-subspace mass shares in exact
    // integer millionths, corpus-averaged; balance_ok requires the
    // UNROTATED max share ≥ 90% (the fixture really is adversarial)
    // AND the ROTATED max share ≤ 40% (the rotation really spreads
    // it). A no-op rotation reproduces the plain shares and fails the
    // 40% arm; the oracle replays fixture, rotation, and the integer
    // share arithmetic, asserting literal TRUE.
    Q("ann_rotated_balance",
      (s, dir) => rotatedBalance(emb(s, dir)),
      Some(rotatedBalanceSql)),

    // #30d PQ + one deterministic Lloyd refinement of the codebooks
    // (per-subspace analog of ann_ivf_lloyd); the oracle additionally
    // replays assignment → rounded per-dimension means → re-encode.
    Q("ann_pq_lloyd",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.pqTopK(e, queryVec(e), 10, lloyd = 1, modulus = sampleMod(e))
      },
      Some(pqSql(lloyd = true))),

    // #30e composed IVF+PQ — the standard large-scale serving shape:
    // the coarse quantizer prunes the corpus to the query's nprobe
    // nearest cells, then PQ asymmetric-distance scoring ranks only
    // those cells' members from their codes. The cell geometry DERIVES
    // from count(*) on both sides (nlist ~ √n/4, min-clamped to 16 at
    // this corpus); the codebook sample stays at the fixed k=16 code
    // alphabet — the oracle replays both samplings, cells → pruning →
    // encoding → LUT → fixed-order sum.
    Q("ann_ivfpq",
      (s, dir) => {
        val e = emb(s, dir)
        val (nl, np, mod) = ivfGeom(e)
        Ann.ivfpqTopK(e, queryVec(e), 10, nlist = nl, nprobe = np,
          modulus = mod, cbModulus = sampleMod(e))
      },
      Some(ivfpqSql(lloyd = false))),

    // #30e4 the rotation composed into the PRODUCTION index shape —
    // OPQ as actually deployed (Ge et al. CVPR'13 pair R with IVFADC,
    // not flat PQ): rotate first (one fused native expression), then
    // the full IVF+PQ pipeline — coarse cells, nprobe pruning,
    // sub-vector encode, LUT scoring — over the ROTATED corpus, query
    // rotated with it. Geometry and sampling key off ids and counts,
    // both rotation-invariant, so the oracle swaps only the normalize
    // prefix for the bit-identical rotation replay.
    Q("ann_ivfpq_rotated",
      (s, dir) => {
        val e = emb(s, dir)
        val re = graft.ann.Opq.rotated(e)
        val (nl, np, mod) = ivfGeom(e)
        Ann.ivfpqTopK(re, queryVec(re), 10, nlist = nl, nprobe = np,
          modulus = mod, cbModulus = sampleMod(e))
      },
      Some(ivfpqSql(lloyd = false, rotated = true))),

    // #30e5 the LEARNED permutation (row 93) composed into the same
    // production shape — the allocation that measurably lifts recall
    // on unbalanced variance (unlike the rotation, which is inert
    // there), deployed where OPQ deploys: before the IVF+PQ split,
    // query permuted alongside, oracle learning the permutation in
    // HUGEINT inside its own prefix.
    Q("ann_ivfpq_permuted",
      (s, dir) => {
        val e = emb(s, dir)
        val pe = graft.ann.Permute.permuted(e,
          graft.ann.Permute.permutation(e))
        val (nl, np, mod) = ivfGeom(e)
        Ann.ivfpqTopK(pe, queryVec(pe), 10, nlist = nl, nprobe = np,
          modulus = mod, cbModulus = sampleMod(e))
      },
      Some(ivfpqSql(lloyd = false, permuted = true))),

    // #30e2 the PRODUCTION read path of the composed shape: search the
    // persisted fingerprint-cached artifact (centroids + codebooks +
    // cell-partitioned codes) — the CODE table access is pruned to the
    // probed cells' mk-byte files; the float corpus is touched only for
    // the one query-vector row (sourcing queries from the corpus is the
    // gate's determinism anchor, not a serving requirement). Results are
    // identical to the inline build, so it shares ann_ivfpq's oracle;
    // what this gate adds is the serving path itself (artifact
    // round-trip, literal-IN partition pruning) under the DuckDB check
    // and the bench clock.
    Q("ann_ivfpq_persisted",
      (s, dir) => {
        val p = ensureIvfpqArtifact(s, dir)
        val e = emb(s, dir)
        val (_, np, _) = ivfGeom(e)
        Ann.ivfpqTopKEncoded(
          graft.sources.Sources.parquet(s, s"$p/codes"),
          graft.sources.Sources.parquet(s, s"$p/centroids"),
          graft.sources.Sources.parquet(s, s"$p/codebooks"),
          queryVec(e), 10, nprobe = np)
      },
      Some(ivfpqSql(lloyd = false))),

    // #30e2 INCREMENTAL index maintenance: the artifact (geometry,
    // centroids, codebooks, codes) is built from the OLD corpus slice;
    // the new batch is encoded against the frozen halves read back off
    // disk and appended per cell — then one search serves old ∪ new.
    // The oracle replays the full composition from raw embeddings with
    // the TRAINING population restricted to the old slice (trainWhere),
    // so a retrain-on-append or a dropped batch turns the gate red.
    // AnnSpec separately pins append-on-disk == full rebuild under the
    // same frozen halves, bit for bit.
    Q("ann_ivfpq_incremental",
      (s, dir) => {
        val (p, np) = ensureIvfpqIncArtifact(s, dir)
        val e = emb(s, dir)
        Ann.ivfpqTopKEncoded(
          graft.sources.Sources.parquet(s, s"$p/codes"),
          graft.sources.Sources.parquet(s, s"$p/centroids"),
          graft.sources.Sources.parquet(s, s"$p/codebooks"),
          queryVec(e), 10, nprobe = np)
      },
      Some(ivfpqSql(lloyd = false, trainWhere = AnnOldWhere))),

    // #30e3 BATCH serving over the same persisted artifact: a query
    // TABLE (4 lowest-id vectors) gets per-query cell choices via one
    // ranking window over the broadcast centroids, the probed-cell
    // union prunes the code table (literal IN — static pruning), and a
    // per-query broadcast LUT + ranking window returns every query's
    // top-10 in ONE plan — no per-query job loop, no corpus shuffle.
    Q("ann_ivfpq_batch",
      (s, dir) => {
        val p = ensureIvfpqArtifact(s, dir)
        val e = emb(s, dir)
        val (_, np, _) = ivfGeom(e)
        Ann.ivfpqTopKEncodedBatch(
          graft.sources.Sources.parquet(s, s"$p/codes"),
          graft.sources.Sources.parquet(s, s"$p/centroids"),
          graft.sources.Sources.parquet(s, s"$p/codebooks"),
          queryBatch(e, 4), 10, nprobe = np)
      },
      Some(ivfpqBatchSql)),

    // #30f the composed shape with one Lloyd refinement of BOTH halves
    // from the shared sample — centroids by cell means, codebooks by
    // (sub, code) means — the full train-then-serve pipeline in one
    // oracle-replayable query.
    Q("ann_ivfpq_lloyd",
      (s, dir) => {
        val e = emb(s, dir)
        val (nl, np, mod) = ivfGeom(e)
        Ann.ivfpqTopK(e, queryVec(e), 10, lloyd = 1, nlist = nl,
          nprobe = np, modulus = mod, cbModulus = sampleMod(e))
      },
      Some(ivfpqSql(lloyd = true))),

    // #29 embedding-cosine near-dup pairs (bucket join + exact verify);
    // bit width derived from the corpus size on both sides, as in
    // ann_knn_join
    Q("dedup_embed",
      (s, dir) => {
        val e = emb(s, dir)
        Ann.cosinePairs(e, minCos = 0.35,
          bits = Ann.bucketBitsFor(e.count(), Ann.QuadraticTargetBucket))
      },
      Some(s"""
        $derivedBitsCtes
        p AS (
          SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
            ${dotSql("a.vn", "c.vn")} AS cos
          FROM n a JOIN n c ON a.b = c.b AND a.vec_id < c.vec_id)
        SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.35""")),

    // #25b SEMANTIC dedup (SemDeDup): cluster with the derived-geometry
    // IVF assignment, then within each cluster drop every vector with a
    // lower-id neighbor at cos >= threshold — the keep-set the
    // paraphrase-level stage of a training pipeline emits. The oracle
    // replays the full pipeline: centroid sample, argmax-dot assignment
    // (d DESC, cid DESC tie-break), in-cell pairs, greedy lowest-id
    // survivors.
    Q("dedup_semantic",
      (s, dir) => {
        val e = emb(s, dir)
        val (nl, _, mod) = ivfGeom(e)
        Ann.semanticDedup(e, minCos = SemDedupMinCos, nlist = nl,
          modulus = mod)
      },
      Some(s"""
        WITH n AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),${ivfGeomCtes()}
        cent AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mm.m = 0),
        dists AS (
          SELECT n.id, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent c),
        asg AS (
          SELECT id, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM dists),
        a1 AS (SELECT id, vn, cell FROM asg WHERE rn = 1),
        dup AS (
          SELECT DISTINCT b.id AS id
          FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.id < b.id
          WHERE ${dotSql("a.vn", "b.vn")} >= $SemDedupMinCos)
        SELECT a.id AS vec_id FROM a1 a
        WHERE a.id NOT IN (SELECT id FROM dup)""")),

    // #25b2 SEMANTIC decontamination (SURVEY row 103): the embedding-
    // space leg of row 38's story — n-gram overlap catches verbatim
    // eval leakage, this catches the PARAPHRASED kind that shares no
    // shingles but sits next to an eval doc in embedding space. Exact
    // by construction (eval matrix is eval-bounded and rides the plan;
    // one corpus pass through the fused ArrayDotBatch kernel — no
    // join, no shuffle, threshold on a native array_max), so unlike
    // the ann_* serving paths there is no recall floor to gate. At the
    // house 0.35 bar the decision splits at every scale (7/494 flagged
    // at sf0.01) and at 10× it catches the copy-cluster TRUE eval
    // duplicates (max_cos ≈ 1). Oracle: full cross-join replay with
    // the identical sequential-double dot.
    Q("corpus_decontam_semantic",
      (s, dir) => Ann.semanticDecontam(emb(s, dir),
        col("vec_id") % 97 === 0),
      Some(s"""
        WITH n AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        ev AS (SELECT vec_id AS eid, vn AS en FROM n WHERE vec_id % 97 = 0),
        tr AS (SELECT vec_id, vn FROM n WHERE vec_id % 97 <> 0),
        sc AS (
          SELECT tr.vec_id, ${dotSql("tr.vn", "ev.en")} AS c
          FROM tr CROSS JOIN ev)
        SELECT vec_id,
          CAST(sum(CASE WHEN c >= $SemDedupMinCos THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
          max(c) AS max_cos
        FROM sc GROUP BY 1 HAVING max(c) >= $SemDedupMinCos""")),

    // #25b4 the IVF-PRUNED escalation of row 103 (SURVEY row 109, r14
    // verdict item 5): the same exact test, but the batch kernel
    // touches only the cells the spherical triangle inequality cannot
    // rule out — probe cell c iff max_e dot(cv, e) ≥ cos(r_c + θ),
    // r_c the cell's measured member radius, θ = arccos(minCos). The
    // prune is LOSSLESS by construction (ε only ever probes more), so
    // the oracle IS row 103's unpruned cross-join replay: a pruning
    // bug that loses one flagged doc hash-fails the gate, and AnnSpec
    // pins both pruned ≡ unpruned and that cells are genuinely
    // skipped on this corpus.
    Q("corpus_decontam_semantic2",
      (s, dir) => Ann.semanticDecontamPruned(emb(s, dir),
        col("vec_id") % 97 === 0),
      Some(s"""
        WITH n AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        ev AS (SELECT vec_id AS eid, vn AS en FROM n WHERE vec_id % 97 = 0),
        tr AS (SELECT vec_id, vn FROM n WHERE vec_id % 97 <> 0),
        sc AS (
          SELECT tr.vec_id, ${dotSql("tr.vn", "ev.en")} AS c
          FROM tr CROSS JOIN ev)
        SELECT vec_id,
          CAST(sum(CASE WHEN c >= $SemDedupMinCos THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
          max(c) AS max_cos
        FROM sc GROUP BY 1 HAVING max(c) >= $SemDedupMinCos""")),

    // #25b3 decontamination COMBINED: the per-doc union of the lexical
    // flag (row 38's shingle overlap) and the semantic flag (row 103)
    // — what a curation pipeline actually acts on. The aligned
    // doc_id/vec_id identity joins the two legs; output = every doc
    // either leg flags, with both booleans (at sf0.01 the legs flag
    // LARGELY DISJOINT populations — 169 lexical-only, 7 semantic-only,
    // 2 both: verbatim leakage and embedding proximity are different
    // signals, which is the row's point).
    Q("corpus_decontam_combined",
      (s, dir) => {
        val d = Sources.table(s, dir, "documents")
        val lex = graft.dedup.Dedup.contaminatedIds(
            d.where(col("doc_id") % 97 =!= 0),
            d.where(col("doc_id") % 97 === 0))
          .select(col("doc_id"), lit(true).as("lex_hit"))
        val sem = Ann.semanticDecontam(emb(s, dir),
            col("vec_id") % 97 === 0)
          .select(col("vec_id").as("doc_id"), lit(true).as("sem_hit"))
        lex.join(sem, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("lex_hit"), lit(false)).as("lex_hit"),
            coalesce(col("sem_hit"), lit(false)).as("sem_hit"))
      },
      Some(s"""
        WITH lex AS (${graft.DedupSql.decontam()}),
        n AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        ev AS (SELECT vec_id AS eid, vn AS en FROM n WHERE vec_id % 97 = 0),
        tr AS (SELECT vec_id, vn FROM n WHERE vec_id % 97 <> 0),
        sem AS (
          SELECT tr.vec_id AS doc_id
          FROM tr CROSS JOIN ev
          GROUP BY 1
          HAVING max(${dotSql("tr.vn", "ev.en")}) >= $SemDedupMinCos)
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
          l.doc_id IS NOT NULL AS lex_hit,
          s.doc_id IS NOT NULL AS sem_hit
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id""")),

    // #31h TOPIC-balanced token quotas (SURVEY row 95): the pack-time
    // mixture contract of rows 91/92 moved to EMBEDDING space — "no
    // topic may exceed TopicCapNum/TopicCapDen × its fair share of the
    // token budget", where a topic is a Lloyd-refined IVF cell (the
    // engine's own replayable geometry, nlist derived from corpus
    // size). This is the balance source/domain keys can't express: one
    // source or domain spans every topic, but a crawl skewed toward one
    // SUBJECT floods a single region of embedding space. Cap derives
    // from two corpus stats (total tokens, nlist) — exact integer
    // 21·total/(20·nl), i.e. 1.05× fair share, measured to bind 6/16
    // cells and leave 10 unbound at sf0.001 AND sf0.01 (max topic share
    // 1.30-1.34×, min 0.67-0.81× — both spec arms non-vacuous).
    // Admission = Corpus.quotaAdmit keyed on the cell: the two-pass
    // bucketed prefix sum (never Window.partitionBy(cell) — a hot topic
    // at 100 TB is one task otherwise); assignment = one broadcast pass
    // against ≤nlist centroids; offsets follow (cell × bucket) so the
    // planner picks the join strategy (broadcastOffsets = false, the
    // row-91 rationale: nlist reaches 65536 at scale). The oracle
    // replays Lloyd (shared lloydCentCtes), the cap, and the per-cell
    // running sum in HUGEINT-safe SQL — an over-cap doc hash-mismatches.
    Q("corpus_topic_quota",
      (s, dir) => {
        val (j, nl) = topicJoined(s, dir)
        graft.dedup.Corpus.quotaAdmit(j, Seq.empty, idCol = "doc_id",
            textCol = "text", srcCol = "cell", default = topicCap(j, nl),
            broadcastOffsets = false)
          .select(col("doc_id"), col("cell"), col("n_toks"))
      },
      Some(s"""$topicCtes
        SELECT c.doc_id, c.cell, c.n_toks
        FROM cum c, cap WHERE c.cum <= cap.cap""")),

    // #31h2 the topic FILL report: per cell, the cap, what the raw
    // corpus holds, what the quota admitted/rejected, the fill rate in
    // integer millionths, and whether the cap binds — the
    // contract-compliance table published next to the balanced corpus
    // (row 86/92 discipline: admitted_toks > cap structurally cannot
    // pass the gate).
    Q("corpus_topic_fill",
      (s, dir) => {
        val (j, nl) = topicJoined(s, dir)
        val cap = topicCap(j, nl)
        val admitted = graft.dedup.Corpus.quotaAdmit(j, Seq.empty,
          idCol = "doc_id", textCol = "text", srcCol = "cell",
          default = cap, broadcastOffsets = false)
        val raw = j.groupBy(col("cell")).agg(
          count(lit(1)).as("raw_docs"), sum(col("n_toks")).as("raw_toks"))
        val adm = admitted.groupBy(col("cell")).agg(
          count(lit(1)).as("admitted_docs"),
          sum(col("n_toks")).as("admitted_toks"))
        raw.join(adm, Seq("cell"), "left_outer")
          .withColumn("admitted_docs", coalesce(col("admitted_docs"), lit(0L)))
          .withColumn("admitted_toks", coalesce(col("admitted_toks"), lit(0L)))
          .select(col("cell"), lit(cap).as("cap"),
            col("raw_docs"), col("raw_toks"),
            col("admitted_docs"), col("admitted_toks"),
            (col("raw_toks") - col("admitted_toks")).as("rejected_toks"),
            expr(s"(admitted_toks * 1000000) div ${cap}L")
              .as("fill_millionths"),
            (col("raw_toks") > lit(cap)).as("binding"))
      },
      Some(s"""$topicCtes,
        adm AS (
          SELECT cell, count(*) AS admitted_docs, sum(n_toks) AS admitted_toks
          FROM cum, cap WHERE cum.cum <= cap.cap GROUP BY cell),
        raw AS (
          SELECT cell, count(*) AS raw_docs, sum(n_toks) AS raw_toks
          FROM j GROUP BY cell)
        SELECT r.cell, CAST(cap.cap AS BIGINT) AS cap,
          CAST(r.raw_docs AS BIGINT) AS raw_docs,
          CAST(r.raw_toks AS BIGINT) AS raw_toks,
          CAST(COALESCE(a.admitted_docs, 0) AS BIGINT) AS admitted_docs,
          CAST(COALESCE(a.admitted_toks, 0) AS BIGINT) AS admitted_toks,
          CAST(r.raw_toks - COALESCE(a.admitted_toks, 0) AS BIGINT)
            AS rejected_toks,
          CAST((COALESCE(a.admitted_toks, 0) * 1000000) // cap.cap AS BIGINT)
            AS fill_millionths,
          r.raw_toks > cap.cap AS binding
        FROM raw r LEFT JOIN adm a ON a.cell = r.cell CROSS JOIN cap"""))
  )

  /** Topic-cap ratio: a topic may hold at most Num/Den × its fair
    * share total/nlist of the token budget. 21/20 = 1.05× measured to
    * make both quota arms non-vacuous on the test corpus (binding for
    * the heavy topics, slack for the rest) — see corpus_topic_quota. */
  private[graft] val TopicCapNum = 21L
  private[graft] val TopicCapDen = 20L

  /** Documents joined to their topic = Lloyd-refined IVF cell of the
    * doc's embedding (1:1 on doc_id = vec_id), plus the derived nlist. */
  private def topicJoined(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Int) = {
    val e = emb(s, dir)
    val (nl, _, mod) = ivfGeom(e)
    val refined = Ann.ivfRefine(e,
      Ann.ivfCentroids(e, nlist = nl, modulus = mod))
    val asg = Ann.ivfAssign(e, refined)
      .select(col("id").as("doc_id"), col("cell"))
    val d = Sources.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("n_toks", graft.text.Text.tokenCount(col("text"))
        .cast("long"))
    // materialized: the Lloyd chain + broadcast assignment would
    // otherwise replay for every downstream action (the cap scalar,
    // quotaAdmit's max-id scalar, and each branch of the final job)
    (d.join(asg, "doc_id").localCheckpoint(), nl)
  }

  /** The integer topic cap — one corpus-stats scalar (total tokens; the
    * nVec discipline: hyperparameters derive from corpus size). */
  private def topicCap(j: org.apache.spark.sql.DataFrame, nl: Int): Long = {
    val total = j.agg(sum(col("n_toks"))).head.getLong(0)
    math.max(1L, TopicCapNum * total / (TopicCapDen * nl))
  }

  /** Shared oracle prefix of the topic-quota family: normalize →
    * derived geometry → [[lloydCentCtes]] → assignment → token counts →
    * doc↔topic join → the integer cap → per-cell running sums. */
  private def topicCtes: String = s"""
        WITH n AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),${ivfGeomCtes()}$lloydCentCtes
        d1 AS (
          SELECT n.id, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent c),
        asg AS (
          SELECT id, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM d1),
        toks AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS BIGINT)
              AS n_toks
          FROM documents),
        j AS (
          SELECT t.doc_id, a.cell, t.n_toks
          FROM toks t JOIN asg a ON a.id = t.doc_id AND a.rn = 1),
        cap AS (
          SELECT greatest(1, ($TopicCapNum * (SELECT sum(n_toks) FROM j))
            // ($TopicCapDen * (SELECT nl FROM nlc))) AS cap),
        cum AS (
          SELECT doc_id, cell, n_toks,
            SUM(n_toks) OVER (PARTITION BY cell ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM j)"""

  /** The semantic-dedup cosine threshold — hoisted to
    * [[graft.ann.Ann.SemDedupMinCos]] so graft.dedup shares the same
    * constant; this alias keeps the registry's oracle interpolations
    * reading locally. */
  private[graft] def SemDedupMinCos = Ann.SemDedupMinCos

  /** Batch-total recall floors for the quality gates, in hits out of
    * 40 (4 queries × 10). Measured: 9/9 (sf0.001), 9/9 (sf0.01), 39/39
    * (10× scaled — recall climbs with corpus density, so the tiny gate
    * corpora are the binding case). Each query always recovers itself,
    * so a degenerate path still scores 4 — the floor of 6 sits between
    * "only self" and the measured minimum with headroom for a data
    * regen, per-qid noise, and the nlist clamp edge. */
  private val MinLshHits = 6
  /** ADC shortlist size of the two-stage read path (candidates per
    * query handed to the exact re-rank). */
  private[graft] val RerankCand = 50

  /** Re-rank gate floors (recallGate2 semantics: reranked total ≥
    * plain total + margin AND ≥ the absolute floor, of 40 possible
    * hits). Measured rerank/plain: 20/9 at sf0.001, 15/9 at sf0.01,
    * 40/28 at the 10× dir — margin pinned at half the weakest
    * separation (6 at sf0.01), floor at half the weakest rerank total.
    * A re-rank that returns its input scores margin 0 and fails; a
    * collapsed candidate stage fails the absolute floor. */
  private[graft] val MinRerankMargin = 3L
  private[graft] val MinRerankHits = 8L

  private val MinIvfpqHits = 6
  /** Incremental-path floor, pinned from measurement (batch TOTAL of
    * 40 possible hits): 6 at sf0.01 (min clamp, PQ lossy at 500
    * vectors), 31 at the 10x dir where the derived geometry is real.
    * 4 leaves honest slack at the tiny scale while a collapsed
    * artifact (wrong cells, scrambled codes) measures 0-1. */
  private val MinIncHits = 4

  /** The label slice the filtered-search gates serve (an arbitrary
    * class in [0,10); every sf dir carries all ten). */
  private val FilterLabel = 3

  /** Filtered-recall floor, single query so out of 10. Measured: 4/10
    * at sf0.001 and 7/10 at sf0.01 (both at the nlist min clamp: 16
    * cells, 8 probed, ~1/10 of their members carrying the label — the
    * filtered candidate pool is ~25 vectors, so misses are the probe
    * boundary, not a bug), 7/10 at the 10× dir (50k vectors, 8 of 64
    * cells probed — real pruning). The floor of 3 sits
    * under the measured minimum; a collapsed probe set or broken
    * attribute carry scores 0-2 (the label slice thins to ~3 rows per
    * cell, and the query has no self-hit — its own label differs). */
  private val MinFilteredHits = 3

  /** Pre-filter/post-filter switch point of the adaptive filtered
    * search (2·k): a slice at or below it brute-forces exactly (found
    * by a seed-3 FuzzCorpus sweep: a 13-vector slice concentrated in
    * unprobed cells measured 2/10 through IVF post-filtering); above
    * it, the full-corpus IVF + on-assignment predicate. Sized so the
    * driver corpus's ~50-vector label slice still exercises the IVF
    * branch at sf0.01 while ann_filtered_selective's ~12-vector slice
    * exercises the exact branch in the same gate run. */
  private val FilteredExactMax = 20L

  /** The adaptive filtered serving frame (ann_filtered + the recall
    * gate's approximate side): [[graft.ann.Ann.filteredTopK]] with the
    * label predicate, nprobe doubled capped at nlist. */
  /** The serving predicates whose populations the slice-count store
    * maintains — keyed by stable strings (a real store keys by the
    * predicate literal from its query log). */
  private[graft] val FilteredPredKeys: Seq[(String,
      org.apache.spark.sql.Column)] = Seq(
    "label_eq" -> (col("label") === FilterLabel),
    "label_eq_mod4" ->
      (col("label") === FilterLabel && col("vec_id") % 4 === 3))

  /** Slice-count store (r18 verdict item 4): the per-predicate
    * populations computed ONCE beside the artifact caches, so every
    * filtered serve reads one stored row instead of re-counting its
    * slice. */
  private def ensureSliceCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("slicecnt", dir, Embs,
        s"p${FilteredPredKeys.size}") { p =>
      Ann.writeSliceCounts(s, p,
        Sources.table(s, dir, "embeddings"), FilteredPredKeys)
    }

  private def filteredIvf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    filteredAdaptive(s, dir, "label_eq")

  /** Adaptive filtered serve for a MAINTAINED predicate: the arm
    * decision reads the stored population (O(1) — no slice scan),
    * then runs the chosen arm. The oracle replays the decision from
    * the same relational count the store holds (SliceCountSpec pins
    * store == direct count, and append == integer add). */
  private def filteredAdaptive(s: org.apache.spark.sql.SparkSession,
      dir: String, predKey: String)
      : org.apache.spark.sql.DataFrame = {
    val (pred, asgPred) = filteredPredPair(predKey)
    val n = Ann.sliceCount(s, ensureSliceCounts(s, dir), predKey)
    val e = emb(s, dir)
    val (nl, np, mod) = ivfGeom(e)
    Ann.filteredTopK(e, pred, asgPred, Seq("label"), queryVec(e), 10,
      nlist = nl, nprobe = math.min(nl, 2 * np), modulus = mod,
      exactThreshold = FilteredExactMax, sliceCount = Some(n))
  }

  /** (corpus-frame predicate, assignment-frame predicate) per key. */
  private def filteredPredPair(key: String)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    key match {
      case "label_eq" =>
        (col("label") === FilterLabel, col("label") === FilterLabel)
      case "label_eq_mod4" =>
        (col("label") === FilterLabel && col("vec_id") % 4 === 3,
          col("label") === FilterLabel && col("id") % 4 === 3)
    }

  /** Exact filtered ground truth: brute force over the `pred` slice. */
  private def exactFilteredPredSql(pred: String): String = s"""
        WITH n AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        q AS (SELECT vn AS qn FROM n ORDER BY vec_id LIMIT 1)
        SELECT vec_id, ${dotSql("vn", "qn")} AS cos
        FROM n, q WHERE $pred
        ORDER BY cos DESC, vec_id LIMIT 10"""

  private def exactFilteredSql: String =
    exactFilteredPredSql(s"label = $FilterLabel")

  /** The adaptive branch replayed relationally: the slice count (same
    * zero-norm exclusion as the Spark side) picks the exact or the IVF
    * arm — both fully replayed, so the DECISION is part of the oracle,
    * not just the chosen arm's arithmetic. `predN` is the predicate
    * over raw embeddings columns; `predAsg` the same over the
    * assignment alias `a` (id, label). */
  private def filteredAdaptiveSql(predN: String, predAsg: String): String = s"""
        WITH sel AS (
          SELECT count(*) AS c FROM embeddings
          WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0
            AND ($predN))
        SELECT * FROM (${exactFilteredPredSql(predN)}) e
        WHERE (SELECT c FROM sel) <= $FilteredExactMax
        UNION ALL
        SELECT * FROM (${filteredIvfPredSql(predAsg)}) i
        WHERE (SELECT c FROM sel) > $FilteredExactMax"""

  /** SQL twin of the IVF arm: ann_ivf's replay plus the predicate
    * carried through the assignment and the doubled-nprobe probe set. */
  private def filteredIvfPredSql(predAsg: String): String = s"""
        WITH n AS (
          SELECT vec_id AS id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),${ivfGeomCtes()}
        np2c AS (
          SELECT least((SELECT nl FROM nlc), 2 * np) AS np2 FROM npc),
        cent AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mm.m = 0),
        dists AS (
          SELECT n.id, n.label, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent c),
        asg AS (
          SELECT id, label, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM dists),
        qn AS (SELECT vn AS qn FROM n ORDER BY id LIMIT 1),
        qc AS (
          SELECT cell FROM (
            SELECT c.cid AS cell,
              row_number() OVER (ORDER BY ${dotSql("qn.qn", "c.cv")} DESC,
                c.cid) AS rn
            FROM cent c, qn)
          WHERE rn <= (SELECT np2 FROM np2c))
        SELECT a.id AS vec_id, ${dotSql("a.vn", "q.qn")} AS cos
        FROM asg a JOIN qc ON a.cell = qc.cell CROSS JOIN qn q
        WHERE a.rn = 1 AND ($predAsg)
        ORDER BY cos DESC, vec_id LIMIT 10"""

  private def filteredIvfSql: String =
    filteredAdaptiveSql(s"label = $FilterLabel",
      s"a.label = $FilterLabel")

  /** The exact batch ground truth (ann_topk_batch's oracle), shared
    * with the recall gates' SQL. */
  private def exactBatchSql: String = s"""
        WITH n AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        qs AS (SELECT vec_id AS qid, vn AS qn FROM n ORDER BY vec_id LIMIT 4),
        sc AS (
          SELECT qs.qid, n.vec_id, ${dotSql("n.vn", "qs.qn")} AS cos
          FROM n CROSS JOIN qs)
        SELECT qid, vec_id, cos FROM (
          SELECT qid, vec_id, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
              AS rn
          FROM sc)
        WHERE rn <= 10"""

  /** Floor for the int8 recall gate (total hits over 4 queries × 10). */
  private val MinQuantHits = 32

  /** The batch analog of ann_quantized's oracle — per-vector int8
    * quantization, 4-query batch, per-qid ranking window. */
  private def quantizedBatchSql: String = s"""
        WITH qz AS (
          SELECT vec_id,
            list_transform(embedding, x -> floor(CAST(x AS DOUBLE)
              * (127.0 / greatest(list_aggregate(
                   list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                   'max'), 1e-30)) + 0.5)) AS q
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        qb AS (SELECT vec_id AS qid, q AS qq FROM qz ORDER BY vec_id LIMIT 4),
        sc AS (
          SELECT qb.qid, qz.vec_id,
            ${dotSql("qz.q", "qb.qq")}
              / (sqrt(${dotSql("qz.q", "qz.q")})
                 * sqrt(${dotSql("qb.qq", "qb.qq")})) AS cos
          FROM qz CROSS JOIN qb)
        SELECT qid, vec_id, cos FROM (
          SELECT qid, vec_id, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
              AS rn
          FROM sc)
        WHERE rn <= 10"""

  /** The batch analog of ann_lsh's oracle — per-qid sign-bucket scan
    * and ranking window, mirroring [[Ann.lshTopKBatch]]. */
  private def lshBatchSql: String = s"""
        WITH n AS (
          SELECT vec_id, $bucketSql AS b,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        qs AS (
          SELECT vec_id AS qid, b AS qb, vn AS qn
          FROM n ORDER BY vec_id LIMIT 4),
        sc AS (
          SELECT qs.qid, n.vec_id, ${dotSql("n.vn", "qs.qn")} AS cos
          FROM n JOIN qs ON n.b = qs.qb)
        SELECT qid, vec_id, cos FROM (
          SELECT qid, vec_id, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
              AS rn
          FROM sc)
        WHERE rn <= 10"""

  /** Spark side of a recall gate: per-qid intersection of the approx
    * path with the exact ground truth — `hits`/`recall` deterministic,
    * `recall_ok` = BATCH-TOTAL hits ≥ floor computed from the REAL
    * results (the oracle asserts literal TRUE, so quality holds even
    * under two-sided edits). The total is the gated statistic because
    * per-qid hits are small-sample noisy at gate corpora sizes; the
    * window is over 4 rows — a driver-side triviality. */
  private def recallGate(exact: org.apache.spark.sql.DataFrame,
      approx: org.apache.spark.sql.DataFrame,
      minHits: Int): org.apache.spark.sql.DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    exact.as("e").join(approx.as("a"),
        col("e.qid") === col("a.qid") && col("e.vec_id") === col("a.vec_id"),
        "left")
      .groupBy(col("e.qid"))
      .agg(count(col("a.vec_id")).as("hits"))
      .select(col("qid"), col("hits"),
        (col("hits") / lit(10.0)).as("recall"),
        (sum(col("hits")).over(all) >= minHits).as("recall_ok"))
      .orderBy(col("qid"))
  }

  /** Dual-path recall gate: per-qid hits for the permuted and plain PQ
    * paths against one exact ground truth; sep_ok asserts the batch
    * totals separate by `minMargin` and clear `minHits` absolutely. */
  /** `ceiling`: when set (the rerank gate), path A is an EXACT
    * re-scorer whose attainable maximum is the exact-hit count inside
    * this candidate frame — sep_ok then accepts margin-over-B OR
    * A-at-ceiling, so a corpus where B already saturates the candidate
    * recall (margin unattainable by construction) doesn't fail a
    * correct reranker, while a reranker that leaves candidate hits on
    * the table still goes red. */
  private[graft] def recallGate2(exact: org.apache.spark.sql.DataFrame,
      perm: org.apache.spark.sql.DataFrame,
      plain: org.apache.spark.sql.DataFrame,
      minMargin: Long, minHits: Long,
      nameA: String = "hits_perm",
      nameB: String = "hits_plain",
      ceiling: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    def hits(ap: org.apache.spark.sql.DataFrame, name: String) =
      exact.as("e").join(ap.as("a"),
          col("e.qid") === col("a.qid") &&
            col("e.vec_id") === col("a.vec_id"), "left")
        .groupBy(col("e.qid").as("qid"))
        .agg(count(col("a.vec_id")).as(name))
    val sepA = sum(col(nameA)).over(all)
    val margined = sepA >= sum(col(nameB)).over(all) + minMargin
    val sep = ceiling match {
      case Some(_) =>
        margined || sepA >= sum(col("__ceil")).over(all)
      case None => margined
    }
    val joined = hits(perm, nameA).join(hits(plain, nameB), Seq("qid"))
    ceiling.map(c => joined.join(hits(c, "__ceil"), Seq("qid")))
      .getOrElse(joined)
      .select(col("qid"), col(nameA), col(nameB),
        (sep && sepA >= minHits).as("sep_ok"))
      .orderBy(col("qid"))
  }

  /** Cosine threshold of the recall fixture's dedup pass: keep one
    * vector per near-copy cluster (copies sit at cos ≈ 0.9999;
    * distinct synthetic vectors far below), so recall@10 measures
    * SEARCH, not duplicate retrieval, at every scale. */
  private[graft] val PermDedupMinCos = 0.99

  /** Floors of [[recallGate2]]'s sep_ok, pinned at ~half the measured
    * separation (plain 40-42 vs permuted 82-86 of 200 across sf0.001 /
    * sf0.01 / 10×-deduped): the margin a no-op permutation (margin 0)
    * fails, and the absolute floor a collapsed permuted path fails. */
  private[graft] val MinPermMargin = 20L
  private[graft] val MinPermRecallHits = 60L

  /** The [[recallGate2]] oracle: semantic dedup at
    * [[PermDedupMinCos]] → anisotropic fixture → permutation learned
    * in HUGEINT → plain + permuted batch-PQ chains → exact ground
    * truth → per-qid hit counts, sep_ok as literal TRUE. */
  private def permRecallSql: String = s"""
        WITH n AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),${ivfGeomCtes()}
        sd_cent AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mm.m = 0),
        sd_dists AS (
          SELECT n.id, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN sd_cent c),
        sd_asg AS (
          SELECT id, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM sd_dists),
        sd_a1 AS (SELECT id, vn, cell FROM sd_asg WHERE rn = 1),
        sd_dup AS (
          SELECT DISTINCT b.id AS id
          FROM sd_a1 a JOIN sd_a1 b ON a.cell = b.cell AND a.id < b.id
          WHERE ${dotSql("a.vn", "b.vn")} >= $PermDedupMinCos),
        pop AS (
          SELECT e.vec_id AS id,
            list_transform(range(0, ${graft.ann.Opq.Dim}), i ->
              CAST(e.embedding[i + 1] AS DOUBLE)
                * CASE WHEN i < $AnisoBoostDims THEN 8.0 ELSE 0.125 END)
              AS av
          FROM embeddings e
          WHERE e.vec_id NOT IN (SELECT id FROM sd_dup) AND sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        ${graft.ann.Permute.permCtes("pop", "av")},
        npl AS (
          SELECT id, list_transform(av, x -> x / ${normSqlOf("av")}) AS vn
          FROM pop),
        npm AS (
          SELECT id, list_transform(r, x -> x / ${normSqlOf("r")}) AS vn
          FROM permr),
        mmq AS (SELECT greatest(1, count(*) // 16) AS m FROM pop),
        subIdx AS (SELECT unnest([0, 1, 2, 3]) AS sub),
        ${pqBatchCtes("pl", "npl", 20, "mmq")},
        ${pqBatchCtes("pm", "npm", 20, "mmq")},
        exq AS (SELECT id AS qid, vn AS qn FROM npl ORDER BY id LIMIT 20),
        exsc AS (
          SELECT exq.qid, npl.id AS vec_id,
            ${dotSql("npl.vn", "exq.qn")} AS cos
          FROM npl CROSS JOIN exq),
        extop AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
                AS rn
            FROM exsc)
          WHERE rn <= 10),
        hp AS (
          SELECT ex.qid, count(t.vec_id) AS hits_perm
          FROM extop ex LEFT JOIN pm_top t
            ON ex.qid = t.qid AND ex.vec_id = t.vec_id
          GROUP BY 1),
        hl AS (
          SELECT ex.qid, count(t.vec_id) AS hits_plain
          FROM extop ex LEFT JOIN pl_top t
            ON ex.qid = t.qid AND ex.vec_id = t.vec_id
          GROUP BY 1)
        SELECT hp.qid, hp.hits_perm, hl.hits_plain, TRUE AS sep_ok
        FROM hp JOIN hl USING (qid) ORDER BY qid"""

  /** The recall gates' oracle: replay BOTH paths, count the per-qid
    * intersection, assert the quality contract as literal TRUE. */
  private def recallSql(approxSql: String, minHits: Int): String = s"""
        SELECT ex.qid, count(ap.vec_id) AS hits,
          count(ap.vec_id) / 10.0 AS recall, TRUE AS recall_ok
        FROM ($exactBatchSql) ex
        LEFT JOIN ($approxSql) ap
          ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
        GROUP BY 1 ORDER BY 1"""

  /** The rotation-balance floors, in integer millionths of a vector's
    * squared mass (corpus-averaged): the anisotropic fixture must put
    * ≥ 90% of the mass in one unrotated subspace (it measures ~99.9%),
    * and the rotation must cap every subspace's share at ≤ 40% (it
    * measures ~25% ± per-vector noise; a no-op rotation reproduces the
    * ~99.9% and fails). Wide enough to survive a data regen, tight
    * enough that any partial mixing (a dropped butterfly stage leaves
    * ~50% in one pair of subspaces) still fails. */
  private[graft] val MaxRotShareMillionths = 400000L
  private[graft] val MinPlainShareMillionths = 900000L

  /** Spark side of the rotation-balance gate: per vector, each PQ
    * subspace's share of the squared mass in exact integer millionths
    * (floor(10⁶·‖sub‖²/‖v‖²) — fixed-order dots, so both engines
    * compute the identical double before the one floor), for the
    * UNROTATED aniso fixture and its H·D rotation; corpus-averaged by
    * integer division. balance_ok is the quality contract (the oracle
    * asserts literal TRUE). */
  private[graft] def rotatedBalance(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val both = graft.ann.Opq.rotated(
        anisoEmb(e).withColumn("pv", col("embedding")))
      .select(col("vec_id"), col("pv"), col("embedding").as("rv"))
    def shares(v: String): Seq[org.apache.spark.sql.Column] = {
      val tot = Ann.dot(col(v), col(v))
      (0 until 4).map { s =>
        floor(lit(1000000.0)
          * Ann.dot(slice(col(v), s * 16 + 1, 16),
            slice(col(v), s * 16 + 1, 16)) / tot)
      }
    }
    val ps = shares("pv")
    val rs = shares("rv")
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    both.select(explode(array((0 until 4).map(s =>
        struct(lit(s).as("sub"), ps(s).as("p"), rs(s).as("r"))): _*)).as("b"))
      .select(col("b.sub").as("sub"), col("b.p").as("p"), col("b.r").as("r"))
      .groupBy(col("sub"))
      .agg(expr("sum(p) div count(1)").as("plain_share"),
        expr("sum(r) div count(1)").as("rot_share"))
      .select(col("sub"), col("plain_share"), col("rot_share"),
        (max(col("rot_share")).over(all) <= lit(MaxRotShareMillionths) &&
          max(col("plain_share")).over(all) >= lit(MinPlainShareMillionths))
          .as("balance_ok"))
      .orderBy(col("sub"))
  }

  /** The rotation-balance oracle: fixture → rotation → the identical
    * integer share arithmetic, balance_ok as literal TRUE. */
  private def rotatedBalanceSql: String = {
    def shareSql(v: String, s: String) = {
      val sub = s"list_slice($v, $s*16 + 1, $s*16 + 16)"
      s"""CAST(floor(1000000.0 * (${dotSql(sub, sub)})
         |      / (${dotSql(v, v)})) AS BIGINT)""".stripMargin
    }
    s"""
        WITH $anisoCte,
        ${graft.ann.Opq.rotateCtes("an", "av")},
        j AS (
          SELECT an.id, an.av AS pv, o.r AS rv
          FROM an JOIN opqr o ON an.id = o.id),
        sh AS (
          SELECT u.sub AS sub,
            ${shareSql("pv", "u.sub")} AS p,
            ${shareSql("rv", "u.sub")} AS r
          FROM j, (SELECT unnest([0, 1, 2, 3]) AS sub) u)
        SELECT sub, CAST(SUM(p) // COUNT(*) AS BIGINT) AS plain_share,
          CAST(SUM(r) // COUNT(*) AS BIGINT) AS rot_share,
          TRUE AS balance_ok
        FROM sh GROUP BY 1 ORDER BY 1"""
  }

  /** The batch-PQ serving oracle ([[pqBatchCtes]] over the plainly
    * normalized corpus). */
  private def pqBatchSql: String = s"""
        WITH n AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql)
              AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        mm AS (SELECT greatest(1, count(*) // 16) AS m FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        subIdx AS (SELECT unnest([0, 1, 2, 3]) AS sub),
        ${pqBatchCtes("b", "n")}
        SELECT qid, vec_id, score FROM b_top"""

  /** The anisotropic-fixture CTE — [[anisoEmb]]'s SQL twin (exact
    * power-of-two weights, 0-based index CASE identical to the Spark
    * transform's). */
  private def anisoCte: String = s"""
        an AS (
          SELECT vec_id AS id,
            list_transform(range(0, ${graft.ann.Opq.Dim}), i ->
              CAST(embedding[i + 1] AS DOUBLE)
                * CASE WHEN i < $AnisoBoostDims THEN 8.0 ELSE 0.125 END)
              AS av
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0)"""

  /** Batch-PQ CTE family over a normalized relation `nRel` (id, vn),
    * prefixed `p` — sampling at mm, sub-vector split, argmin encode,
    * per-qid LUT, fixed-order score sum, per-qid ranking window —
    * ending in `${p}_top (qid, vec_id)`. [[Ann.pqTopKBatch]]'s replay,
    * instantiated once per branch of the rotated recall gate. */
  private def pqBatchCtes(p: String, nRel: String, nq: Int = 4,
      mmRel: String = "mm"): String = s"""
        ${p}_cent AS (
          SELECT id AS cid, vn AS cv FROM $nRel, $mmRel
          WHERE ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % $mmRel.m = 0),
        ${p}_subs AS (
          SELECT id, sub, list_slice(vn, sub*16 + 1, sub*16 + 16) AS sv
          FROM $nRel, subIdx),
        ${p}_csubs AS (
          SELECT cid, sub, list_slice(cv, sub*16 + 1, sub*16 + 16) AS cv
          FROM ${p}_cent, subIdx),
        ${p}_dists AS (
          SELECT s.id, s.sub, c.cid,
            (${dotSql("s.sv", "s.sv")}) + (${dotSql("c.cv", "c.cv")})
              - 2.0 * (${dotSql("s.sv", "c.cv")}) AS dist
          FROM ${p}_subs s JOIN ${p}_csubs c ON s.sub = c.sub),
        ${p}_codes AS (
          SELECT id, sub, cid AS code,
            row_number() OVER (PARTITION BY id, sub ORDER BY dist, cid) AS rn
          FROM ${p}_dists),
        ${p}_qs AS (SELECT id AS qid, vn AS qn FROM $nRel ORDER BY id LIMIT $nq),
        ${p}_qsubs AS (
          SELECT qid, sub, list_slice(qn, sub*16 + 1, sub*16 + 16) AS qv
          FROM ${p}_qs, subIdx),
        ${p}_lut AS (
          SELECT q.qid, c.sub, c.cid, ${dotSql("c.cv", "q.qv")} AS pd
          FROM ${p}_csubs c JOIN ${p}_qsubs q ON c.sub = q.sub),
        ${p}_sc AS (
          SELECT l.qid, c.id,
            (SUM(CASE WHEN c.sub = 0 THEN l.pd END)
             + SUM(CASE WHEN c.sub = 1 THEN l.pd END)
             + SUM(CASE WHEN c.sub = 2 THEN l.pd END)
             + SUM(CASE WHEN c.sub = 3 THEN l.pd END)) AS score
          FROM ${p}_codes c JOIN ${p}_lut l
            ON c.sub = l.sub AND c.code = l.cid
          WHERE c.rn = 1 GROUP BY 1, 2),
        ${p}_top AS (
          SELECT qid, vec_id, score FROM (
            SELECT qid, id AS vec_id, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, id)
                AS rn
            FROM ${p}_sc)
          WHERE rn <= 10)"""

  /**
   * Shared oracle CTEs deriving the IVF geometry from count(*) — the
   * exact SQL analog of [[Ann.nlistFor]]/[[Ann.nprobeFor]] plus the
   * centroid sampling modulus: b = ceil(log2(n)) (exact at powers of
   * two, where Scala's 64−nlz(n−1) and double log2 could otherwise
   * disagree), nlist = 2^(b//2 − 2) clamped to [16, 65536], nprobe =
   * nlist//16 clamped to [4, 32], m = n // nlist. Assumes a CTE `n`
   * is already defined (these reference only `embeddings`).
   */
  /** `trainWhere` (a predicate over vec_id, default all rows) restricts
    * the geometry-deriving population — the incremental gate derives
    * nlist/nprobe/modulus from the OLD corpus slice the artifact was
    * built from, exactly as a frozen production index does. */
  private[graft] def ivfGeomCtes(trainWhere: String = "TRUE"): String = s"""
        nlc AS (
          SELECT least(65536, greatest(16,
            1::BIGINT << greatest(0,
              CAST(ceil(log2(greatest(count(*), 2))) AS INT) // 2 - 2)))
            AS nl FROM embeddings WHERE ($trainWhere) AND sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        npc AS (SELECT least(32, greatest(4, nl // 16)) AS np FROM nlc),
        mm AS (
          SELECT greatest(1,
            (SELECT count(*) FROM embeddings WHERE ($trainWhere) AND sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0) // nl) AS m
          FROM nlc),"""

  /** The deterministic one-iteration Lloyd centroid chain — sampled
    * `cent0` → argmax-dot assign → grid-rounded spherical means →
    * `cent` (empty cells keep their sampled centroid) — the SQL replay
    * of [[graft.ann.Ann.ivfRefine]], shared by `ann_ivf_lloyd` and the
    * topic-quota family. Expects the `n (id, vn)` CTE and the
    * [[ivfGeomCtes]] scalars in scope; emits `cent (cid, cv)`. */
  private[graft] def lloydCentCtes: String = s"""
        cent0 AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mm.m = 0),
        d0 AS (
          SELECT n.id, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent0 c),
        a0 AS (
          SELECT id, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM d0),
        dims AS (
          SELECT cell, generate_subscripts(vn, 1) AS pos, unnest(vn) AS x
          FROM a0 WHERE rn = 1),
        means AS (
          SELECT cell, pos, round(AVG(x), 6) AS m FROM dims GROUP BY 1, 2),
        refined0 AS (
          SELECT cell AS cid, list(m ORDER BY pos) AS cv0
          FROM means GROUP BY 1),
        refined AS (
          SELECT cid,
            CASE WHEN ${normSqlOf("cv0")} > 0
              THEN list_transform(cv0, x -> x / ${normSqlOf("cv0")})
              ELSE cv0 END AS cv
          FROM refined0),
        cent AS (
          SELECT cid, cv FROM refined
          UNION ALL
          SELECT c0.cid, c0.cv FROM cent0 c0
          WHERE c0.cid NOT IN (SELECT cid FROM refined)),"""

  /** The probed-cell CTE over derived nprobe: row_number instead of
    * LIMIT so the bound can come from the [[ivfGeomCtes]] scalar. */
  private def qcCte: String = s"""
        qc AS (
          SELECT cell FROM (
            SELECT c.cid AS cell,
              row_number() OVER (ORDER BY ${dotSql("qn.qn", "c.cv")} DESC,
                c.cid) AS rn
            FROM cent c, qn)
          WHERE rn <= (SELECT np FROM npc))"""

  /**
   * Shared oracle CTEs for the derived-geometry two-sided queries: the
   * bit width from count(*) — the exact SQL analog of
   * `Ann.bucketBitsFor(n, QuadraticTargetBucket)` (64-nlz(buckets-1) ==
   * ceil(log2(buckets)); powers of two are exact in double log2, so the
   * two forms agree for every n) — then per-vector derived sign bucket
   * and normalized vector.
   */
  private def derivedBitsCtes: String = s"""
        WITH nn AS (
          SELECT greatest(1, count(*) // ${Ann.QuadraticTargetBucket})
            AS buckets FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        bb AS (
          SELECT greatest(4, least(16,
            CAST(ceil(log2(buckets)) AS INT))) AS bits FROM nn),
        n AS (
          SELECT vec_id,
            CAST(list_sum(list_transform(range(bits), j ->
              CASE WHEN embedding[CAST(j AS INT) + 1] > 0
                   THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS b,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings, bb WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),"""

  /**
   * The PQ oracle, with or without one Lloyd refinement of the
   * codebooks — one builder so the two queries cannot drift. Stages:
   * normalize → sample centroids (XHash mod) → sub-vector split →
   * [refine: argmin-assign, per-dim rounded means, empty codes keep
   * their sampled position] → argmin encode → query LUT → fixed-order
   * score sum (each subspace partial in its own SUM, added
   * left-to-right — bit-identical to the Spark plan).
   */
  private def pqSql(lloyd: Boolean, rotated: Boolean = false,
      permuted: Boolean = false): String = {
    val nCtes =
      if (rotated)
        s"""eb AS (SELECT vec_id AS id, embedding FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
           |${graft.ann.Opq.rotateCtes("eb", "embedding")},
           |n AS (
           |  SELECT id, list_transform(r, x -> x / ${normSqlOf("r")}) AS vn
           |  FROM opqr)""".stripMargin
      else if (permuted)
        s"""eb AS (SELECT vec_id AS id, embedding FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
           |${graft.ann.Permute.permCtes("eb", "embedding")},
           |n AS (
           |  SELECT id, list_transform(r, x -> x / ${normSqlOf("r")}) AS vn
           |  FROM permr)""".stripMargin
      else
        s"""n AS (
           |  SELECT vec_id AS id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql)
           |      AS vn
           |  FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0)""".stripMargin
    val refineCtes = s"""
        rdists AS (
          SELECT s.id, s.sub, s.sv, c.cid,
            (${dotSql("s.sv", "s.sv")}) + (${dotSql("c.cv", "c.cv")})
              - 2.0 * (${dotSql("s.sv", "c.cv")}) AS dist
          FROM subs s JOIN csubs c ON s.sub = c.sub),
        rcodes AS (
          SELECT sub, cid AS code, sv,
            row_number() OVER (PARTITION BY id, sub ORDER BY dist, cid) AS rn
          FROM rdists),
        rdims AS (
          SELECT sub, code, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x
          FROM rcodes WHERE rn = 1),
        rmeans AS (
          SELECT sub, code, pos, round(AVG(x), 6) AS mn
          FROM rdims GROUP BY 1, 2, 3),
        refined AS (
          SELECT sub, code AS cid, list(mn ORDER BY pos) AS cv
          FROM rmeans GROUP BY 1, 2),
        cb AS (
          SELECT sub, cid, cv FROM refined
          UNION ALL
          SELECT c.sub, c.cid, c.cv FROM csubs c
          WHERE NOT EXISTS (SELECT 1 FROM refined r
                            WHERE r.sub = c.sub AND r.cid = c.cid)),"""
    val cbRel = if (lloyd) "cb" else "csubs"
    s"""
        WITH $nCtes,
        mm AS (SELECT greatest(1, count(*) // 16) AS m FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        cent AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mm.m = 0),
        subIdx AS (SELECT unnest([0, 1, 2, 3]) AS sub),
        subs AS (
          SELECT id, sub, list_slice(vn, sub*16 + 1, sub*16 + 16) AS sv
          FROM n, subIdx),
        csubs AS (
          SELECT cid, sub, list_slice(cv, sub*16 + 1, sub*16 + 16) AS cv
          FROM cent, subIdx),${if (lloyd) refineCtes else ""}
        dists AS (
          SELECT s.id, s.sub, c.cid,
            (${dotSql("s.sv", "s.sv")}) + (${dotSql("c.cv", "c.cv")})
              - 2.0 * (${dotSql("s.sv", "c.cv")}) AS dist
          FROM subs s JOIN $cbRel c ON s.sub = c.sub),
        codes AS (
          SELECT id, sub, cid AS code,
            row_number() OVER (PARTITION BY id, sub ORDER BY dist, cid) AS rn
          FROM dists),
        qn AS (SELECT vn FROM n ORDER BY id LIMIT 1),
        qsubs AS (
          SELECT sub, list_slice(qn.vn, sub*16 + 1, sub*16 + 16) AS qv
          FROM qn, subIdx),
        lut AS (
          SELECT c.sub, c.cid, ${dotSql("c.cv", "q.qv")} AS pd
          FROM $cbRel c JOIN qsubs q ON c.sub = q.sub)
        SELECT codes.id AS vec_id,
          (SUM(CASE WHEN codes.sub = 0 THEN lut.pd END)
           + SUM(CASE WHEN codes.sub = 1 THEN lut.pd END)
           + SUM(CASE WHEN codes.sub = 2 THEN lut.pd END)
           + SUM(CASE WHEN codes.sub = 3 THEN lut.pd END)) AS score
        FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.cid
        WHERE codes.rn = 1
        GROUP BY 1
        ORDER BY score DESC, vec_id LIMIT 10"""
  }

  /**
   * The composed IVF+PQ oracle: the ann_ivf CTE family (normalize →
   * sampled centroids → argmax-dot assignment → nprobe cells) feeds the
   * ann_pq family restricted to the pruned rows (sub-vector split →
   * argmin encode → query LUT → fixed-order score sum). The two halves
   * sample independently, as [[Ann.ivfpqTopK]] does: `cent0` at the
   * DERIVED n/nlist modulus (the coarse geometry scales with the
   * corpus), `pqs` at the fixed n/16 code-alphabet modulus — the sets
   * coincide at corpora small enough for the nlist=16 min clamp. With
   * `lloyd`, BOTH halves refine from their samples — the centroids by
   * cell means (the ann_ivf_lloyd family), the codebooks by (sub,
   * code) means over the WHOLE corpus (the ann_pq_lloyd family) —
   * before assignment/pruning/encoding.
   */
  private def ivfpqSql(lloyd: Boolean, trainWhere: String = "TRUE",
      rotated: Boolean = false, permuted: Boolean = false): String = {
    // the training population predicate over vec_id; `n` renames vec_id
    // to id, so derive that form ("vec_id" is a unique substring)
    val trainN = trainWhere.replace("vec_id", "id")
    // the Lloyd refine CTEs take their means over ALL of n; a sliced
    // training population would need the slice applied there too
    require(!lloyd || trainWhere == "TRUE",
      "trainWhere is only plumbed through the non-Lloyd composition")
    val ivfRefineCtes = s"""
        d0 AS (
          SELECT n.id, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent0 c),
        a0 AS (
          SELECT id, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM d0),
        dims AS (
          SELECT cell, generate_subscripts(vn, 1) AS pos, unnest(vn) AS x
          FROM a0 WHERE rn = 1),
        cmeans AS (
          SELECT cell, pos, round(AVG(x), 6) AS m FROM dims GROUP BY 1, 2),
        refined0 AS (
          SELECT cell AS cid, list(m ORDER BY pos) AS cv0
          FROM cmeans GROUP BY 1),
        refined AS (
          SELECT cid,
            CASE WHEN ${normSqlOf("cv0")} > 0
              THEN list_transform(cv0, x -> x / ${normSqlOf("cv0")})
              ELSE cv0 END AS cv
          FROM refined0),
        cent AS (
          SELECT cid, cv FROM refined
          UNION ALL
          SELECT c0.cid, c0.cv FROM cent0 c0
          WHERE c0.cid NOT IN (SELECT cid FROM refined)),"""
    val pqRefineCtes = s"""
        allsubs AS (
          SELECT id, sub, list_slice(vn, sub*16 + 1, sub*16 + 16) AS sv
          FROM n, subIdx),
        rdists AS (
          SELECT s.id, s.sub, s.sv, c.cid,
            (${dotSql("s.sv", "s.sv")}) + (${dotSql("c.cv", "c.cv")})
              - 2.0 * (${dotSql("s.sv", "c.cv")}) AS dist
          FROM allsubs s JOIN csubs c ON s.sub = c.sub),
        rcodes AS (
          SELECT sub, cid AS code, sv,
            row_number() OVER (PARTITION BY id, sub ORDER BY dist, cid) AS rn
          FROM rdists),
        rdims AS (
          SELECT sub, code, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x
          FROM rcodes WHERE rn = 1),
        rmeans AS (
          SELECT sub, code, pos, round(AVG(x), 6) AS mn
          FROM rdims GROUP BY 1, 2, 3),
        pqref AS (
          SELECT sub, code AS cid, list(mn ORDER BY pos) AS cv
          FROM rmeans GROUP BY 1, 2),
        cb AS (
          SELECT sub, cid, cv FROM pqref
          UNION ALL
          SELECT c.sub, c.cid, c.cv FROM csubs c
          WHERE NOT EXISTS (SELECT 1 FROM pqref r
                            WHERE r.sub = c.sub AND r.cid = c.cid)),"""
    // the rotated/permuted variants swap ONLY the n prefix (transform,
    // then normalize the resulting doubles) — geometry/sampling CTEs
    // key off ids and corpus counts, invariant to both transforms
    val nCtes =
      if (rotated)
        s"""eb AS (SELECT vec_id AS id, embedding FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
           |${graft.ann.Opq.rotateCtes("eb", "embedding")},
           |n AS (
           |  SELECT id, list_transform(r, x -> x / ${normSqlOf("r")}) AS vn
           |  FROM opqr)""".stripMargin
      else if (permuted)
        s"""eb AS (SELECT vec_id AS id, embedding FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
           |${graft.ann.Permute.permCtes("eb", "embedding")},
           |n AS (
           |  SELECT id, list_transform(r, x -> x / ${normSqlOf("r")}) AS vn
           |  FROM permr)""".stripMargin
      else
        s"""n AS (
           |  SELECT vec_id AS id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql)
           |      AS vn
           |  FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0)""".stripMargin
    s"""
        WITH $nCtes,${ivfGeomCtes(trainWhere)}
        cent0 AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE ($trainN)
            AND ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mm.m = 0),${
      if (lloyd) ivfRefineCtes else "\n        cent AS (SELECT * FROM cent0),"}
        dists AS (
          SELECT n.id, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent c),
        asg AS (
          SELECT id, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM dists),
        qn AS (SELECT vn AS qn FROM n ORDER BY id LIMIT 1),$qcCte,
        pruned AS (
          SELECT a.id, a.vn FROM asg a JOIN qc ON a.cell = qc.cell
          WHERE a.rn = 1),
        subIdx AS (SELECT unnest([0, 1, 2, 3]) AS sub),
        mk AS (SELECT greatest(1, count(*) // 16) AS m
               FROM embeddings WHERE ($trainWhere) AND sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        pqs AS (
          SELECT id AS cid, vn AS cv FROM n, mk
          WHERE ($trainN)
            AND ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mk.m = 0),
        csubs AS (
          SELECT cid, sub, list_slice(cv, sub*16 + 1, sub*16 + 16) AS cv
          FROM pqs, subIdx),${
      if (lloyd) pqRefineCtes else "\n        cb AS (SELECT * FROM csubs),"}
        subs AS (
          SELECT id, sub, list_slice(vn, sub*16 + 1, sub*16 + 16) AS sv
          FROM pruned, subIdx),
        sdist AS (
          SELECT s.id, s.sub, c.cid,
            (${dotSql("s.sv", "s.sv")}) + (${dotSql("c.cv", "c.cv")})
              - 2.0 * (${dotSql("s.sv", "c.cv")}) AS dist
          FROM subs s JOIN cb c ON s.sub = c.sub),
        codes AS (
          SELECT id, sub, cid AS code,
            row_number() OVER (PARTITION BY id, sub ORDER BY dist, cid) AS rn
          FROM sdist),
        qsubs AS (
          SELECT sub, list_slice(qn.qn, sub*16 + 1, sub*16 + 16) AS qv
          FROM qn, subIdx),
        lut AS (
          SELECT c.sub, c.cid, ${dotSql("c.cv", "q.qv")} AS pd
          FROM cb c JOIN qsubs q ON c.sub = q.sub)
        SELECT codes.id AS vec_id,
          (SUM(CASE WHEN codes.sub = 0 THEN lut.pd END)
           + SUM(CASE WHEN codes.sub = 1 THEN lut.pd END)
           + SUM(CASE WHEN codes.sub = 2 THEN lut.pd END)
           + SUM(CASE WHEN codes.sub = 3 THEN lut.pd END)) AS score
        FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.cid
        WHERE codes.rn = 1
        GROUP BY 1
        ORDER BY score DESC, vec_id LIMIT 10"""
  }

  /**
   * The BATCH analog of [[ivfpqSql]] (lloyd = false): the 4 lowest-id
   * vectors form the query table (qid = vec_id), cell choice becomes a
   * per-qid ranking window over the same (dot desc, cid) order with the
   * derived-nprobe bound, encoding runs ONCE over the union of every
   * query's pruned ids (codes are query-independent, exactly as the
   * persisted artifact is encoded once), the LUT gains the qid key, and
   * the final sum ranks per qid with rn <= 10 — mirroring
   * [[Ann.ivfpqTopKEncodedBatch]] stage for stage.
   */
  private def ivfpqBatchSql: String = ivfpqBatchSqlTrained()

  /** [[ivfpqBatchSql]] with the TRAINING population restricted by a
    * vec_id predicate (same plumbing as [[ivfpqSql]]'s trainWhere) —
    * the incremental recall gate replays the old-slice-trained
    * artifact's batch serving this way. With `rerank`, the ADC ranking
    * keeps `candK` candidates per query and an exact-dot re-rank over
    * the float vectors elects the final 10 (Ann.rerankExact's replay). */
  private def ivfpqBatchSqlTrained(trainWhere: String = "TRUE",
      candK: Int = 10, rerank: Boolean = false): String = {
    val trainN = trainWhere.replace("vec_id", "id")
    s"""
        WITH n AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) / $normSql) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),${ivfGeomCtes(trainWhere)}
        cent AS (
          SELECT id AS cid, vn AS cv FROM n, mm
          WHERE ($trainN)
            AND ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mm.m = 0),
        dists AS (
          SELECT n.id, n.vn, c.cid, ${dotSql("n.vn", "c.cv")} AS d
          FROM n CROSS JOIN cent c),
        asg AS (
          SELECT id, vn, cid AS cell,
            row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
          FROM dists),
        qs AS (SELECT id AS qid, vn AS qn FROM n ORDER BY id LIMIT 4),
        qc AS (
          SELECT qid, cell FROM (
            SELECT q.qid, c.cid AS cell,
              row_number() OVER (PARTITION BY q.qid
                ORDER BY ${dotSql("q.qn", "c.cv")} DESC, c.cid) AS rn
            FROM qs q CROSS JOIN cent c)
          WHERE rn <= (SELECT np FROM npc)),
        pruned AS (
          SELECT qc.qid, a.id FROM asg a JOIN qc ON a.cell = qc.cell
          WHERE a.rn = 1),
        pids AS (
          SELECT DISTINCT a.id, a.vn FROM asg a
          WHERE a.rn = 1 AND a.cell IN (SELECT cell FROM qc)),
        subIdx AS (SELECT unnest([0, 1, 2, 3]) AS sub),
        mk AS (SELECT greatest(1, count(*) // 16) AS m
               FROM embeddings WHERE ($trainWhere) AND sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        pqs AS (
          SELECT id AS cid, vn AS cv FROM n, mk
          WHERE ($trainN)
            AND ${graft.functions.XHash.h60Sql("CAST(id AS VARCHAR)")}
            % mk.m = 0),
        cb AS (
          SELECT cid, sub, list_slice(cv, sub*16 + 1, sub*16 + 16) AS cv
          FROM pqs, subIdx),
        subs AS (
          SELECT id, sub, list_slice(vn, sub*16 + 1, sub*16 + 16) AS sv
          FROM pids, subIdx),
        sdist AS (
          SELECT s.id, s.sub, c.cid,
            (${dotSql("s.sv", "s.sv")}) + (${dotSql("c.cv", "c.cv")})
              - 2.0 * (${dotSql("s.sv", "c.cv")}) AS dist
          FROM subs s JOIN cb c ON s.sub = c.sub),
        codes AS (
          SELECT id, sub, cid AS code,
            row_number() OVER (PARTITION BY id, sub ORDER BY dist, cid) AS rn
          FROM sdist),
        qsubs AS (
          SELECT qid, sub, list_slice(qn, sub*16 + 1, sub*16 + 16) AS qv
          FROM qs, subIdx),
        lut AS (
          SELECT q.qid, c.sub, c.cid, ${dotSql("c.cv", "q.qv")} AS pd
          FROM cb c JOIN qsubs q ON c.sub = q.sub),
        scored AS (
          SELECT p.qid, codes.id,
            (SUM(CASE WHEN codes.sub = 0 THEN lut.pd END)
             + SUM(CASE WHEN codes.sub = 1 THEN lut.pd END)
             + SUM(CASE WHEN codes.sub = 2 THEN lut.pd END)
             + SUM(CASE WHEN codes.sub = 3 THEN lut.pd END)) AS score
          FROM pruned p
          JOIN codes ON codes.id = p.id AND codes.rn = 1
          JOIN lut ON lut.qid = p.qid AND lut.sub = codes.sub
            AND lut.cid = codes.code
          GROUP BY 1, 2)
        ,cand AS (
          SELECT qid, vec_id, score FROM (
            SELECT qid, id AS vec_id, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, id)
                AS rn
            FROM scored)
          WHERE rn <= $candK)
        ${if (!rerank) "SELECT qid, vec_id, score FROM cand" else s"""
        SELECT qid, vec_id, score FROM (
          SELECT c.qid, c.vec_id,
            ${dotSql("n.vn", "q.qn")} AS score,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY ${dotSql("n.vn", "q.qn")} DESC, c.vec_id) AS rn
          FROM cand c
          JOIN n ON n.id = c.vec_id
          JOIN qs q ON q.qid = c.qid)
        WHERE rn <= 10"""}"""
  }

  /** Sign bucket over dims 1-4 — mirrors Ann.signBucket(bits=4). */
  private def bucketSql: String =
    (0 until 4).map(j =>
      s"(CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Sequential-double L2 norm — mirrors ArrayL2Norm. */
  /** Sequential-double L2 norm of a list expression — mirrors
    * ArrayL2Norm's left fold. */
  private[graft] def normSqlOf(v: String): String =
    s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (a, b) -> a + b))""".stripMargin

  private[graft] def normSql: String = normSqlOf("embedding")

  /** Sequential-double dot product — mirrors ArrayDotProduct. */
  private[graft] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip($a, $b), p -> p[1] * p[2])),
       |      (x, y) -> x + y)""".stripMargin
}
