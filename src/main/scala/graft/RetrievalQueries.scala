package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.sources.Sources
import graft.text.Bm25

/**
 * SURVEY.md §2 rows 61-62: retrieval over the corpus — sparse (BM25
 * lexical scoring, [[graft.text.Bm25]]) and hybrid (reciprocal-rank
 * fusion of the BM25 list with the dense cosine list over the aligned
 * `embeddings` table). The dense-only paths are the `ann_*` family;
 * these two close the retrieval triangle a training-data pipeline
 * actually runs: lexical match, semantic match, and the fusion of both.
 *
 * `doc_id` and `vec_id` are the same corpus row in the two views
 * (TESTDATA ships them aligned); RRF joins on that identity.
 */
object RetrievalQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Sources.table(s, dir, "documents")
  /** Valid-only embeddings — same zero-norm ingest drop as
    * [[AnnQueries.emb]] (the dense legs and their targets must sample
    * from the population the ANN family scores). */
  private def emb(s: org.apache.spark.sql.SparkSession, dir: String) =
    Sources.table(s, dir, "embeddings")
      .where(graft.ann.Ann.norm(col("embedding")) > 0)

  /** Candidate-list depth for the fused gate; final fused k below. */
  private val CandK = 50
  private val FusedK = 10
  private val Bm25K = 25

  // ---- known-item recall gates (r13 verdict item 2): the ann_recall_*
  // discipline applied to the lexical and hybrid legs. Targets are a
  // FIXED-SIZE hash sample of the planted population (doc_id % KiMod ==
  // KiRes): the TargetCap smallest ids by salted 60-bit hash (r14
  // verdict item 1 — a bare residue class is a fixed FRACTION of the
  // corpus, which made the collected query matrix and both legs'
  // candidate sets O(n²); the cap keeps the query count — and with it
  // the plan literal and the per-query candidate work — corpus-
  // INDEPENDENT, so the whole gate is linear in the corpus). Each
  // target doc PLANTS its own query (BM25: its top-KiTerms terms by
  // tf; dense: the SIGN vector of its embedding — a deterministically
  // degraded memory of the item), and the gate measures whether
  // retrieval finds the known item in the top-KiK. Floors are
  // per-mille of the SAMPLE (same statistical force at any corpus
  // size) and were MEASURED at three scales (SURVEY.md §2 row 101) — a
  // deterministic-but-ranking-destroying bug (constant scores, idf
  // dropped, fusion that returns one leg) lands far below them
  // (RetrievalSpec drives those arms explicitly).

  private[graft] val KiMod = 25
  private[graft] val KiRes = 7
  private[graft] val KiTerms = 3
  private[graft] val KiDims = 16
  private[graft] val KiK = 10

  /** Hard negatives mined per known-item query (row 122) — the DPR
    * convention is a handful of top-ranked non-positives per query. */
  private[graft] val HardNegK = 5

  /** Fixed target-sample size. Binds at the 10× gate dir and above
    * (200 planted ids → 64 sampled); below the cap the sample is the
    * whole planted population, so the sf0.001/sf0.01 measurements are
    * unchanged. 64 keeps the per-mille floors meaningful (15.6‰
    * granularity) while bounding the collected dense-query matrix at
    * 64×64 doubles forever. */
  private[graft] val TargetCap = 64

  /** The target SAMPLE of a table's planted ids: the [[TargetCap]]
    * smallest by salted cross-engine hash (ties on id — md5 collisions
    * aside, a pure formality). orderBy+limit is TakeOrderedAndProject
    * — per-partition heaps of 64 rows and a driver merge, never a
    * global sort — and the ≤64-row result broadcasts into every
    * consumer. Both engines replay the identical ORDER BY/LIMIT. */
  private[graft] def kiTargets(tab: DataFrame, idCol: String,
      mod: Long = KiMod, res: Long = KiRes,
      cap: Int = TargetCap): DataFrame =
    tab.select(col(idCol).as("qid"))
      .where(col("qid") % mod === res)
      .distinct()
      .orderBy(graft.functions.XHash.h60(
        concat(lit("ki:"), col("qid").cast("string"))), col("qid"))
      .limit(cap)

  /** The SQL twin of [[kiTargets]] over table/id column (the DISTINCT
    * runs in a subselect so the ORDER BY hash expression is legal). */
  private def kiTargetsSql(tab: String, idCol: String,
      mod: Long = KiMod, res: Long = KiRes,
      cap: Int = TargetCap): String =
    s"""SELECT qid FROM (
          SELECT DISTINCT $idCol AS qid FROM $tab
          WHERE $idCol % $mod = $res)
        ORDER BY ${graft.functions.XHash.h60Sql(
          "'ki:' || CAST(qid AS VARCHAR)")}, qid
        LIMIT $cap"""

  /** Measured floors (SURVEY.md §2 row 101, per-mille of the
    * [[kiTargets]] SAMPLE — ≤ TargetCap queries at any corpus size, so
    * the statistic has the same force at 100× that it has here):
    *   n_queries          : 20 sf0.001, 20 sf0.01, 64 (capped) 10×
    *   bm25 hits/queries  : 950‰, 1000‰, 531‰
    *   dense(16-dim sign) : 950‰, 950‰, 562‰
    *   rrf                : 1000‰, 1000‰, 906‰
    *   const-score arm    : 50‰, 50‰, 0‰  (what a ranking-destroying
    *                        bug scores — an order below the floors)
    * fusion margins: rrf ≥ bm25 at every scale (strictly +24 hits at
    * 10×) and rrf ≥ dense + 1 at EVERY scale — so a "fusion" that
    * returns the dense leg fails everywhere, and one returning the
    * sparse leg fails at sf0.001 (19 < 19+1) and 10× (34 < 37). */
  private[graft] val MinKiBm25PerMille = 400L
  private[graft] val MinKiRrfPerMille = 750L

  /** Per-target query terms: the target's top-`qTerms` terms by
    * (tf desc, term asc) — integer-exact ordering, replayed verbatim
    * by the oracle. The target set is the broadcast [[kiTargets]]
    * sample (≤ [[TargetCap]] rows), so the ranked population is
    * ≤ TargetCap documents' postings; the per-doc ranking window is
    * vocabulary-bounded (≤ distinct terms per doc), never
    * corpus-bounded. */
  private[graft] def kiQueryTerms(posts: DataFrame,
      qTerms: Int = KiTerms): DataFrame =
    posts.join(broadcast(kiTargets(posts, "doc_id")),
        col("doc_id") === col("qid"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("term"))))
      .where(col("r") <= qTerms)
      .select(col("doc_id").as("qid"), col("term"), col("r"))

  /** Every (qid, candidate doc, BM25 score) for the known-item queries:
    * postings join the broadcast query terms, then the per-(qid, doc)
    * score is assembled by QUERY-TERM RANK into fixed slots and summed
    * in fixed slot order — never an unordered float sum, so the doubles
    * are bit-identical across engines and across runs (the pinned-fold
    * discipline of Bm25.score applied to the multi-query shape).
    * Scale: one posting pass; candidates are |queries| × matching docs
    * — the eval-bounded ground-truth shape (cf. ann_topk_batch). */
  private[graft] def kiBm25Scored(docs: DataFrame,
      qTerms: Int = KiTerms): DataFrame = {
    // the posting table feeds THREE consumers (query-term derivation,
    // df, the scoring join): one materialization instead of three
    // tokenize+groupBy passes — the same move a real eval harness makes
    // by scoring against a built index (cf. retrieval_index_bm25; at
    // full scale this is the persisted lexicon, not a checkpoint)
    val posts = Bm25.postingsOf(docs).localCheckpoint()
    val qt = kiQueryTerms(posts, qTerms)
    val dfTab = posts.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
    // corpus stats ride the CHECKPOINTED postings instead of a second
    // full tokenize pass over the corpus (r19, guide §2.4):
    // Σ tf over postings == Σ dl over docs exactly, because WsTokens
    // never emits an empty token (every token lands in exactly one
    // (term, doc) tf; a zero-token doc has no postings and contributes
    // 0 either way) — a MAP-ONLY aggregate over the materialized
    // postings, no groupBy, no shuffle. n is a column-pruned count(*)
    // of the corpus (parquet row-count metadata, no text read).
    // Values are the identical longs, so the contribution doubles are
    // bit-identical. (The one divergent corner — EVERY doc zero-token
    // — left sumdl NULL vs 0 before; coalesce removes the corner
    // outright instead of documenting it. Scored output stays empty
    // either way, so no gate sees a value change.)
    val stats = docs.agg(count(lit(1)).as("n"))
      .crossJoin(posts.agg(coalesce(sum(col("tf")), lit(0L)).as("sumdl")))
    // the contribution tree is PROJECTED per row before the groupBy:
    // inside a sum(when(...)) aggregate update it evaluates in the
    // interpreter (measured 22 s for 2.3M candidate rows at sf0.1 vs
    // ~1 s as a whole-stage-codegen projection); the aggregate then
    // carries one plain double per row
    kiSlotScore(posts, qt, dfTab, stats, qTerms)
  }

  /** The shared (qid, doc, score) assembly both BM25 serving shapes
    * route through — postings join the broadcast query terms and the
    * broadcast df/stats summaries, contributions project per row
    * (codegen'd, never inside the aggregate update), then assemble by
    * QUERY-TERM RANK into fixed slots summed in fixed slot order: the
    * doubles are bit-identical between the scan path
    * ([[kiBm25Scored]]) and the persisted-lexicon path
    * ([[kiBm25ScoredFromLexicon]]), so ONE oracle gates both. */
  private def kiSlotScore(posts: DataFrame, qt: DataFrame,
      dfTab: DataFrame, stats: DataFrame, qTerms: Int): DataFrame = {
    val c = Bm25.contribution(col("tf"), col("df"), col("dl"))
    val slots = (1 to qTerms).map(i =>
      sum(when(col("r") === i, col("c"))).as(s"c$i"))
    posts.join(broadcast(qt), Seq("term"))
      .join(broadcast(dfTab), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), col("r"), c.as("c"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(slots.head, slots.tail: _*)
      .select(col("qid"), col("doc_id"),
        (1 to qTerms).map(i => coalesce(col(s"c$i"), lit(0.0)))
          .reduceLeft(_ + _).as("score"))
  }

  /** The PRODUCTION read path of the known-item gate (r14 verdict
    * item 3): identical scoring served from a persisted lexicon whose
    * vocabulary is exactly the planted query-term set (the production
    * move — you index your query log's vocabulary; df values and
    * corpus stats count the FULL corpus). The scoring plan reads ONLY
    * the lexicon — |query terms| posting directories, the df/stats
    * summaries — and never opens the corpus (RetrievalSpec pins it);
    * queries arrive from outside, as they do in serving. Scores are
    * bit-identical to [[kiBm25Scored]] because the posting population
    * for the query terms, the summaries, and the [[kiSlotScore]] tree
    * all coincide. */
  private[graft] def kiBm25ScoredFromLexicon(
      s: org.apache.spark.sql.SparkSession, root: String,
      qt: DataFrame, qTerms: Int = KiTerms): DataFrame =
    kiSlotScore(graft.sources.Sources.parquet(s, s"$root/postings"), qt,
      graft.sources.Sources.parquet(s, Bm25.summaryPath(s, root, "df")),
      graft.sources.Sources.parquet(s, Bm25.summaryPath(s, root, "stats")), qTerms)

  /** Target's rank per query WITHOUT a corpus-sized sort: count the
    * candidates strictly ahead of the target on (score desc, id asc) —
    * scores are bit-identical in both engines, so the comparison is
    * deterministic. hit = rank ≤ [[KiK]]. */
  private[graft] def kiRankOf(scored: DataFrame, idCol: String): DataFrame = {
    // NOT checkpointed (r19, measured and reverted): the target-row
    // side looks like a second full scoring pass, but every scoring
    // shape feeding this already reads a materialized frame (the
    // checkpointed postings, or the persisted lexicon) and the
    // id === qid filter PUSHES DOWN into that read — so the extra pass
    // is a pruned re-scan, cheaper than materializing the full
    // candidate score table just to filter ≤TargetCap rows out of it.
    val tgt = scored.where(col(idCol) === col("qid"))
      .select(col("qid"), col("score").as("ts"))
    scored.join(broadcast(tgt), Seq("qid"))
      .groupBy(col("qid"))
      .agg(sum(when(col("score") > col("ts") ||
          (col("score") === col("ts") && col(idCol) < col("qid")),
        1L).otherwise(0L)).as("better"))
      .select(col("qid"), (col("better") + 1L).as("target_rank"),
        (col("better") < KiK).as("hit"))
  }

  private[graft] def kiBm25Hits(docs: DataFrame,
      qTerms: Int = KiTerms): DataFrame =
    kiRankOf(kiBm25Scored(docs, qTerms), "doc_id")

  private[graft] def kiDenseHits(embs: DataFrame,
      keepDims: Int = KiDims): DataFrame =
    kiRankOf(kiDenseScored(embs, keepDims), "vec_id")

  /** Dense known-item scores: the query is the SIGN vector (±1.0) of
    * the target's embedding — the corpus side stays full-precision.
    * Arithmetic mirrors the ann batch ground truth (sequential-double
    * norm + dot) so the oracle replays it bit for bit.
    *
    * Serving shape: the normalized query vectors COLLECT to a plan-
    * carried matrix that is CORPUS-INDEPENDENT by construction — the
    * [[kiTargets]] hash cap bounds it at [[TargetCap]]×64 doubles (a
    * require enforces the bound; RetrievalSpec pins it on a corpus
    * whose planted population exceeds the cap) — and ONE corpus pass
    * computes all dots per row through the native batch kernel
    * ([[graft.functions.ArrayDotBatch]]), posexploded behind a
    * Generate barrier: |corpus|·TargetCap score rows, linear in the
    * corpus. The per-pair BroadcastNestedLoopJoin form this replaces
    * materialized |corpus|×|queries| rows each carrying two full
    * vectors — ~20 s at sf0.1; this is sub-second. Scores are
    * bit-identical (same sequential accumulation; RetrievalSpec pins
    * the equality against the join form). */
  private[graft] def kiDenseScored(embs: DataFrame,
      keepDims: Int = KiDims): DataFrame = {
    val sgn = transform(col("embedding"), (x, i) =>
      when(i < keepDims,
        when(x > 0, lit(1.0)).otherwise(lit(-1.0))).otherwise(lit(0.0)))
    val q = Ann.withNormalized(
      embs.join(broadcast(kiTargets(embs, "vec_id")),
          col("vec_id") === col("qid"))
        .select(col("qid"), sgn.as("embedding")),
      "embedding", "qn")
      .select(col("qid"), col("qn"))
      .orderBy(col("qid"))
      .collect()
    require(q.length <= TargetCap,
      s"known-item query matrix must be capped: ${q.length} > $TargetCap")
    val qids = lit(q.map(_.getLong(0)))
    val mat: Seq[Seq[Double]] = q.toSeq.map(_.getSeq[Double](1).toSeq)
    val vn = Ann.withNormalized(embs, "embedding", "vn")
      .select(col("vec_id"), col("vn"))
    val scores = org.apache.spark.sql.graft.bridge.column(
      graft.functions.ArrayDotBatch(
        org.apache.spark.sql.graft.bridge.expression(col("vn")), mat))
    vn.select(col("vec_id"), posexplode(scores).as(Seq("k", "score")))
      .select(element_at(qids, col("k") + 1).as("qid"),
        col("vec_id"), col("score"))
  }

  /** Per-qid top-[[CandK]] cut of a scored candidate set. The ranking
    * window partitions by qid — the eval-bounded batch shape
    * (|queries| partitions), same as Ann.bruteForceTopKBatch. */
  private def kiTopCand(scored: DataFrame, idCol: String): DataFrame =
    scored.withColumn("r", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col(idCol))))
      .where(col("r") <= CandK)
      .select(col("qid"), col(idCol).as("id"), col("r"))

  /** Known-item RRF: fuse the two per-qid top-[[CandK]] lists, then
    * rank the target among the fused candidates (≤ 2·CandK per qid).
    * A target absent from both lists is a miss by construction. */
  private[graft] def kiRrfHits(docs: DataFrame, embs: DataFrame,
      qTerms: Int = KiTerms, keepDims: Int = KiDims): DataFrame =
    kiRrfHitsFromScored(kiBm25Scored(docs, qTerms),
      kiDenseScored(embs, keepDims))

  /** RRF hits from already-scored (and usually checkpointed) candidate
    * sets — the registry gate shares ONE scoring pass per leg between
    * the per-leg hit columns and the fusion. */
  private[graft] def kiRrfHitsFromScored(scoredB: DataFrame,
      scoredD: DataFrame): DataFrame = {
    val sp = kiTopCand(scoredB, "doc_id")
      .select(col("qid"), col("id"), col("r").as("r_sparse"))
    val dn = kiTopCand(scoredD, "vec_id")
      .select(col("qid"), col("id"), col("r").as("r_dense"))
    val contrib = (r: String) =>
      coalesce(lit(1.0) / (lit(Bm25.RrfK) + col(r)).cast("double"), lit(0.0))
    val fused = sp.join(dn, Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        (contrib("r_sparse") + contrib("r_dense")).as("rrf"))
    val tgt = fused.where(col("id") === col("qid"))
      .select(col("qid"), col("rrf").as("ts"))
    // left join: a qid whose target made neither list has no tgt row —
    // max(ts) stays NULL there and the gate records an explicit miss,
    // never a dropped query
    fused.join(broadcast(tgt), Seq("qid"), "left")
      .groupBy(col("qid"))
      .agg(max(col("ts")).as("mts"),
        sum(when(col("ts").isNotNull && (col("rrf") > col("ts") ||
            (col("rrf") === col("ts") && col("id") < col("qid"))),
          1L).otherwise(0L)).as("better"))
      .select(col("qid"),
        (col("mts").isNotNull && col("better") < KiK).as("hit_rrf"))
  }

  /** Dense cosine CTEs — the ann_topk oracle arithmetic (sequential-
    * double dot, per-vector norms), ranked and cut to [[CandK]]. */
  private def denseSql(k: Int): String = s"""
        q AS (SELECT embedding AS qe FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0 ORDER BY vec_id LIMIT 1),
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
          FROM embeddings, q WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        dn AS (
          SELECT vec_id AS did, row_number() OVER (ORDER BY dp / (na * nb) DESC, vec_id) AS r_dense
          FROM t ORDER BY dp / (na * nb) DESC, vec_id LIMIT $k)"""

  /**
   * RRF fusion of two already-cut candidate lists (sparse: doc_id
   * ordered by score desc; dense: vec_id ordered by cos desc). Ranks
   * come from a row_number window over the k-row lists — the global
   * window runs AFTER TakeOrdered cut each list to k rows, so it never
   * sees corpus-sized input. The two k-row lists full-outer-join on row
   * identity; absent ranks contribute 0 (the published RRF convention).
   */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    val sp = sparse
      .withColumn("r_sparse",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id").as("sid"), col("r_sparse"))
    val dn = dense
      .withColumn("r_dense",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("did"), col("r_dense"))
    val contrib = (r: String) =>
      coalesce(lit(1.0) / (lit(Bm25.RrfK) + col(r)).cast("double"), lit(0.0))
    sp.join(dn, col("sid") === col("did"), "full_outer")
      .select(
        coalesce(col("sid"), col("did")).as("id"),
        col("r_sparse"), col("r_dense"),
        (contrib("r_sparse") + contrib("r_dense")).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  // ---- known-item oracle SQL (full DuckDB replay of both legs) -------

  /** CTE block scoring every (qid, doc) for the known-item BM25
    * queries, ending in `sc(qid, doc_id, score)` — the slot-pivoted
    * fixed-order sum, same tree as the Spark side. */
  private def kiBm25Ctes: String = {
    val toks = "regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')"
    val z = "CAST(0.0 AS DOUBLE)"
    val slotSums = (1 to KiTerms).map(i =>
      s"sum(CASE WHEN r = $i THEN c END) AS s$i").mkString(", ")
    val score = (1 to KiTerms).map(i => s"COALESCE(s$i, $z)")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""dtoks AS (SELECT doc_id, $toks AS t FROM documents),
        dls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM dtoks),
        st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dls),
        posts AS (
          SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM dtoks)
          WHERE term <> '' GROUP BY 1, 2),
        dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM posts GROUP BY 1),
        tgt AS (${kiTargetsSql("posts", "doc_id")}),
        qt AS (
          SELECT doc_id AS qid, term, r FROM (
            SELECT doc_id, term, row_number() OVER (
              PARTITION BY doc_id ORDER BY tf DESC, term) AS r
            FROM posts WHERE doc_id IN (SELECT qid FROM tgt))
          WHERE r <= $KiTerms),
        krows AS (
          SELECT qt.qid, p.doc_id, qt.r,
            ${Bm25.contributionSql("p.tf", "dfs.df", "d.dl")} AS c
          FROM posts p
          JOIN qt ON p.term = qt.term
          JOIN dfs ON dfs.term = p.term
          JOIN dls d ON d.doc_id = p.doc_id
          CROSS JOIN st),
        sc AS (
          SELECT qid, doc_id, $score AS score
          FROM (SELECT qid, doc_id, $slotSums
                FROM krows GROUP BY 1, 2))"""
  }

  /** Target-rank block over a scored CTE: `$out(qid, target_rank,
    * hit)` by counting candidates strictly ahead on (score desc, id). */
  private def kiRankCtes(scored: String, idCol: String,
      out: String): String = s"""
        ${out}_t AS (SELECT qid, score AS ts FROM $scored
          WHERE $idCol = qid),
        $out AS (
          SELECT s.qid, CAST(better + 1 AS BIGINT) AS target_rank,
            better < $KiK AS hit
          FROM (
            SELECT s.qid, sum(CASE WHEN s.score > t.ts
                OR (s.score = t.ts AND s.$idCol < s.qid)
              THEN 1 ELSE 0 END) AS better
            FROM $scored s JOIN ${out}_t t ON s.qid = t.qid
            GROUP BY 1) s)"""

  /** Dense-leg CTEs ending in `dsc(qid, vec_id, score)` — 16-dim sign
    * query against the full-precision normalized corpus, sequential-
    * double arithmetic (the ann batch ground-truth rendering). */
  private def kiDenseCtes: String = {
    val one = "CAST(1 AS DOUBLE)"
    val sgn = s"""list_transform(list_zip(embedding, range(64)),
          p -> CASE WHEN p[2] < $KiDims THEN
                 (CASE WHEN p[1] > 0 THEN $one ELSE -$one END)
               ELSE CAST(0 AS DOUBLE) END)"""
    s"""dtgt AS (${kiTargetsSql(s"(SELECT * FROM embeddings WHERE ${AnnQueries.normSql} > 0)", "vec_id")}),
        qsgn AS (
          SELECT vec_id AS qid, $sgn AS sgn FROM embeddings
          WHERE vec_id IN (SELECT qid FROM dtgt) AND sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        qn AS (
          SELECT qid, list_transform(sgn,
            x -> CAST(x AS DOUBLE) / ${AnnQueries.normSqlOf("sgn")}) AS qv
          FROM qsgn),
        vns AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(x AS DOUBLE) / ${AnnQueries.normSql}) AS vn
          FROM embeddings WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 0),
        dsc AS (
          SELECT qn.qid, vns.vec_id,
            ${AnnQueries.dotSql("vns.vn", "qn.qv")} AS score
          FROM vns CROSS JOIN qn)"""
  }

  /** Oracle for retrieval_recall_bm25: the full replay plus the global
    * per-mille floor (asserted TRUE — the approx_ok discipline). */
  private def kiBm25OracleSql: String = s"""
        WITH $kiBm25Ctes,
        ${kiRankCtes("sc", "doc_id", "res")}
        SELECT qid, target_rank, hit,
          (SELECT sum(CASE WHEN hit THEN 1 ELSE 0 END) * 1000
             >= $MinKiBm25PerMille * count(*) FROM res) AS recall_ok
        FROM res ORDER BY qid"""

  /** retrieval_recall_pipeline floor (per-mille of SURVIVING targets
    * hit at top-[[KiK]], scored over the curated corpus). Measured:
    * 1000‰ at sf0.001 (8/8 surviving of 100 targets) and sf0.01
    * (11/11) — curation keeps retrievability intact here; the floor
    * sits where a real degradation (rewritten texts losing their
    * query terms, survivor-population df skew flattening idf) lands
    * well below it. On the adversarial FuzzCorpus zero targets
    * survive (curation rightly drops hostile garbage) and the floor
    * is vacuously green — the REAL corpora carry the non-vacuity
    * (RetrievalSpec pins survivors > 0 at the gate dir). */
  private[graft] val MinKiPipelinePerMille = 500L

  /** The pipeline gate samples targets WIDER than the other recall
    * gates (mod 5 instead of 25, cap 100): curation keeps only a
    * small fraction of the corpus (~7% at the gate dirs), and the
    * default 20-target sample intersects the survivors in 0-3 docs —
    * a vacuous floor. ~100 targets keep the surviving subset
    * measurable at every gate scale (RetrievalSpec pins
    * non-vacuity). */
  private[graft] val PipeTargetMod = 5L
  private[graft] val PipeTargetRes = 2L
  private[graft] val PipeTargetCap = 100

  /** Oracle for retrieval_recall_pipeline: the curation pipeline's own
    * CTE chain (DedupSql.pipelinePrefix — survivor ids in `sel`,
    * rewritten texts in `sd`) composed with the row-101 scoring
    * replay. Targets/queries derive from the RAW corpus postings
    * (planted pre-pipeline); scoring population, df and corpus stats
    * come from the survivors. CTE names are rk*-prefixed — the prefix
    * chain owns q/kept/sa/sb/sc/cs/sd/m/sel. */
  private def kiPipelineOracleSql: String = {
    val toks = "regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')"
    val z = "CAST(0.0 AS DOUBLE)"
    val slotSums = (1 to KiTerms).map(i =>
      s"sum(CASE WHEN r = $i THEN c END) AS s$i").mkString(", ")
    val score = (1 to KiTerms).map(i => s"COALESCE(s$i, $z)")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""${DedupSql.pipelinePrefix(0.3, 0.6, 3,
          graft.dedup.Dedup.ChunkWidth, 97, None, "doc")}
        rsurv AS (
          SELECT s2.doc_id, s2.text FROM sd s2
          WHERE s2.doc_id IN (SELECT doc_id FROM sel)),
        rrtoks AS (SELECT doc_id, $toks AS t FROM documents),
        rrposts AS (
          SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM rrtoks)
          WHERE term <> '' GROUP BY 1, 2),
        rtgt AS (${kiTargetsSql("rrposts", "doc_id",
          PipeTargetMod, PipeTargetRes, PipeTargetCap)}),
        rqt AS (
          SELECT doc_id AS qid, term, r FROM (
            SELECT doc_id, term, row_number() OVER (
              PARTITION BY doc_id ORDER BY tf DESC, term) AS r
            FROM rrposts WHERE doc_id IN (SELECT qid FROM rtgt))
          WHERE r <= $KiTerms),
        rktoks AS (SELECT doc_id, $toks AS t FROM rsurv),
        rkdls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM rktoks),
        rkst AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM rkdls),
        rkposts AS (
          SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM rktoks)
          WHERE term <> '' GROUP BY 1, 2),
        rkdfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM rkposts GROUP BY 1),
        rkrows AS (
          SELECT rqt.qid, p.doc_id, rqt.r,
            ${Bm25.contributionSql("p.tf", "rkdfs.df", "d.dl")} AS c
          FROM rkposts p
          JOIN rqt ON p.term = rqt.term
          JOIN rkdfs ON rkdfs.term = p.term
          JOIN rkdls d ON d.doc_id = p.doc_id
          CROSS JOIN rkst),
        rksc AS (
          SELECT qid, doc_id, $score AS score
          FROM (SELECT qid, doc_id, $slotSums
                FROM rkrows GROUP BY 1, 2)),
        ${kiRankCtes("rksc", "doc_id", "rkres").trim},
        rres AS (
          SELECT t.qid,
            t.qid IN (SELECT doc_id FROM rsurv) AS survived,
            (t.qid IN (SELECT doc_id FROM rsurv)
              AND COALESCE(rk.hit, FALSE)) AS hit
          FROM rtgt t LEFT JOIN rkres rk ON rk.qid = t.qid)
        SELECT qid, survived, hit,
          (SELECT sum(CASE WHEN hit THEN 1 ELSE 0 END) * 1000
             >= $MinKiPipelinePerMille *
               sum(CASE WHEN survived THEN 1 ELSE 0 END) FROM rres)
            AS recall_ok
        FROM rres ORDER BY qid"""
  }

  /** Oracle for retrieval_recall_rrf: both legs cut to top-[[CandK]]
    * per qid, fused, target ranked among the fused candidates; the
    * fusion contract (rrf ≥ bm25, rrf ≥ dense + 1, absolute floor)
    * asserted TRUE. */
  private def kiRrfOracleSql: String = {
    val z = "CAST(0.0 AS DOUBLE)"
    val contrib = (r: String) =>
      s"COALESCE((CAST(1.0 AS DOUBLE) / CAST((${Bm25.RrfK} + $r) AS DOUBLE)), $z)"
    s"""
        WITH $kiBm25Ctes,
        ${kiRankCtes("sc", "doc_id", "bres")},
        $kiDenseCtes,
        ${kiRankCtes("dsc", "vec_id", "dres")},
        spc AS (
          SELECT qid, doc_id AS id, r_sparse FROM (
            SELECT qid, doc_id, row_number() OVER (
              PARTITION BY qid ORDER BY score DESC, doc_id) AS r_sparse
            FROM sc) WHERE r_sparse <= $CandK),
        dnc AS (
          SELECT qid, vec_id AS id, r_dense FROM (
            SELECT qid, vec_id, row_number() OVER (
              PARTITION BY qid ORDER BY score DESC, vec_id) AS r_dense
            FROM dsc) WHERE r_dense <= $CandK),
        fused AS (
          SELECT COALESCE(spc.qid, dnc.qid) AS qid,
            COALESCE(spc.id, dnc.id) AS id,
            (${contrib("r_sparse")} + ${contrib("r_dense")}) AS rrf
          FROM spc FULL OUTER JOIN dnc
            ON spc.qid = dnc.qid AND spc.id = dnc.id),
        ft AS (SELECT qid, rrf AS ts FROM fused WHERE id = qid),
        rres AS (
          SELECT f.qid, max(t.ts) IS NOT NULL AND
            sum(CASE WHEN t.ts IS NOT NULL AND (f.rrf > t.ts
                OR (f.rrf = t.ts AND f.id < f.qid))
              THEN 1 ELSE 0 END) < $KiK AS hit_rrf
          FROM fused f LEFT JOIN ft t ON f.qid = t.qid
          GROUP BY 1),
        agg AS (
          SELECT sum(CASE WHEN b.hit THEN 1 ELSE 0 END) AS hb,
            sum(CASE WHEN d.hit THEN 1 ELSE 0 END) AS hd,
            sum(CASE WHEN r.hit_rrf THEN 1 ELSE 0 END) AS hr,
            count(*) AS nq
          FROM bres b JOIN dres d ON b.qid = d.qid
          JOIN rres r ON b.qid = r.qid)
        SELECT b.qid, b.hit AS hit_bm25, d.hit AS hit_dense, r.hit_rrf,
          (SELECT hr >= hb AND hr >= hd + 1
             AND hr * 1000 >= $MinKiRrfPerMille * nq FROM agg) AS fusion_ok
        FROM bres b JOIN dres d ON b.qid = d.qid
        JOIN rres r ON b.qid = r.qid
        ORDER BY b.qid"""
  }

  /** The cached lexicons derive from the documents table only. */
  private val Docs = Seq("documents.parquet")

  /** Lexicon layout token: l2 = the tkey-partitioned posting layout;
    * l3 = 4096-bucket prefix keys (r18); l4 = positional postings
    * (r19); l5 = versioned summaries. Bumping it retires caches written
    * under an older layout. */
  private val LexLayout = "l5"

  /** Tag of the base and incremental lexicon caches and the bench
    * build legs: the full-vocabulary build. */
  private val LexTag = s"vall-$LexLayout"

  private def ensureLexicon(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("lexicon", dir, Docs, LexTag) { p =>
      Bm25.buildLexicon(docs(s, dir), p)
    }

  /** Bench-only BUILD legs (r15 verdict item 3): the sf1 sweep ran
    * cold, so `retrieval_index_bm25`/`retrieval_index_incremental`
    * paid the full partitionBy("term") lexicon BUILD inside what the
    * baselines read as SERVE time — the one scale point that matters
    * for serving (is the read path sublinear in corpus size?) was
    * unreadable. These evict the canonical cache and rebuild it, so a
    * bench sweep that runs them BEFORE the serve entries times build
    * and serve as separate line items at every SF; the returned frame
    * is a constant (the artifact write is eager inside ensure*), so
    * the timing is the build, not a disguised read. Registry-external:
    * they compute nothing gateable — the serve queries' oracles
    * already gate the artifact's content. */
  private[graft] def benchBuildLexicon(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    evict("lexicon", dir)
    ensureLexicon(s, dir)
    s.range(1).toDF("built")
  }

  private[graft] def benchBuildLexiconInc(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    evict("lexinc", dir)
    ensureLexiconInc(s, dir)
    s.range(1).toDF("built")
  }

  private def evict(kind: String, dir: String): Unit =
    graft.tools.LocalFs.deleteRec(java.nio.file.Paths.get(
      graft.tools.LocalFs.path(kind, dir, Docs, LexTag)))

  /** Old-corpus/new-batch split for the incremental lexicon gate —
    * the same thirds split the incremental ANN gate uses. */
  private[graft] val LexOldWhere = "doc_id % 3 <> 0"
  private[graft] val LexNewWhere = "doc_id % 3 = 0"

  /** Incremental lexicon: built from the old slice (vocabulary frozen
    * there), then the new batch's postings appended and the summaries
    * integer-added — never a re-tokenize of what's already indexed. */
  private def ensureLexiconInc(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("lexinc", dir, Docs, LexTag) { p =>
      val d = docs(s, dir)
      Bm25.buildLexicon(d.where(expr(LexOldWhere)), p)
      Bm25.appendLexicon(s, d.where(expr(LexNewWhere)), p)
    }

  /** The known-item gate's target docs and their planted query terms —
    * derived from the ≤[[TargetCap]] target docs ONLY (in production
    * queries arrive from a query log; here each target plants its
    * own), shared by the lexicon build (vocabulary) and the serving
    * gate (the queries). Targets are sampled from the POSTINGS
    * population — the same population `retrieval_recall_bm25` and the
    * shared oracle's `kiTargetsSql("posts", …)` sample — so a planted
    * doc with empty/whitespace text (no postings) can never put the
    * lexicon gates' top-[[TargetCap]] sample out of sync with the scan
    * gate's. Restricting the second tokenize pass to the ≤TargetCap
    * target docs is safe: every target has postings by construction,
    * so [[kiQueryTerms]]'s inner re-sample is the identity on it. */
  private def kiGateQueries(d: DataFrame): DataFrame = {
    // the postings pass exists only to SAMPLE targets, and the target
    // population is an id residue — tokenize just that residue class
    // (r19, guide §2.3: the % filter commutes with postingsOf, so
    // kiTargets reads identical rows at 1/KiMod the work)
    val targetDocs = d.join(
      broadcast(kiTargets(
        Bm25.postingsOf(d.where(col("doc_id") % KiMod === KiRes)),
        "doc_id")),
      col("doc_id") === col("qid")).select(d.columns.map(col): _*)
    kiQueryTerms(Bm25.postingsOf(targetDocs))
  }

  private val KiLexTag = s"t$TargetCap-q$KiTerms-ptgt-$LexLayout"

  /** Gate lexicon: the persisted postings index whose VOCABULARY is
    * the planted query-term set — built once per corpus fingerprint,
    * then the recall gate reads ONLY it. */
  private def ensureKiLexicon(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("kilex", dir, Docs, KiLexTag) { p =>
      val d = docs(s, dir)
      Bm25.buildLexicon(d, p,
        vocabTermsOverride = Some(kiGateQueries(d).select(col("term"))))
    }

  /** The incremental twin of [[ensureKiLexicon]]: the gate lexicon is
    * BUILT from the old corpus slice (vocabulary = the planted
    * query-term set, frozen there like any build-time vocab decision)
    * and the new batch's postings APPEND with integer-added summaries
    * — then the recall gate reads old ∪ new through the store. */
  private def ensureKiLexiconInc(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("kilexinc", dir, Docs, KiLexTag) { p =>
      val d = docs(s, dir)
      Bm25.buildLexicon(d.where(expr(LexOldWhere)), p,
        vocabTermsOverride = Some(kiGateQueries(d).select(col("term"))))
      Bm25.appendLexicon(s, d.where(expr(LexNewWhere)), p)
    }

  // ---- positional retrieval (r18 verdict item 3): phrase + proximity
  // served from the positional lexicon, plus a known-item recall gate.

  /** Phrase top-k depth. */
  private val PhraseK = 25

  /** OOV-mass threshold for the lexicon drift gate: a batch whose
    * out-of-vocabulary token mass exceeds a quarter of its stream has
    * drifted from the vocabulary's training corpus. */
  private[graft] val OovMassMax = 0.25

  /** Planted phrase length. 4 tokens over the 30-word synthetic vocab
    * makes most planted phrases corpus-unique; a 2-token phrase is too
    * common (~8% of docs share one) to rank the target by adjacency
    * count alone. */
  private[graft] val KiPhraseLen = 4

  /** Measured known-item phrase floor (per-mille of the sampled
    * queries hit at top-[[KiK]], MEASURED via the oracle replay):
    * 1000‰ at sf0.001 (20 queries), sf0.01 (20), and sf0.1 (64,
    * capped); the 3-token variant measured 875‰ at sf0.1, locating
    * the cliff. A broken positional path (off-by-one shift, positions
    * lost on append) drops the TARGET ITSELF out of the candidate set
    * — a row-count and hash fail — and degrades every other match to
    * co-occurrence noise, an order below this floor. */
  private[graft] val MinKiPhrasePerMille = 800L

  /** Per-target planted PHRASE: the target doc's FIRST [[KiPhraseLen]]
    * tokens — a deterministic extraction both engines replay; shorter
    * targets drop out of the query set. */
  private[graft] def kiPhraseQueries(d: DataFrame): DataFrame =
    // target sampling over the residue class only — same
    // commuting-filter argument as kiGateQueries (r19, guide §2.3) —
    // and the broadcast target join runs BEFORE the tokenize
    // projection (r19, guide §2.4): the join needs only doc_id, so
    // tokenizing after it touches ≤ TargetCap docs instead of the
    // whole corpus (Catalyst never defers a projection past a join on
    // its own; the pre-join form paid a corpus-wide tokenize)
    d.join(broadcast(kiTargets(
          Bm25.postingsOf(d.where(col("doc_id") % KiMod === KiRes)),
          "doc_id")),
        col("doc_id") === col("qid"))
      .select(col("qid"), graft.text.Text.tokens(col("text")).as("t"))
      .where(size(col("t")) >= KiPhraseLen)
      .select(col("qid") +: (0 until KiPhraseLen).map(i =>
        col("t").getItem(i).as(s"w${i + 1}")): _*)

  /** Gate lexicon for the PHRASE recall gate: positional postings
    * whose vocabulary is the planted first-two-token phrase terms
    * (the query-log-vocabulary move of [[ensureKiLexicon]], phrase
    * edition). */
  private def ensureKiPhraseLexicon(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("kiphrase", dir, Docs,
        s"t$TargetCap-ph2-$LexLayout") { p =>
      val d = docs(s, dir)
      val q = kiPhraseQueries(d)
      Bm25.buildLexicon(d, p, vocabTermsOverride =
        Some((1 to KiPhraseLen).map(i =>
            q.select(col(s"w$i").as("term")): DataFrame)
          .reduceLeft(_ union _)))
    }

  /** Oracle for retrieval_recall_phrase: adjacency replayed from the
    * text, rank by candidates-strictly-ahead, global per-mille floor. */
  private def kiPhraseOracleSql: String = {
    val toks = "regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')"
    s"""
        WITH dtoks AS (SELECT doc_id, $toks AS t FROM documents),
        posts AS (
          SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM dtoks)
          WHERE term <> '' GROUP BY 1, 2),
        tgt AS (${kiTargetsSql("posts", "doc_id")}),
        q AS (
          SELECT doc_id AS qid, ${(1 to KiPhraseLen)
            .map(i => s"t[$i] AS w$i").mkString(", ")} FROM dtoks
          WHERE doc_id IN (SELECT qid FROM tgt)
            AND len(t) >= $KiPhraseLen),
        sc AS (
          SELECT q.qid, d.doc_id,
            CAST(len(list_filter(range(len(d.t) - ${KiPhraseLen - 1}),
              i -> ${(1 to KiPhraseLen)
                .map(i => s"d.t[i + $i] = q.w$i").mkString(" AND ")}))
              AS BIGINT) AS score
          FROM q CROSS JOIN dtoks d),
        scm AS (SELECT * FROM sc WHERE score > 0),
        ${kiRankCtes("scm", "doc_id", "res")}
        SELECT qid, target_rank, hit,
          (SELECT sum(CASE WHEN hit THEN 1 ELSE 0 END) * 1000
             >= $MinKiPhrasePerMille * count(*) FROM res) AS recall_ok
        FROM res ORDER BY qid"""
  }

  /** (qid, doc_id, score=phrase occurrences) for the planted phrase
    * queries, served from a POSITIONAL lexicon: each query's two terms
    * join the postings per doc and adjacency resolves by intersecting
    * the shifted position arrays — candidates are df-bounded posting
    * rows, never the corpus, and no position becomes a row. */
  private[graft] def kiPhraseScored(s: org.apache.spark.sql.SparkSession,
      root: String, q: DataFrame): DataFrame = {
    val post = graft.sources.Sources.parquet(s, s"$root/postings")
      .select(col("term"), col("doc_id"), col("pos"))
    // slot 1 anchors (qid, doc, P_1); each further slot joins its
    // term's postings for the same doc and intersects the shifted
    // positions — the chain narrows monotonically, so the heaviest
    // frame is the first join, bounded by Σ df over planted terms
    val qb = broadcast(q)
    val anchor = qb.join(post, col("w1") === col("term"))
      .select(Seq(col("qid"), col("doc_id"), col("pos").as("chain")) ++
        (2 to KiPhraseLen).map(i => col(s"w$i")): _*)
    val chained = (2 to KiPhraseLen).foldLeft(anchor) { (acc, i) =>
      val b = post.select(col("term").as(s"t$i"),
        col("doc_id").as(s"d$i"), col("pos").as(s"p$i"))
      acc.join(b, col(s"w$i") === col(s"t$i") &&
          acc("doc_id") === col(s"d$i"))
        .select(Seq(acc("qid"), acc("doc_id"),
          array_intersect(col("chain"),
            transform(col(s"p$i"), p => p - lit(i - 1))).as("chain")) ++
          (i + 1 to KiPhraseLen).map(j => acc(s"w$j")): _*)
    }
    chained.select(col("qid"), col("doc_id"),
        size(col("chain")).cast("long").as("score"))
      .where(col("score") > 0)
  }

  def all: Seq[Q] = Seq(

    // #61 BM25 top-k for the pinned query terms: one features pass, a
    // single-row stats agg broadcast back, TakeOrdered top-k. The
    // oracle replays the scoring arithmetic exactly — including the
    // pinned series-log — so the gate is a hash match on scores, not
    // rows-only.
    Q("text_bm25",
      (s, dir) => Bm25.topK(docs(s, dir), Bm25K),
      Some(Bm25.topKSql("documents", Bm25K))),

    // #61b the PRODUCTION read path: the same pinned query served from
    // the persisted lexicon (postings partitioned by term + df + corpus
    // stats) — term-partition pruning reads |terms| directories, the
    // corpus parquet is never opened (RetrievalSpec pins both), and the
    // pivoted-contribution assembly reproduces the scan path's doubles
    // bit for bit. Oracle: identical scoring over the matching
    // population (a postings index cannot see zero-match docs).
    Q("retrieval_index_bm25",
      (s, dir) => Bm25.bm25FromLexicon(s, ensureLexicon(s, dir), Bm25K),
      Some(Bm25.topKMatchingSql("documents", Bm25K))),

    // #61c incremental lexicon maintenance: the artifact is built from
    // the OLD corpus slice (vocabulary frozen there), the new batch's
    // postings are appended and the df/stats summaries integer-added —
    // then ONE search serves old ∪ new. The oracle scores against the
    // FULL population's df/N/avgdl, so a dropped batch or a stale
    // summary turns the gate red; RetrievalSpec pins append-on-disk ==
    // full rebuild (old-frozen vocab) component by component.
    Q("retrieval_index_incremental",
      (s, dir) => Bm25.bm25FromLexicon(s, ensureLexiconInc(s, dir), Bm25K),
      Some(Bm25.topKMatchingSql("documents", Bm25K))),

    // #61f exact PHRASE from the POSITIONAL lexicon (r18 verdict item
    // 3 — "the second thing every retrieval user types"): postings now
    // carry each term's sorted token positions; the phrase's slots
    // join per doc and adjacency resolves by intersecting the shifted
    // position arrays — phrase_tf = |∩ (P_i − i)|, candidates bounded
    // by the rarest term's df, corpus never opened. The oracle replays
    // adjacency from the text, so a positional layout that lost or
    // reordered positions hash-fails, not just rows-fails.
    Q("retrieval_phrase",
      (s, dir) => Bm25.phraseFromLexicon(s, ensureLexicon(s, dir), PhraseK),
      Some(Bm25.phraseSql("documents", PhraseK))),

    // #61g PROXIMITY-boosted retrieval from the same positional
    // lexicon: boosted = bm25(t1)+bm25(t2) + 0.25·#{|p−q| ≤ 8} — the
    // BM25 half routes through the one shared contribution tree
    // (bit-identical doubles), the boost is an exact power-of-two
    // multiple of an integer pair count, so the full boosted score
    // replays IEEE-exactly in DuckDB. Population = docs matching ≥ 1
    // term (what a postings index can see), like the bm25 index gates.
    Q("retrieval_proximity",
      (s, dir) => Bm25.proximityTopK(s, ensureLexicon(s, dir), Bm25K),
      Some(Bm25.proximitySql("documents", Bm25K))),

    // #61h KNOWN-ITEM recall gate, PHRASE (row 101's discipline on the
    // positional path): every sampled target plants its own FIRST
    // KiPhraseLen=4 TOKENS as an exact-phrase query, served from a
    // positional lexicon whose vocabulary is the planted terms; rank =
    // candidates strictly ahead on (phrase_tf desc, id). recall_ok
    // pins the
    // measured floor — an off-by-one in the position shift or
    // positions dropped on the append path collapses the hit rate an
    // order of magnitude below it (phrase_tf degrades to co-occurrence
    // noise), which no determinism check would catch.
    Q("retrieval_recall_phrase",
      (s, dir) => {
        val all = Window.partitionBy()
          .rowsBetween(Long.MinValue, Long.MaxValue)
        val root = ensureKiPhraseLexicon(s, dir)
        val q = kiPhraseQueries(docs(s, dir)).localCheckpoint()
        kiRankOf(kiPhraseScored(s, root, q), "doc_id")
          .select(col("qid"), col("target_rank"), col("hit"),
            (sum(when(col("hit"), 1L).otherwise(0L)).over(all) * 1000 >=
              lit(MinKiPhrasePerMille) * count(lit(1)).over(all))
              .as("recall_ok"))
          .orderBy(col("qid"))
      },
      Some(kiPhraseOracleSql)),

    // #61i OOV-MASS drift gate for the frozen lexicon vocabulary (r18
    // verdict item 5, lexical half): the fraction of the incoming
    // batch's token OCCURRENCES whose term the build-time vocabulary
    // does not hold. Above OovMassMax the appended crawls have drifted
    // from the vocabulary's training corpus and a rebuild is due —
    // the drift DECISION behind the r18 lexicon_novel_terms concern,
    // pinned relationally (pure integer counts; the comparison runs
    // in exact multiply form, oov > max·total, in both engines). On
    // the driver corpus the shared synthetic vocab gives mass 0 and
    // the flag stays false; RetrievalSpec forces a drifted batch and
    // watches it flip.
    Q("retrieval_drift_oov",
      (s, dir) => {
        val d = docs(s, dir)
        val vocab = Bm25.postingsOf(d.where(expr(LexOldWhere)))
          .select(col("term")).distinct()
        val newToks = d.where(expr(LexNewWhere))
          .select(explode(graft.text.Text.tokens(col("text"))).as("term"))
          .where(col("term") =!= "")
        val oov = newToks.join(vocab, Seq("term"), "left_anti")
          .agg(count(lit(1)).cast("long").as("oov_tokens"))
        val tot = newToks
          .agg(count(lit(1)).cast("long").as("total_tokens"))
        oov.crossJoin(tot)
          .select(col("oov_tokens"), col("total_tokens"),
            when(col("total_tokens") > 0,
              col("oov_tokens").cast("double") /
                col("total_tokens").cast("double")).as("oov_mass"),
            when(col("total_tokens") > 0,
              col("oov_tokens").cast("double") >
                lit(OovMassMax) * col("total_tokens").cast("double"))
              .otherwise(lit(false)).as("retrain_due"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
            '[^ \\t\\n\\f\\r\\x0B]+')) AS term
          FROM documents),
        vocab AS (
          SELECT DISTINCT term FROM toks
          WHERE doc_id % 3 <> 0 AND term <> ''),
        nt AS (
          SELECT term FROM toks WHERE doc_id % 3 = 0 AND term <> ''),
        c AS (
          SELECT
            CAST(COALESCE(sum(CASE WHEN term NOT IN
              (SELECT term FROM vocab) THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS oov_tokens,
            CAST(count(*) AS BIGINT) AS total_tokens
          FROM nt)
        SELECT oov_tokens, total_tokens,
          CASE WHEN total_tokens > 0
            THEN CAST(oov_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
            END AS oov_mass,
          CASE WHEN total_tokens > 0
            THEN CAST(oov_tokens AS DOUBLE) >
              CAST($OovMassMax AS DOUBLE) * CAST(total_tokens AS DOUBLE)
            ELSE FALSE END AS retrain_due
        FROM c""")),

    // #62 hybrid retrieval: RRF(BM25 top-50, cosine top-50) → top-10.
    // Integer ranks + rational fusion arithmetic — IEEE-exact in both
    // engines; ties at equal rrf break on id in both.
    Q("retrieval_rrf",
      (s, dir) => {
        val sparse = Bm25.topK(docs(s, dir), CandK)
        val e = emb(s, dir)
        val dense = Ann.bruteForceTopK(e,
          e.orderBy(col("vec_id")).limit(1), CandK)
        rrfFuse(sparse, dense, FusedK)
      },
      Some(s"""
        WITH ${Bm25.sqlCtes("documents")},
        sp AS (
          SELECT doc_id AS sid, row_number() OVER (ORDER BY score DESC, doc_id) AS r_sparse
          FROM sc ORDER BY score DESC, doc_id LIMIT $CandK),
        ${denseSql(CandK)},
        j AS (
          SELECT COALESCE(sid, did) AS id, r_sparse, r_dense,
            (COALESCE((CAST(1.0 AS DOUBLE) / CAST((${Bm25.RrfK} + r_sparse) AS DOUBLE)), CAST(0.0 AS DOUBLE))
             + COALESCE((CAST(1.0 AS DOUBLE) / CAST((${Bm25.RrfK} + r_dense) AS DOUBLE)), CAST(0.0 AS DOUBLE))) AS rrf
          FROM sp FULL OUTER JOIN dn ON sid = did)
        SELECT id, r_sparse, r_dense, rrf FROM j
        ORDER BY rrf DESC, id LIMIT $FusedK""")),

    // #62b KNOWN-ITEM recall gate, BM25 (r13 verdict item 2): every
    // SAMPLED target doc (the hash-capped kiTargets sample of
    // doc_id % 25 == 7 — ≤ TargetCap queries at ANY corpus size, the
    // r14 verdict fix that keeps this audit linear) plants its own
    // query — its top-3 terms by (tf desc, term asc) — and the gate
    // ranks the target among ALL matching docs by counting candidates
    // strictly ahead (never a corpus-sized sort; scores are
    // slot-pivoted fixed-order sums, bit-identical across engines, so
    // the comparison is deterministic). recall_ok asserts the measured
    // per-mille floor — the contract the plain bm25 gates lacked: a
    // deterministic ranking-destroying bug (constant scores ranks by
    // id: 50‰ here, 0‰ at 10×) fails it even though it replays
    // consistently.
    Q("retrieval_recall_bm25",
      (s, dir) => {
        val all = Window.partitionBy()
          .rowsBetween(Long.MinValue, Long.MaxValue)
        kiBm25Hits(docs(s, dir))
          .select(col("qid"), col("target_rank"), col("hit"),
            (sum(when(col("hit"), 1L).otherwise(0L)).over(all) * 1000 >=
              lit(MinKiBm25PerMille) * count(lit(1)).over(all))
              .as("recall_ok"))
          .orderBy(col("qid"))
      },
      Some(kiBm25OracleSql)),

    // #61e HARD-NEGATIVE mining (SURVEY row 122) — the training-data
    // artifact the retrieval stack exists to produce: per known-item
    // query, the top-[[HardNegK]] BM25 candidates EXCLUDING the true
    // item — (query, positive, hard negatives) is what a dual-encoder
    // trains on, and BM25-top-ranked non-positives are the standard
    // hard-negative source (DPR, Karpukhin et al. 2020). The planted
    // query is the positive's own top terms, so its best-scoring
    // non-self candidates are lexically closest — genuinely hard.
    // (Production adds a verified-near-dup filter in front so a
    // missed duplicate of the positive can't become a false negative;
    // here row 25's exact dedup upstream plays that role.) Scale:
    // rides [[kiBm25Scored]]'s one-postings-pass candidate set; the
    // per-qid top-k window is candidate-bounded, never corpus-wide.
    // The oracle replays scores bit-for-bit (slot-ordered double sum),
    // so the gate hashes scores, not just ids.
    Q("retrieval_hard_negatives",
      (s, dir) => kiBm25Scored(docs(s, dir))
        .where(col("doc_id") =!= col("qid"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .where(col("rank") <= HardNegK)
        .select(col("qid"), col("rank"), col("doc_id").as("neg_id"),
          col("score"))
        .orderBy(col("qid"), col("rank")),
      Some(s"""
        WITH $kiBm25Ctes,
        neg AS (
          SELECT qid, doc_id AS neg_id, score,
            row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, doc_id) AS rank
          FROM sc WHERE doc_id <> qid)
        SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
          CAST(neg_id AS BIGINT) AS neg_id, score
        FROM neg WHERE rank <= $HardNegK ORDER BY qid, rank""")),

    // #62c KNOWN-ITEM recall gate, RRF fusion: the dense leg degrades
    // the query to the sign pattern of its first 16 dims (a lossy
    // memory of the item — measured 562‰ alone at 10× on the capped
    // sample), the sparse leg is the top-3-term query (531‰ at 10×),
    // and fusion_ok pins that fusing the two IMPERFECT, complementary
    // views beats both: rrf ≥ bm25 (strictly +24 hits at 10×) AND
    // rrf ≥ dense + 1 at EVERY measured scale AND the absolute
    // per-mille floor. A fusion that silently returns the dense list
    // fails the +1 margin everywhere; one returning the sparse list
    // fails at sf0.001 and 10× (RetrievalSpec drives both fake-fusion
    // arms explicitly).
    Q("retrieval_recall_rrf",
      (s, dir) => {
        val all = Window.partitionBy()
          .rowsBetween(Long.MinValue, Long.MaxValue)
        // ONE scoring pass per leg, checkpointed: the per-leg hit
        // columns and the fusion's candidate cuts read the same
        // materialized (qid, id, score) sets
        val sb = kiBm25Scored(docs(s, dir)).localCheckpoint()
        val sd = kiDenseScored(emb(s, dir)).localCheckpoint()
        val b = kiRankOf(sb, "doc_id")
          .select(col("qid"), col("hit").as("hit_bm25"))
        val d = kiRankOf(sd, "vec_id")
          .select(col("qid"), col("hit").as("hit_dense"))
        val r = kiRrfHitsFromScored(sb, sd)
        def h(c: String) = sum(when(col(c), 1L).otherwise(0L)).over(all)
        b.join(d, Seq("qid")).join(r, Seq("qid"))
          .select(col("qid"), col("hit_bm25"), col("hit_dense"),
            col("hit_rrf"),
            (h("hit_rrf") >= h("hit_bm25") &&
              h("hit_rrf") >= h("hit_dense") + 1L &&
              h("hit_rrf") * 1000 >=
                lit(MinKiRrfPerMille) * count(lit(1)).over(all))
              .as("fusion_ok"))
          .orderBy(col("qid"))
      },
      Some(kiRrfOracleSql)),

    // #62d the known-item gate pointed at the PRODUCTION READ PATH
    // (SURVEY row 107, r14 verdict item 3): the same planted queries,
    // floors and rank arithmetic as retrieval_recall_bm25, but every
    // score is served from the PERSISTED lexicon (vocabulary = the
    // planted query-term set, the query-log-vocabulary move; df/stats
    // count the full corpus) — the quality floor now covers what
    // serving actually reads, not a fresh postings pass. The scoring
    // plan never opens the corpus (RetrievalSpec pins the plan and the
    // bit-equality of the two serving shapes), and ONE oracle gates
    // both paths because the posting population for the query terms,
    // the summaries, and the slot-ordered score tree coincide.
    Q("retrieval_recall_index",
      (s, dir) => {
        val all = Window.partitionBy()
          .rowsBetween(Long.MinValue, Long.MaxValue)
        val root = ensureKiLexicon(s, dir)
        // the queries MATERIALIZE (≤ TargetCap·KiTerms rows) before
        // scoring — in production they arrive as literals from a query
        // log; with the checkpoint the scoring plan reads ONLY the
        // lexicon, which is the row's whole point
        val qt = kiGateQueries(docs(s, dir)).localCheckpoint()
        kiRankOf(kiBm25ScoredFromLexicon(s, root, qt), "doc_id")
          .select(col("qid"), col("target_rank"), col("hit"),
            (sum(when(col("hit"), 1L).otherwise(0L)).over(all) * 1000 >=
              lit(MinKiBm25PerMille) * count(lit(1)).over(all))
              .as("recall_ok"))
          .orderBy(col("qid"))
      },
      Some(kiBm25OracleSql)),

    // #62e the known-item gate over the INCREMENTAL lexicon (SURVEY
    // row 112): the store is BUILT from the old corpus slice
    // (vocabulary frozen = the planted query terms) and the new
    // crawl's postings APPEND with integer-added df/stats — then the
    // SAME floors must hold over old ∪ new through the store. A
    // dropped batch, a stale summary, or an append that re-tokenized
    // history shifts a score and hash-fails against row 101's full-
    // corpus oracle; a recall-destroying append (e.g. df double-
    // counting flattening idf) fails the per-mille floor. The quality
    // contract now covers the full artifact LIFECYCLE, not just the
    // fresh build.
    Q("retrieval_recall_incremental",
      (s, dir) => {
        val all = Window.partitionBy()
          .rowsBetween(Long.MinValue, Long.MaxValue)
        val root = ensureKiLexiconInc(s, dir)
        val qt = kiGateQueries(docs(s, dir)).localCheckpoint()
        kiRankOf(kiBm25ScoredFromLexicon(s, root, qt), "doc_id")
          .select(col("qid"), col("target_rank"), col("hit"),
            (sum(when(col("hit"), 1L).otherwise(0L)).over(all) * 1000 >=
              lit(MinKiBm25PerMille) * count(lit(1)).over(all))
              .as("recall_ok"))
          .orderBy(col("qid"))
      },
      Some(kiBm25OracleSql)),

    // #62f recall THROUGH the curation pipeline (SURVEY row 123, r16
    // verdict item 5): every ann_recall_*/retrieval_recall_* floor so
    // far gates a serving path over the RAW corpus; production serves
    // retrieval over what curation KEPT. This gate plants the known
    // items PRE-pipeline (the user's memory predates curation), runs
    // the full closed-loop admission (clean → chunk dedup → semantic
    // dedup → decontam → model quality), builds the scoring population
    // from the SURVIVORS' REWRITTEN texts, and asks: of the targets
    // curation kept, how many does BM25 still put in the top-K?
    // Both failure modes are covered: a surviving target whose
    // rewritten text lost its query terms scores no self-row
    // (survived=true, hit=false — counted against the floor), and a
    // target curation dropped is excluded from the denominator but
    // reported (survived=false). Oracle = the pipeline's own CTE chain
    // (survivor texts) composed with the row-101 scoring replay —
    // bit-identical scores, plus the floor asserted as a column.
    Q("retrieval_recall_pipeline",
      (s, dir) => {
        val all = Window.partitionBy()
          .rowsBetween(Long.MinValue, Long.MaxValue)
        val raw = docs(s, dir)
        val embs = Sources.table(s, dir, "embeddings")
        val st = graft.dedup.Corpus.pipelineStages(raw, raw, embs, 97, "doc")
        val survivors = st.sd.join(st.sel, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text")).localCheckpoint()
        // the raw-corpus postings feed ONLY the target sample and the
        // per-target query terms, and the target population is an id
        // residue — so tokenize just that residue class (r19, guide
        // §2.3: the filter commutes with postingsOf; kiTargets'
        // distinct/hash-cap and the per-doc term ranking read the
        // identical rows, 1/PipeTargetMod of the corpus instead of
        // all of it)
        val rposts = Bm25.postingsOf(
            raw.where(col("doc_id") % PipeTargetMod === PipeTargetRes))
          .localCheckpoint()
        val tgt = kiTargets(rposts, "doc_id", PipeTargetMod,
          PipeTargetRes, PipeTargetCap).localCheckpoint()
        val qt = rposts.join(broadcast(tgt), col("doc_id") === col("qid"))
          .withColumn("r", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("tf").desc, col("term"))))
          .where(col("r") <= KiTerms)
          .select(col("qid"), col("term"), col("r"))
          .localCheckpoint()
        val posts = Bm25.postingsOf(survivors).localCheckpoint()
        val dfTab = posts.groupBy(col("term"))
          .agg(count(lit(1)).cast("long").as("df"))
        // stats from the CHECKPOINTED postings (Σ tf == Σ dl, the
        // kiBm25Scored derivation — map-only, no second tokenize
        // pass; r19, guide §2.4) + a count over the checkpointed
        // survivors; every survivor has ≥ 1 token by chunkDedup's
        // kept_chunks > 0 filter, so even the all-empty corner
        // coincides
        val stats = survivors.agg(count(lit(1)).as("n"))
          .crossJoin(posts.agg(sum(col("tf")).as("sumdl")))
        val ranked = kiRankOf(kiSlotScore(posts, qt, dfTab, stats, KiTerms),
          "doc_id")
        broadcast(tgt)
          .join(survivors.select(col("doc_id").as("qid"))
            .withColumn("survived", lit(true)), Seq("qid"), "left_outer")
          .join(ranked.select(col("qid"), col("hit")), Seq("qid"),
            "left_outer")
          .select(col("qid"),
            coalesce(col("survived"), lit(false)).as("survived"),
            (coalesce(col("survived"), lit(false)) &&
              coalesce(col("hit"), lit(false))).as("hit"))
          .select(col("qid"), col("survived"), col("hit"),
            (sum(when(col("hit"), 1L).otherwise(0L)).over(all) * 1000 >=
              lit(MinKiPipelinePerMille) *
                sum(when(col("survived"), 1L).otherwise(0L)).over(all))
              .as("recall_ok"))
          .orderBy(col("qid"))
      },
      Some(kiPipelineOracleSql))
  )
}
