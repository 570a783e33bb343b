package graft

import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.text.Text

/**
 * SURVEY.md §2 rows 32-35: text analysis over the `documents` table —
 * language ID, quality scoring, token counting, fingerprinting. Every
 * query is a narrow projection + per-row codegen'd expressions: no
 * shuffle, no UDF, a single pass that scales linearly with input splits
 * (exactly the shape you want for a 100 TB document corpus).
 */
object TextQueries {

  /** Quantile-sketch gate fractions, shared with the streaming twin. */
  private[graft] val SketchPs = Seq(("p50", 0.5), ("p90", 0.9))

  /** One oracle for both quantile-sketch gates (batch-accumulated and
    * stream-accumulated sample histograms resolve identically). */
  private[graft] def sketchOracle: String = s"""
        WITH ftoks AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
              AS BIGINT) AS v
          FROM documents),
        stoks AS (
          SELECT v FROM ftoks
          WHERE ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")}
            % ${graft.plans.Quantiles.SampleMod} = 0),
        ${graft.plans.Quantiles.sampleQuantileGateSql("ftoks", "stoks",
          SketchPs.map(_._2))}"""

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Sources.table(s, dir, "documents")

  /** Learned-BPE piece count per doc off the persisted merge state —
    * pieces are the space-separated cells minus the 
    * word-boundary markers (the text_bpe_train_apply accounting,
    * shared with the tokenizer-selection eval). */
  private def bpeLearnedCounts(
      state: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    state.select(col("doc_id"),
      size(filter(split(trim(col("s")), " "),
        t => t =!= "" && t =!= ""))
        .cast("long").as("learned_tokens"))

  /** Repetition-plan budget: plan RepBudgetMult × the corpus's tokens
    * (data-constrained training fills the shortfall by repetition). */
  private[graft] val RepBudgetMult = 2L

  /** Max epochs a source may repeat — the ~4-epoch knee past which
    * repeated data stops adding value (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models", fig. 1). */
  private[graft] val RepMaxEpochs = 4L

  /** The per-source repetition plan (SURVEY row 97): mixture weight =
    * quality ABOVE THE CORPUS MEAN by exact cross-multiplication
    * (num_s·T − N·toks_s in decimal(38,0) — num_s·T overflows int64 at
    * thousands of boosted rows, the row-93 lesson; DuckDB replays in
    * HUGEINT), clamped at zero so below-mean sources are excluded;
    * share quantized to integer millionths of the weight mass; target =
    * RepBudgetMult·T·share/1e6; then the epoch split: full_epochs =
    * min(RepMaxEpochs, target div toks), the rest a partial-epoch token
    * residual. Everything integral — no float enters any decision. The
    * per-source table is source-cardinality-bounded (crawl batches, not
    * domains); its two scalar-total crossJoins broadcast one row each,
    * and the corpus is read ONCE (the grouped table is checkpointed). */
  private def repetitionPlan(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val d = docs(s, dir)
    val dec = "decimal(38,0)"
    val src = Text.qualityModelRaw(d)
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source")).agg(
        sum(col("n_tokens")).as("toks"), sum(col("num")).as("qn"))
      .localCheckpoint()
    val tot = src.agg(sum(col("toks")).as("t_tot"),
      sum(col("qn")).as("n_tot"))
    val withW = src.crossJoin(broadcast(tot)).withColumn("w",
      greatest(lit(0).cast(dec),
        col("qn").cast(dec) * col("t_tot").cast(dec) -
          col("n_tot").cast(dec) * col("toks").cast(dec)))
      .localCheckpoint()
    val wTot = withW.agg(sum(col("w")).as("w_tot"))
    // w_tot = 0 (every source exactly at the corpus mean — a uniform or
    // single-source corpus) degrades to a defined empty plan instead of
    // NULL shares / a division error
    withW.crossJoin(broadcast(wTot))
      .withColumn("share_micro", expr(
        "CASE WHEN w_tot = 0 THEN CAST(0 AS BIGINT)" +
          " ELSE w * 1000000 div w_tot END"))
      .withColumn("target", expr(
        s"CAST($RepBudgetMult AS DECIMAL(38,0)) * t_tot * share_micro" +
          " div 1000000"))
      .withColumn("full_epochs",
        least(lit(RepMaxEpochs), expr("target div toks")))
      .withColumn("resid_toks",
        when(col("full_epochs") < RepMaxEpochs,
          least(col("toks"), col("target") -
            col("full_epochs") * col("toks")))
          .otherwise(lit(0L)))
      .withColumn("planned_toks",
        col("full_epochs") * col("toks") + col("resid_toks"))
      .select(col("source"), col("toks"), col("qn"), col("share_micro"),
        col("target"), col("full_epochs"), col("resid_toks"),
        col("planned_toks"))
  }

  /** Shared oracle CTE chain of the repetition family: per-doc quality
    * numerators → per-source sums → HUGEINT above-mean weights →
    * millionth shares → targets → the epoch split. Emits `plan` and
    * the per-doc `qd`. */
  private def repetitionPlanCtes: String = {
    val h = graft.functions.XHash.h60Sql("'qm:' || t")
    s"""
        WITH tk AS (
          SELECT doc_id, source,
            unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        qd AS (
          SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_toks,
            CAST(sum(($h % ${Text.QmBuckets}) * 2654435761 % 2000 - 1000)
              + ${Text.QmBiasNum} * count(*) AS BIGINT) AS num
          FROM tk GROUP BY doc_id, source),
        src AS (
          SELECT source, CAST(sum(n_toks) AS BIGINT) AS toks,
            CAST(sum(num) AS BIGINT) AS qn
          FROM qd GROUP BY source),
        tot AS (
          SELECT CAST(sum(toks) AS BIGINT) AS t_tot,
            CAST(sum(qn) AS BIGINT) AS n_tot
          FROM src),
        w8 AS (
          SELECT s.source, s.toks, s.qn, t.t_tot,
            greatest(CAST(0 AS HUGEINT),
              CAST(s.qn AS HUGEINT) * t.t_tot
                - CAST(t.n_tot AS HUGEINT) * s.toks) AS w
          FROM src s CROSS JOIN tot t),
        wt AS (SELECT sum(w) AS w_tot FROM w8),
        p0 AS (
          SELECT source, toks, qn,
            CAST(CASE WHEN w_tot = 0 THEN 0
              ELSE (w * 1000000) // w_tot END AS BIGINT) AS share_micro,
            CAST(($RepBudgetMult * CAST(t_tot AS HUGEINT)
              * (CASE WHEN w_tot = 0 THEN 0
                 ELSE (w * 1000000) // w_tot END)) // 1000000 AS BIGINT)
              AS target
          FROM w8 CROSS JOIN wt),
        p1 AS (
          SELECT *, least(CAST($RepMaxEpochs AS BIGINT), target // toks)
            AS full_epochs
          FROM p0),
        plan AS (
          SELECT *, CAST(CASE WHEN full_epochs < $RepMaxEpochs
              THEN least(toks, target - full_epochs * toks)
              ELSE 0 END AS BIGINT) AS resid_toks
          FROM p1)"""
  }

  /** Persisted BPE-training artifact (final merged corpus state +
    * learned merge table): training runs ONCE per dataset per machine
    * and both the learn gate and the apply gate read the same artifact
    * — deterministic training makes artifact == live output. */
  private def ensureBpe(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("bpe", dir, Seq("documents.parquet"),
        s"m${Text.BpeTrainMerges}") { p =>
      val (state, learned) = Text.bpeTrainFull(docs(s, dir))
      state.write.mode("overwrite").parquet(s"$p/state")
      learned.coalesce(1).write.mode("overwrite").parquet(s"$p/learned")
    }

  /** The unigram-LM training artifact: the EM training runs once per
    * dataset per machine and the gate serves the persisted vocabulary
    * — deterministic training makes artifact == live output
    * (UnigramSpec pins the determinism). */
  private[graft] def ensureUnigram(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    import graft.text.Unigram
    graft.tools.LocalFs.cached("unigram", dir, Seq("documents.parquet"),
        s"r${Unigram.Rounds}v${Unigram.VocabTarget}") { p =>
      val (vocab, segs) = Unigram.trainFull(docs(s, dir))
      vocab.coalesce(1).write.mode("overwrite").parquet(s"$p/vocab")
      segs.coalesce(1).write.mode("overwrite").parquet(s"$p/segs")
    }
  }

  /** The text_tokens_bpe oracle, generated from [[Text.BpeMerges]] —
    * the same pinned table, same pass count, same fence (chr(1)), so
    * the two engines run the identical merge cascade. */
  /** The pinned-merge-table BPE token count as a single generated SQL
    * expression over `textExpr` — shared by the text_tokens_bpe oracle
    * and the tokenizer-aware pack oracle (row 121), so the two gates
    * can never disagree about what a token is. */
  private[graft] def bpeCountSqlExpr(textExpr: String): String = {
    val init = "(' ' || coalesce(array_to_string(list_transform(" +
      s"regexp_extract_all(lower($textExpr), '[a-z]+'), " +
      "w -> regexp_replace(w, '(.)', '\\1 ', 'g')), chr(1) || ' '), ''))"
    val merged = Text.BpeMerges.foldLeft(init) { case (acc, (a, b)) =>
      (1 to Text.BpePasses).foldLeft(acc)((cur, _) =>
        s"replace($cur, ' $a $b ', ' $a$b ')")
    }
    s"""CAST(len(list_filter(string_split(trim($merged), ' '),
        t -> t <> chr(1) AND t <> '')) AS BIGINT)"""
  }

  private def bpeOracleSql: String =
    s"""
        SELECT doc_id,
          ${bpeCountSqlExpr("text")} AS bpe_tokens
        FROM documents"""


  /** Per-doc predicted language over any base relation — (doc_id,
    * lang_actual, text, lang_pred) — generated from the SAME stopword
    * profiles the Scala langId uses. The text_langid oracle projects
    * it; the lang-quota composition (row 116) keys quota admission on
    * lang_pred from the same fragment, so the two gates can never
    * disagree about what language a document "is". */
  private[graft] def langPredSql(base: String = "documents"): String = {
        val profiles = Seq(
          "en" -> Seq("the", "a", "an", "and", "of", "to", "in", "is",
            "that", "it", "was", "for", "on", "with", "as"),
          "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en",
            "un", "una", "es", "por", "con", "para"),
          "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est",
            "dans", "que", "pour", "qui", "sur"),
          "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine",
            "zu", "von", "mit", "nicht", "auf"))
        val scoreCols = profiles.map { case (lang, stops) =>
          val listLit = stops.map(s => s"'$s'").mkString("[", ", ", "]")
          s"""CAST(len(list_filter(toks, x -> list_contains($listLit, x))) AS DOUBLE)
             |        / CAST(greatest(len(toks), 1) AS DOUBLE) AS sc_$lang""".stripMargin
        }.mkString(",\n      ")
        val best = profiles.map(p => s"sc_${p._1}").mkString("greatest(", ", ", ")")
        val tieBreak = profiles.map { case (lang, _) =>
          s"WHEN sc_$lang = best AND sc_$lang > 0 THEN '$lang'"
        }.mkString("\n          ")
        s"""
        WITH t AS (
          SELECT doc_id, lang AS lang_actual, text,
            regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+') AS toks
          FROM $base),
        s AS (
          SELECT doc_id, lang_actual, text,
            CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE)
              / CAST(greatest(length(text), 1) AS DOUBLE) AS cjk,
            $scoreCols
          FROM t),
        b AS (SELECT *, $best AS best FROM s)
        SELECT doc_id, lang_actual, text,
          CASE WHEN cjk > 0.3 THEN 'zh'
          $tieBreak
          ELSE 'und' END AS lang_pred
        FROM b"""
      }

  private def langidOracleSql: String =
    s"SELECT doc_id, lang_actual, lang_pred FROM (${langPredSql()})"

  def all: Seq[Q] = Seq(

    // #34 token counting: whitespace tokens + BPE-ish pre-tokenizer runs
    Q("text_tokens",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("ws_tokens"),
        Text.bpeCount(col("text")).cast("long").as("bpe_tokens")),
      Some("""
        SELECT doc_id,
          CAST(len(regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+')) AS BIGINT) AS ws_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
        FROM documents""")),

    // #34c REAL BPE tokenization: the pinned merge table (Text.BpeMerges)
    // applied in rank order via exact-string replaces — both sides of
    // the gate are GENERATED from the same table, so the merge cascade
    // cannot drift between the Spark plan and the DuckDB replay.
    Q("text_tokens_bpe",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        Text.bpeTokenCount(col("text")).cast("long").as("bpe_tokens")),
      Some(bpeOracleSql)),

    // #34d BPE merge LEARNING: derive the top-10 merge table from the
    // corpus itself — K rounds of pair-count → argmax → fixed-pass
    // replace, each round one linear corpus pass into a vocab²-bounded
    // count plus a single-row collect. The oracle unrolls all K rounds
    // as generated CTEs, pinning count, tie-break, and merge
    // application cross-engine at every intermediate state.
    Q("text_bpe_train",
      (s, dir) => graft.sources.Sources.parquet(s, s"${ensureBpe(s, dir)}/learned"),
      Some(Text.bpeTrainOracleSql())),

    // #34f unigram-LM (SentencePiece-style) tokenizer training — the
    // second subword family next to BPE: hard-EM (Viterbi E-step over a
    // capped word population, count M-step, prune to the target vocab),
    // every decision in integer micro-nats via the shared
    // truncated-series ln. ONE corpus pass (word-count groupBy) bounds
    // the training world; the oracle unrolls both EM rounds' DP as
    // generated CTEs.
    Q("text_unigram_train",
      (s, dir) => graft.sources.Sources.parquet(s, s"${ensureUnigram(s, dir)}/vocab"),
      Some(graft.text.Unigram.trainOracleSql())),

    // #34g the unigram train→apply loop CLOSED (the row-77 move for
    // the second subword family): the final E-step's segmentation,
    // served from the persisted artifact as a WordCap-bounded
    // broadcast dictionary, tokenizes the corpus — per-doc counts with
    // character backoff for out-of-population words. The oracle
    // extends the same unrolled EM chain one join further, so a
    // drifted intermediate state fails BOTH unigram gates coherently.
    Q("text_unigram_apply",
      (s, dir) => graft.text.Unigram.applyCounts(docs(s, dir),
        graft.sources.Sources.parquet(s, s"${ensureUnigram(s, dir)}/segs")),
      Some(graft.text.Unigram.applyOracleSql())),

    // #34g the SELF-HOSTED perplexity filter (VERDICT r12 item 6, the
    // CCNet rung row 44 stood in for with a pinned vocabulary): per-doc
    // micro-nat logprob under the unigram LM the engine itself trained
    // (text_unigram_train's fingerprint-keyed artifact), char backoff
    // for out-of-population words, fixed OOV penalty, and the keep
    // decision at Unigram.KeepPerPieceMicroNats (-3.43 nats/piece, the
    // measured median) made MULTIPLICATIVELY so no integer
    // division (Spark truncates, DuckDB floors on negatives). Oracle =
    // the same unrolled train chain extended by the scoring joins.
    Q("text_ppl_unigram",
      (s, dir) => {
        val root = ensureUnigram(s, dir)
        graft.text.Unigram.pplScore(docs(s, dir),
          graft.sources.Sources.parquet(s, s"$root/vocab"),
          graft.sources.Sources.parquet(s, s"$root/segs"))
      },
      Some(graft.text.Unigram.pplOracleSql())),

    // #34e the train→apply loop CLOSED: the corpus tokenized by the
    // merges just learned from it (the final training state IS the
    // applied tokenizer — fences and empties dropped, like
    // text_tokens_bpe over the pinned table). The oracle extends the
    // same unrolled CTE chain one select further, so a drifted
    // intermediate state fails BOTH gates coherently.
    Q("text_bpe_train_apply",
      (s, dir) => bpeLearnedCounts(
        graft.sources.Sources.parquet(s, s"${ensureBpe(s, dir)}/state")),
      Some(Text.bpeTrainApplyOracleSql())),

    // #34i TOKENIZER SELECTION — the measurement that decides between
    // the two subword families the engine TRAINS (BPE rows 70/77,
    // unigram-LM row 87): per source, total pieces each tokenizer
    // produces on the corpus, fertility (pieces per whitespace word)
    // and compression (chars per piece) in integer millionths, and the
    // winner ELECTION — fewer total pieces wins, a pure integer
    // comparison no float ulp can flip. Both apply legs reuse the
    // persisted fingerprint-keyed artifacts; the oracle nests BOTH
    // unrolled train chains as derived tables (DuckDB scopes each WITH
    // to its subquery) and replays the division in // arithmetic —
    // all quantities positive, so trunc == floor cross-engine.
    // Scale shape: two keyed joins on doc_id + one shuffle on the
    // 12-value source key; the apply legs are the already-gated linear
    // passes.
    Q("text_tokenizer_eval",
      (s, dir) => {
        val d = docs(s, dir)
        val bpe = bpeLearnedCounts(
          graft.sources.Sources.parquet(s, s"${ensureBpe(s, dir)}/state"))
        val uni = graft.text.Unigram.applyCounts(d,
          graft.sources.Sources.parquet(s, s"${ensureUnigram(s, dir)}/segs"))
        val base = d.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("chars"),
          Text.tokenCount(col("text")).cast("long").as("words"))
        base.join(bpe, Seq("doc_id")).join(uni, Seq("doc_id"))
          .groupBy(col("source")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("chars")).as("chars"),
            sum(col("words")).as("words"),
            sum(col("learned_tokens")).as("bpe_pieces"),
            sum(col("unigram_tokens")).as("uni_pieces"))
          .select(col("source"), col("n_docs"), col("chars"),
            col("words"), col("bpe_pieces"), col("uni_pieces"),
            expr("(bpe_pieces * 1000000) div words")
              .as("bpe_fertility_micro"),
            expr("(uni_pieces * 1000000) div words")
              .as("uni_fertility_micro"),
            expr("(chars * 1000000) div bpe_pieces").as("bpe_cpp_micro"),
            expr("(chars * 1000000) div uni_pieces").as("uni_cpp_micro"),
            when(col("bpe_pieces") < col("uni_pieces"), lit("bpe"))
              .when(col("uni_pieces") < col("bpe_pieces"), lit("unigram"))
              .otherwise(lit("tie")).as("winner"))
      },
      Some(s"""
        WITH bpe AS (SELECT * FROM (${Text.bpeTrainApplyOracleSql()})),
        uni AS (SELECT * FROM (${graft.text.Unigram.applyOracleSql()})),
        base AS (
          SELECT doc_id, source, CAST(length(text) AS BIGINT) AS chars,
            CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
              AS BIGINT) AS words
          FROM documents),
        agg AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(chars) AS BIGINT) AS chars,
            CAST(sum(words) AS BIGINT) AS words,
            CAST(sum(learned_tokens) AS BIGINT) AS bpe_pieces,
            CAST(sum(unigram_tokens) AS BIGINT) AS uni_pieces
          FROM base b JOIN bpe p USING (doc_id) JOIN uni u USING (doc_id)
          GROUP BY source)
        SELECT source, n_docs, chars, words, bpe_pieces, uni_pieces,
          CAST((bpe_pieces * 1000000) // words AS BIGINT)
            AS bpe_fertility_micro,
          CAST((uni_pieces * 1000000) // words AS BIGINT)
            AS uni_fertility_micro,
          CAST((chars * 1000000) // bpe_pieces AS BIGINT) AS bpe_cpp_micro,
          CAST((chars * 1000000) // uni_pieces AS BIGINT) AS uni_cpp_micro,
          CASE WHEN bpe_pieces < uni_pieces THEN 'bpe'
               WHEN uni_pieces < bpe_pieces THEN 'unigram'
               ELSE 'tie' END AS winner
        FROM agg""")),

    // #34j the DATA-REPETITION plan (SURVEY row 97): data-constrained
    // training needs RepBudgetMult× the corpus's tokens, and the
    // shortfall is filled by REPEATING good sources up to RepMaxEpochs
    // (the Muennighoff et al. 2023 knee). Mixture weight per source =
    // quality above the corpus mean, exact-integer by HUGEINT
    // cross-multiplication, zero-clamped (below-mean sources are
    // excluded entirely — the learned-mixture decision); target =
    // budget × millionth-share; the epoch split is all integer
    // division. Measured regimes at sf0.001 AND sf0.01: saturated
    // 4-epoch sources, mid sources with a partial-epoch residual,
    // partial-only sources, and excluded sources — all four arms
    // non-vacuous (QuotaSpec pins them).
    Q("corpus_repetition_plan",
      (s, dir) => repetitionPlan(s, dir),
      Some(s"""$repetitionPlanCtes
        SELECT source, toks, qn, share_micro, target, full_epochs,
          resid_toks, full_epochs * toks + resid_toks AS planned_toks
        FROM plan""")),

    // #34j2 the plan EXECUTED: the exact (doc_id, epoch) multiset a
    // trainer consumes — every doc of a source repeated full_epochs
    // times (explode over a ≤RepMaxEpochs sequence, linear) plus the
    // partial epoch as a per-source doc-id-order token prefix admitted
    // by Corpus.quotaAdmitWith with the plan's residual as the cap
    // column (the two-pass bucketed prefix sum — no corpus-wide
    // window; the plan joins by the planner's choice, it is
    // source-cardinality rows). An over-plan repetition in the output
    // hash-mismatches against the replayed plan.
    Q("corpus_upsample",
      (s, dir) => {
        val plan = repetitionPlan(s, dir)
          .select(col("source"), col("full_epochs"), col("resid_toks"))
        val d = docs(s, dir).select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_toks"))
          // zero-token docs carry no mass to repeat and are invisible
          // to the quality scorer the plan derives from (its per-doc
          // grain is the exploded-token aggregate) — exclude them from
          // the executed multiset like the plan's qd does (FuzzCorpus)
          .where(col("n_toks") > 0L)
        // materialized ONCE (r19, guide §2.4): the full-epoch leg, the
        // partial leg, and quotaAdmitWith's max-id/partials/join passes
        // each evaluate this frame — without the cut the repetition
        // plan (a quality+token corpus aggregate) re-derived 3-4×.
        // Text is dropped above (n_toks is the only signal the executed
        // multiset needs), so the cut frame is id/source/count rows.
        val withPlan = d.join(plan, Seq("source")).localCheckpoint()
        val fullRows = withPlan.where(col("full_epochs") >= 1L)
          .select(col("doc_id"),
            explode(sequence(lit(1L), col("full_epochs"))).as("epoch"),
            col("n_toks"))
        val partial = graft.dedup.Corpus.quotaAdmitWith(
            withPlan.where(col("resid_toks") > 0L), col("resid_toks"),
            srcCol = "source", broadcastOffsets = false,
            tokens = Some(col("n_toks")))
          .select(col("doc_id"), (col("full_epochs") + 1L).as("epoch"),
            col("n_toks"))
        fullRows.union(partial)
      },
      Some(s"""$repetitionPlanCtes,
        fulle AS (
          SELECT qd.doc_id,
            unnest(generate_series(1, p.full_epochs)) AS epoch,
            qd.n_toks
          FROM qd JOIN plan p USING (source)
          WHERE p.full_epochs >= 1),
        cum AS (
          SELECT doc_id, source, n_toks,
            SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM qd),
        part AS (
          SELECT c.doc_id, p.full_epochs + 1 AS epoch, c.n_toks
          FROM cum c JOIN plan p USING (source)
          WHERE p.resid_toks > 0 AND c.cum <= p.resid_toks)
        SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, n_toks FROM fulle
        UNION ALL
        SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, n_toks FROM part""")),

    // #34b dragnet's quantize aggregation pointed at a pipeline signal:
    // power-of-two histogram of per-doc BPE-ish token counts — the
    // length-distribution view a data recipe cuts on (and proof the
    // dragnet breakdown machinery composes over the documents table,
    // not just events). Same oracle rendering as scan_quantize.
    Q("text_token_hist",
      (s, dir) => docs(s, dir)
        .groupBy(graft.functions.quantize(
          Text.bpeCount(col("text")).cast("long")).as("bucket"))
        .agg(count(lit(1)).cast("long").as("value")),
      Some {
        val bpe = "CAST(len(regexp_extract_all(lower(text), " +
          "'[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT)"
        s"""
        SELECT ${graft.functions.quantizeSql(bpe)} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS value
        FROM documents GROUP BY 1"""
      }),

    // #34f mergeable QUANTILE sketch (fourth sketch family:
    // distribution): the sketch is the token-count histogram of a
    // deterministic 1-in-4 XHash sample of the docs — row-local
    // membership, so samples union and histograms add (the streaming
    // twin proves that live). Estimates walk the sample histogram
    // exactly like the exact path walks the full one; `err` is the
    // TRUE rank error of each estimate and `ok` its DKW bound check
    // (pinned-literal ln(2/δ), so both engines compare the identical
    // double) — the quality contract that turns red if the sampling
    // stops representing the distribution.
    Q("text_quantile_sketch",
      (s, dir) => {
        val toks = docs(s, dir).select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("v"))
        val sample = toks.where(
          graft.functions.XHash.h60(col("doc_id").cast("string"))
            % graft.plans.Quantiles.SampleMod === 0)
        val sampleHist = sample.groupBy(col("v").as("b"))
          .agg(count(lit(1)).as("c"))
        graft.plans.Quantiles.sampleQuantileGate(
          toks.select(col("v")), sampleHist, SketchPs)
      },
      Some(sketchOracle)),

    // #33 quality scoring: length/punctuation/stopword signals + composite
    Q("text_quality",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        Text.punctRatio(col("text")).as("punct_ratio"),
        Text.stopwordRatio(col("text")).as("stopword_ratio"),
        Text.qualityScore(col("text")).as("quality")),
      Some("""
        WITH t AS (
          SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars,
            CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
              / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
            CAST(len(list_filter(regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+'),
                   x -> list_contains(['the','a','an','and','of','to','in','is','that','it','was','for','on','with','as'], x))) AS DOUBLE)
              / CAST(greatest(len(regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+')), 1) AS DOUBLE) AS stopword_ratio
          FROM documents)
        SELECT doc_id, n_chars, punct_ratio, stopword_ratio,
          least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
            + least(stopword_ratio * 4.0, 1.0) * 0.4
            + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2 AS quality
        FROM t""")),

    // #33b per-source top-k by quality: the curation selection shape
    // corpus_stratified's hash-cap can't express — keep the BEST k of
    // every domain, not a random k. Only (id, source, score) triples
    // ever shuffle (the text stays at the scan), and the rank window
    // partitions by source — no global sort. Ties break on doc_id;
    // both engines compute the identical IEEE double from the same
    // integers (the text_quality gate hash-pins that), so the rank
    // boundary is deterministic cross-engine.
    Q("corpus_topk_quality",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
        docs(s, dir)
          .select(col("doc_id"), col("source"),
            Text.qualityScore(col("text")).as("quality"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .where(col("rk") <= 5)
      },
      Some("""
        WITH t AS (
          SELECT doc_id, source,
            CAST(length(text) AS BIGINT) AS n_chars,
            CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
              / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
            CAST(len(list_filter(regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+'),
                   x -> list_contains(['the','a','an','and','of','to','in','is','that','it','was','for','on','with','as'], x))) AS DOUBLE)
              / CAST(greatest(len(regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+')), 1) AS DOUBLE) AS stopword_ratio
          FROM documents),
        scored AS (
          SELECT doc_id, source,
            least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
              + least(stopword_ratio * 4.0, 1.0) * 0.4
              + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2 AS quality
          FROM t)
        SELECT doc_id, source, quality, rk FROM (
          SELECT doc_id, source, quality,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY quality DESC, doc_id) AS BIGINT) AS rk
          FROM scored)
        WHERE rk <= 5""")),

    // #35 fingerprinting: content hash (order-insensitive normalization)
    // + rolling polynomial hash (order-sensitive)
    Q("text_fingerprint",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        Text.fingerprint(col("text")).as("fp"),
        Text.rollingHash(col("text")).as("rhash")),
      Some("""
        WITH t AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(lower(text),
              '[ \t\n\f\r\x0B]+', ' ', 'g'), '(^ )|( $)', '', 'g') AS norm
          FROM documents)
        SELECT doc_id, md5(norm) AS fp,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(regexp_extract_all(norm, '.'),
                c -> CAST(unicode(c) AS BIGINT))),
            (acc, c) -> (acc * 131 + c) % 1000000007) AS rhash
        FROM t""")),

    // #33b PII scrub: emails → <EMAIL>, long digit runs → <NUM>, with
    // per-doc counts. RE2-safe patterns make the oracle byte-identical.
    Q("text_scrub",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        Text.scrubPii(col("text")).as("scrubbed"),
        Text.emailCount(col("text")).cast("long").as("n_emails"),
        Text.longNumberCount(col("text")).cast("long").as("n_longnums")),
      Some(s"""
        SELECT doc_id,
          regexp_replace(regexp_replace(text, '${Text.EmailPattern}', '<EMAIL>', 'g'),
            '${Text.LongNumberPattern}', '<NUM>', 'g') AS scrubbed,
          CAST(len(regexp_extract_all(text, '${Text.EmailPattern}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(
            regexp_replace(text, '${Text.EmailPattern}', '<EMAIL>', 'g'),
            '${Text.LongNumberPattern}')) AS BIGINT) AS n_longnums
        FROM documents""")),

    // #32 language ID (stopword-profile heuristic). The oracle replays
    // the same profiles in the same tie-break order (first profile with
    // the max nonzero score wins; CJK char ratio short-circuits to zh).
    // The documents table's ground-truth `lang` column rides along.
    Q("text_langid",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        col("lang").as("lang_actual"),
        Text.langId(col("text")).as("lang_pred")),
      Some(langidOracleSql)),

    // #32e the langid QUALITY gate (accuracy, not just determinism):
    // the confusion rollup of predicted vs ground-truth language —
    // per (actual, predicted) cell counts plus the per-actual total,
    // all exact integers over a language²-bounded output. A heuristic
    // change that tanks accuracy shows up as mass moving off the
    // diagonal, which the per-doc gate alone renders invisible.
    Q("text_langid_eval",
      (s, dir) => docs(s, dir).select(
          col("lang").as("lang_actual"),
          Text.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_actual"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang_actual"), col("lang_pred"),
          col("n").cast("long").as("n")),
      Some(s"""
        WITH base AS ($langidOracleSql)
        SELECT lang_actual, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2""")),


    // #33c CCNet-style unigram log-prob: mean -ln p(token) under the
    // corpus unigram distribution — the corpus-relative quality signal
    // (perplexity-bucketing stand-in). The vocabulary is CAPPED (top-N
    // by count, token tie-break) and out-of-vocabulary tokens score at
    // the count-1 floor; the capped vocab joins back broadcast and the
    // corpus never shuffles. The cap here (16, vs the sf0.01 corpus's
    // 31 types) is deliberately small so the gate exercises the OOV
    // floor path; the oracle replays the cut and the floor exactly.
    Q("text_logprob",
      (s, dir) => Text.unigramLogProb(docs(s, dir), maxVocab = 16),
      Some("""
        WITH toks AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+')) AS t
          FROM documents),
        vocab AS (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab),
        kept AS (SELECT t, cnt FROM vocab ORDER BY cnt DESC, t LIMIT 16)
        SELECT doc_id,
          round(AVG(-ln(CAST(COALESCE(k.cnt, 1) AS DOUBLE) / total)), 6)
            AS logprob
        FROM toks LEFT JOIN kept k USING (t), tot
        GROUP BY doc_id""")),

    // #44c interpolated BIGRAM log-prob — the sequence-model upgrade of
    // text_logprob (Jelinek-Mercer: 0.75·P(t|prev) + 0.25·P_uni, first
    // token pure unigram, capped vocab AND capped bigram table so both
    // broadcasts stay bounded at corpus scale; a dropped rare pair
    // scores as unseen — λ·0 + the unigram leg). The oracle replays
    // the whole model: parallel-unnest token sequence, lag() context,
    // both capped tables, the interpolation arithmetic literal for
    // literal.
    Q("text_logprob2",
      (s, dir) => Text.bigramLogProb(docs(s, dir),
        maxVocab = 16, maxBigrams = 64),
      Some("""
        WITH parts AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+') AS p
          FROM documents),
        toks AS (
          SELECT doc_id,
            unnest(range(1, len(p) + 1)) AS pos,
            unnest(p) AS t
          FROM parts),
        seq AS (
          SELECT doc_id, pos, t,
            lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM toks),
        vocab AS (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab),
        kept AS (SELECT t, cnt FROM vocab ORDER BY cnt DESC, t LIMIT 16),
        keptbg AS (
          SELECT prev, t, COUNT(*) AS pc FROM seq WHERE prev IS NOT NULL
          GROUP BY 1, 2 ORDER BY pc DESC, prev, t LIMIT 64),
        ctx AS (
          SELECT prev, COUNT(*) AS cc FROM seq WHERE prev IS NOT NULL
          GROUP BY 1)
        SELECT doc_id,
          round(AVG(-ln(CASE WHEN s.prev IS NULL
            THEN CAST(COALESCE(k.cnt, 1) AS DOUBLE) / total
            ELSE 0.75 * (CAST(COALESCE(b.pc, 0) AS DOUBLE)
                   / CAST(c.cc AS DOUBLE))
               + 0.25 * (CAST(COALESCE(k.cnt, 1) AS DOUBLE) / total)
            END)), 6) AS logprob2
        FROM seq s
        LEFT JOIN kept k ON k.t = s.t
        LEFT JOIN keptbg b ON b.prev = s.prev AND b.t = s.t
        LEFT JOIN ctx c ON c.prev = s.prev
        CROSS JOIN tot
        GROUP BY doc_id""")),

    // #44d interpolated TRIGRAM log-prob — the ladder's top rung
    // (JM all the way down: pos 1 unigram, pos 2 the 0.75/0.25 bigram
    // mix, pos 3+ 0.6·P(t|p2,p1) + 0.3·P(t|p1) + 0.1·P_uni). All three
    // model tables capped (16/64/128 here, deliberately small so every
    // drop path fires at sf0.01) and broadcast; the oracle replays the
    // double-lag sequence, all three cuts, and the interpolation
    // literal for literal.
    Q("text_logprob3",
      (s, dir) => Text.trigramLogProb(docs(s, dir),
        maxVocab = 16, maxBigrams = 64, maxTrigrams = 128),
      Some("""
        WITH parts AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+') AS p
          FROM documents),
        toks AS (
          SELECT doc_id,
            unnest(range(1, len(p) + 1)) AS pos,
            unnest(p) AS t
          FROM parts),
        seq AS (
          SELECT doc_id, pos, t,
            lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS p1,
            lag(t, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS p2
          FROM toks),
        vocab AS (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab),
        kept AS (SELECT t, cnt FROM vocab ORDER BY cnt DESC, t LIMIT 16),
        keptbg AS (
          SELECT p1, t, COUNT(*) AS pc FROM seq WHERE p1 IS NOT NULL
          GROUP BY 1, 2 ORDER BY pc DESC, p1, t LIMIT 64),
        ctx2 AS (
          SELECT p1, COUNT(*) AS cc FROM seq WHERE p1 IS NOT NULL
          GROUP BY 1),
        kepttg AS (
          SELECT p2, p1, t, COUNT(*) AS tc FROM seq WHERE p2 IS NOT NULL
          GROUP BY 1, 2, 3 ORDER BY tc DESC, p2, p1, t LIMIT 128),
        ctx3 AS (
          SELECT p2, p1, COUNT(*) AS c3 FROM seq WHERE p2 IS NOT NULL
          GROUP BY 1, 2)
        SELECT doc_id,
          round(AVG(-ln(CASE
            WHEN s.p1 IS NULL
            THEN CAST(COALESCE(k.cnt, 1) AS DOUBLE) / total
            WHEN s.p2 IS NULL
            THEN 0.75 * (CAST(COALESCE(b.pc, 0) AS DOUBLE)
                   / CAST(c2.cc AS DOUBLE))
               + 0.25 * (CAST(COALESCE(k.cnt, 1) AS DOUBLE) / total)
            ELSE 0.6 * (CAST(COALESCE(g.tc, 0) AS DOUBLE)
                   / CAST(c3.c3 AS DOUBLE))
               + 0.3 * (CAST(COALESCE(b.pc, 0) AS DOUBLE)
                   / CAST(c2.cc AS DOUBLE))
               + 0.1 * (CAST(COALESCE(k.cnt, 1) AS DOUBLE) / total)
            END)), 6) AS logprob3
        FROM seq s
        LEFT JOIN kept k ON k.t = s.t
        LEFT JOIN keptbg b ON b.p1 = s.p1 AND b.t = s.t
        LEFT JOIN ctx2 c2 ON c2.p1 = s.p1
        LEFT JOIN kepttg g ON g.p2 = s.p2 AND g.p1 = s.p1 AND g.t = s.t
        LEFT JOIN ctx3 c3 ON c3.p2 = s.p2 AND c3.p1 = s.p1
        CROSS JOIN tot
        GROUP BY doc_id""")),

    // #44b CCNet's actual BUCKETING step on top of the logprob signal:
    // head/middle/tail by tercile cutoffs of the corpus distribution.
    // The cutoffs come from a bucket-bounded lquantize histogram
    // (plans.Quantiles: scores are on a 1e-6 grid, step 1e-3 → at most
    // a few thousand occupied buckets) walked cumulatively — NOT an
    // exact single-group percentile whose merged state is a map of
    // every distinct score. The ONE cutoff row broadcasts back over
    // the scored docs; assignment compares integer bucket indices
    // (floor(logprob/step), the same IEEE division on both engines),
    // so boundary docs land identically everywhere.
    Q("text_ppl_buckets",
      (s, dir) => {
        val step = 0.001
        val lp = Text.unigramLogProb(docs(s, dir), maxVocab = 16)
        val cuts = graft.plans.Quantiles.histQuantileBuckets(
          lp, col("logprob"), step, Seq("b1" -> (1.0 / 3), "b2" -> (2.0 / 3)))
        lp.crossJoin(broadcast(cuts))
          .select(col("doc_id"), col("logprob"),
            when(graft.plans.Quantiles.bucket(col("logprob"), step) <= col("b1"),
              lit("head"))
              .when(graft.plans.Quantiles.bucket(col("logprob"), step) <= col("b2"),
                lit("middle"))
              .otherwise(lit("tail")).as("bucket"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        vocab AS (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab),
        kept AS (SELECT t, cnt FROM vocab ORDER BY cnt DESC, t LIMIT 16),
        lp AS (
          SELECT doc_id,
            round(AVG(-ln(CAST(COALESCE(k.cnt, 1) AS DOUBLE) / total)), 6)
              AS logprob
          FROM toks LEFT JOIN kept k USING (t), tot
          GROUP BY doc_id),
        c AS ${graft.plans.Quantiles.bucketsSql("lp", "logprob", 0.001,
          Seq("b1" -> (1.0 / 3), "b2" -> (2.0 / 3)))}
        SELECT doc_id, logprob,
          CASE WHEN ${graft.plans.Quantiles.bucketSql("logprob", 0.001)} <= b1
                 THEN 'head'
               WHEN ${graft.plans.Quantiles.bucketSql("logprob", 0.001)} <= b2
                 THEN 'middle'
               ELSE 'tail' END AS bucket
        FROM lp, c""")),

    // #33b Gopher-style repetition signals: duplicate-word fraction and
    // top-bigram fraction — the stuffing/boilerplate-loop filters a
    // per-char quality score misses. Oracle replays tokenization, the
    // bigram slots, and the fractions.
    Q("text_repetition",
      (s, dir) => Text.repetitionTable(docs(s, dir)),
      Some("""
        WITH toks AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+') AS t
          FROM documents),
        words AS (SELECT doc_id, unnest(t) AS w FROM toks),
        wagg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
            COUNT(DISTINCT w) AS n_distinct
          FROM words GROUP BY 1),
        bg AS (
          SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 2), ' ') AS b
          FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2)),
        bcnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        bagg AS (
          SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram
          FROM bcnt GROUP BY 1)
        SELECT w.doc_id, w.n_tokens,
          1.0 - CAST(w.n_distinct AS DOUBLE) / CAST(w.n_tokens AS DOUBLE)
            AS dup_word_frac,
          coalesce(CAST(b.top_bigram AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE),
            0.0) AS top_bigram_frac
        FROM wagg w LEFT JOIN bagg b USING (doc_id)""")),

    // #34d Count-Min Sketch heavy hitters: the mergeable-frequency
    // sketch (d=4 salted hash rows × w=1024 counters, map-side combined
    // partial sketches) estimating the true top-20 tokens' counts. The
    // oracle replays every counter from the salted cross-engine hash;
    // lower_bounded (est >= exact) is the CMS invariant and holds
    // deterministically, overcount shows the d×w-vs-vocab-state cost.
    // #33b model-based quality filter: fastText-shaped hashing-trick
    // linear classifier with a pinned thousandths-integer weight table
    // — keep = sign of an EXACT integer numerator (float summation
    // order can never flip a near-zero decision), logit/prob surface
    // as doubles. No weight-table join: the weight is arithmetic of
    // the bucket, codegen'd per token.
    Q("text_quality_model",
      (s, dir) => graft.text.Text.qualityModel(docs(s, dir))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("logit"), col("prob"), col("keep")),
      Some {
        val h = graft.functions.XHash.h60Sql("'qm:' || t")
        val b = graft.text.Text.QmBuckets
        val bias = graft.text.Text.QmBiasNum
        s"""
        WITH toks AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        feats AS (
          SELECT doc_id,
            ($h % $b) * 2654435761 % 2000 - 1000 AS wi
          FROM toks),
        agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            sum(wi) + $bias * count(*) AS num
          FROM feats GROUP BY doc_id)
        SELECT doc_id, n_tokens,
          CAST(num AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000.0)
            AS logit,
          1.0 / (1.0 + exp(CAST(num AS DOUBLE) /
            (CAST(n_tokens AS DOUBLE) * -1000.0))) AS prob,
          num >= 0 AS keep
        FROM agg"""
      }),

    // #33d budget-fill curation: spend a token budget (half the corpus)
    // on the best documents by the row-68 model — greedy from the top
    // at centi-logit BUCKET granularity, the histogram-cutoff move
    // corpus_dsir uses (no global sort over docs; the running-sum
    // window sees ≤ 201 bucket rows). Everything is integer: the
    // bucket key ((num+1000n)·100 div 1000n — non-negative, so
    // truncation == floor in both engines), the per-bucket token sums,
    // the budget (total div 2), and the cumulative comparison; a doc
    // is selected iff its whole bucket fits the remaining budget.
    Q("corpus_token_budget",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val m = graft.text.Text.qualityModelRaw(docs(s, dir))
          .select(col("doc_id"), col("n_tokens"),
            expr("(num + 1000 * n_tokens) * 100 div (1000 * n_tokens)")
              .as("kc"))
        val budget = m.agg(expr("sum(n_tokens) div 2").as("budget"))
        val hist = m.groupBy(col("kc")).agg(sum(col("n_tokens")).as("bt"))
        val cum = hist.withColumn("cum",
          sum(col("bt")).over(Window.orderBy(col("kc").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        m.join(broadcast(cum.select(col("kc"), col("cum"))), Seq("kc"))
          .crossJoin(broadcast(budget))
          .select(col("doc_id"), col("n_tokens"), col("kc"),
            (col("cum") <= col("budget")).as("selected"))
      },
      Some {
        val h = graft.functions.XHash.h60Sql("'qm:' || t")
        val b = graft.text.Text.QmBuckets
        val bias = graft.text.Text.QmBiasNum
        s"""
        WITH toks AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        feats AS (
          SELECT doc_id, ($h % $b) * 2654435761 % 2000 - 1000 AS wi
          FROM toks),
        m AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            ((sum(wi) + $bias * count(*)) + 1000 * count(*)) * 100
              // (1000 * count(*)) AS kc
          FROM feats GROUP BY doc_id),
        budget AS (SELECT sum(n_tokens) // 2 AS budget FROM m),
        hist AS (SELECT kc, sum(n_tokens) AS bt FROM m GROUP BY kc),
        cum AS (
          SELECT kc, sum(bt) OVER (ORDER BY kc DESC
            ROWS UNBOUNDED PRECEDING) AS cum
          FROM hist)
        SELECT m.doc_id, m.n_tokens, CAST(m.kc AS BIGINT) AS kc,
          cum.cum <= budget.budget AS selected
        FROM m JOIN cum USING (kc) CROSS JOIN budget"""
      }),

    // #32d the dataset card: one-row corpus datasheet (docs, tokens,
    // chars, sources, langs, exact-dup docs) in a single pass — the
    // three count-distincts expand the scan 3× (Spark's Expand
    // operator), still one linear job with a single-row result; every
    // column is an exact integer.
    Q("corpus_stats",
      (s, dir) => docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text"))).cast("long").as("n_tokens"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(Text.fingerprint(col("text"))))
          .as("dup_docs")),
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+')))
            AS BIGINT) AS n_tokens,
          CAST(sum(length(text)) AS BIGINT) AS n_chars,
          CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(count(*) - count(DISTINCT
            md5(regexp_replace(regexp_replace(lower(text), '[ \t\n\f\r\x0B]+', ' ', 'g'), '(^ )|( $)', '', 'g')))
            AS BIGINT) AS dup_docs
        FROM documents""")),

    // #32c windowed skip-gram co-occurrence (the GloVe X_ij / word2vec
    // window statistic, one step past row 67's adjacency): ordered
    // pairs within 3 positions, 1/distance weights kept EXACT in
    // sixths ({6,3,2} — integer sums, no float accumulation). Output
    // vocab²-bounded, minCount-floored.
    Q("text_cooccurrence",
      (s, dir) => graft.text.Text.cooccurrence(docs(s, dir))
        .select(col("x"), col("y"), col("cooc").cast("long").as("cooc"),
          col("w6").cast("long").as("w6")),
      Some("""
        WITH toks AS (
          SELECT regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+') AS t
          FROM documents),
        p AS (
          SELECT t[i] AS x, t[i + d] AS y, d
          FROM toks,
            UNNEST(range(1, len(t))) u(i),
            UNNEST(range(1, least(3, len(t) - i) + 1)) v(d)
          WHERE len(t) >= 2)
        SELECT x, y, CAST(count(*) AS BIGINT) AS cooc,
          CAST(sum(6 // d) AS BIGINT) AS w6
        FROM p GROUP BY 1, 2 HAVING count(*) >= 5""")),

    // #33c model evaluation: the classifier (row 68) calibrated against
    // the heuristic score (row 33) — per logit-grid bin, how many docs
    // each policy keeps and how often they agree. Bins are EXACT
    // integer arithmetic over the model's integer numerator
    // (least((num+1000n)·10 div 2000n, 9) — all non-negative, so
    // truncation == floor in both engines); every output column is an
    // integer count, so the whole gate is float-free.
    Q("text_quality_eval",
      (s, dir) => {
        val m = graft.text.Text.qualityModelRaw(docs(s, dir))
        val h = docs(s, dir).select(col("doc_id"),
          (Text.qualityScore(col("text")) >= lit(0.3)).as("hk"))
        m.join(h, Seq("doc_id"))
          .select(
            least(expr("(num + 1000 * n_tokens) * 10 div (2000 * n_tokens)"),
              lit(9L)).as("bin"),
            (col("num") >= 0L).as("mk"), col("hk"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("mk"), 1L).otherwise(0L)).as("model_keeps"),
            sum(when(col("hk"), 1L).otherwise(0L)).as("heur_keeps"),
            sum(when(col("mk") === col("hk"), 1L).otherwise(0L)).as("agree"))
      },
      Some {
        val h = graft.functions.XHash.h60Sql("'qm:' || t")
        val b = graft.text.Text.QmBuckets
        val bias = graft.text.Text.QmBiasNum
        s"""
        WITH toks AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        feats AS (
          SELECT doc_id, ($h % $b) * 2654435761 % 2000 - 1000 AS wi
          FROM toks),
        agg AS (
          SELECT doc_id, count(*) AS n,
            sum(wi) + $bias * count(*) AS num
          FROM feats GROUP BY doc_id),
        heur AS (
          SELECT doc_id,
            (${DedupSql.qualitySql("text")} >= 0.3) AS hk
          FROM documents),
        binned AS (
          SELECT least(((num + 1000 * n) * 10) // (2000 * n), 9) AS bin,
            num >= 0 AS mk, hk
          FROM agg JOIN heur USING (doc_id))
        SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN mk THEN 1 ELSE 0 END) AS BIGINT)
            AS model_keeps,
          CAST(sum(CASE WHEN hk THEN 1 ELSE 0 END) AS BIGINT)
            AS heur_keeps,
          CAST(sum(CASE WHEN mk = hk THEN 1 ELSE 0 END) AS BIGINT)
            AS agree
        FROM binned GROUP BY bin"""
      }),

    // #32b PMI bigram collocations: the corpus-level n-gram statistic
    // vocabulary induction runs — adjacent-pair counts vs independence,
    // minCount-floored. Output is vocabulary²-shaped, never corpus-
    // shaped; unigram/totals join in as broadcasts.
    Q("text_collocations",
      (s, dir) => graft.text.Text.collocations(docs(s, dir))
        .select(col("x"), col("y"),
          col("pair_count").cast("long").as("pair_count"), col("pmi")),
      Some("""
        WITH toks AS (
          SELECT regexp_extract_all(lower(text), '[^ \t\n\f\r\x0B]+') AS t
          FROM documents),
        tot AS (
          SELECT CAST(sum(len(t)) AS DOUBLE) AS n_tok,
                 CAST(sum(greatest(len(t) - 1, 0)) AS DOUBLE) AS n_pairs
          FROM toks),
        uni AS (
          SELECT x, count(*) AS cx
          FROM (SELECT unnest(t) AS x FROM toks) GROUP BY x),
        bi AS (
          SELECT t[i] AS x, t[i+1] AS y, count(*) AS pair_count
          FROM toks, UNNEST(range(1, len(t))) u(i)
          WHERE len(t) >= 2
          GROUP BY 1, 2 HAVING count(*) >= 5)
        SELECT bi.x, bi.y, CAST(bi.pair_count AS BIGINT) AS pair_count,
          ln(CAST(bi.pair_count AS DOUBLE) * n_tok * n_tok /
             (n_pairs * CAST(ux.cx AS DOUBLE) * CAST(uy.cx AS DOUBLE)))
            AS pmi
        FROM bi
        JOIN uni ux ON bi.x = ux.x
        JOIN uni uy ON bi.y = uy.x
        CROSS JOIN tot""")),

    Q("text_heavy_hitters",
      (s, dir) => graft.text.Text.cmsHeavyHitters(docs(s, dir)),
      Some(s"""
        WITH toks AS (
          SELECT unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        ex AS (SELECT t, COUNT(*) AS exact FROM toks GROUP BY 1),
        top AS (SELECT t, exact FROM ex ORDER BY exact DESC, t LIMIT 20),
        occ AS (
          SELECT rr.r AS r,
            ${graft.functions.XHash.h60Sql("'cms' || rr.r || ':' || t")}
              % 1024 AS c
          FROM toks CROSS JOIN range(4) rr(r)),
        counters AS (SELECT r, c, COUNT(*) AS n FROM occ GROUP BY 1, 2),
        probes AS (
          SELECT top.t, top.exact, rr.r AS r,
            ${graft.functions.XHash.h60Sql("'cms' || rr.r || ':' || top.t")}
              % 1024 AS c
          FROM top CROSS JOIN range(4) rr(r))
        SELECT p.t, p.exact, MIN(ct.n) AS est,
          MIN(ct.n) - p.exact AS overcount,
          MIN(ct.n) >= p.exact AS lower_bounded
        FROM probes p JOIN counters ct ON p.r = ct.r AND p.c = ct.c
        GROUP BY 1, 2""")),

    // #100 HTML -> text extraction (SURVEY row 100): every real crawl
    // pipeline's stage 0, previously missing — the engine started from
    // clean text. A full page is synthesized around each doc's text as
    // a closed form of (doc_id, text) (Html.synthHtml: script/style/
    // nav/footer/comment chrome whose words must NOT survive, entity-
    // escaped body with &nbsp; spaces on every third doc, inline
    // <b>/<h1> wraps, a paragraph break), and Html.extractText inverts
    // it EXACTLY: drop chrome blocks with content, unwrap tags, decode
    // entities, collapse whitespace. The oracle replays the generator
    // FORMULA and never parses HTML — by construction the round trip
    // is the text column itself, so a no-op extractor (html passed
    // through) or a tag-only strip (script/nav words leak) hash-fails;
    // `title` proves real page bytes were consumed (its replay is the
    // generator's 'Doc ' || doc_id). Per-row codegen'd regex/replace
    // chains: no shuffle, no UDF — linear stage-0 shape at 100 TB.
    Q("text_extract_html",
      (s, dir) => {
        val html = graft.text.Html.synthHtml(col("doc_id"), col("text"))
        docs(s, dir).select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            graft.text.Html.titleOf(col("html")).as("title"),
            graft.text.Html.extractText(col("html")).as("text_extracted"))
      },
      Some("""
        SELECT doc_id, 'Doc ' || doc_id AS title,
          regexp_replace(regexp_replace(text, '[ \t\n\f\r\x0B]+', ' ', 'g'),
            '(^ )|( $)', '', 'g') AS text_extracted
        FROM documents"""))
  )
}
