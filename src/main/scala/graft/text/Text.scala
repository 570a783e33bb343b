package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines (SURVEY.md §2
 * rows 32-35). All pure Column expressions over built-ins — codegen'd,
 * shuffle-free, embarrassingly parallel at 100 TB (one pass over the
 * documents, no driver involvement).
 */
object Text {

  /** Lower-cased whitespace tokens. */
  /** ASCII whitespace, spelled as an explicit class. Java's `\s` and
    * RE2's `\s` disagree at `\x0B` (Java includes the vertical tab,
    * RE2 doesn't), and DuckDB's bare `trim()` strips UNICODE spaces
    * (U+00A0 etc.) where Spark's strips ASCII — both found by the
    * FuzzCorpus gate. Every tokenization/normalization both engines
    * replay uses this class, never `\s` and never bare `trim`. */
  val WsClass = " \\t\\n\\f\\r\\x0B"
  /** The same class for RE2/DuckDB SQL fragments (single-escaped). */
  val WsClassSql = " \\t\\n\\f\\r\\x0B"

  /** Whitespace tokenization: the non-whitespace RUNS of the lowered
    * text. Extraction (not split) so empty/whitespace-only text yields
    * ZERO tokens — `split` yields `[""]` there, which once leaked an
    * empty term into the partitionBy("term") lexicon write and made
    * every degenerate doc count one phantom token. The run extraction
    * is the native byte-scan kernel ([[graft.functions.WsTokens]] —
    * `regexp_extract_all` over the same class measured 1.5-2× on every
    * tokenize-heavy op at sf0.1); oracles keep the regexp rendering. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.WsTokens(
        org.apache.spark.sql.graft.bridge.expression(lower(text))))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /**
   * BPE-ish subword count: runs of letters, single digits, and single
   * punctuation marks each count as one token — the usual pre-tokenizer
   * regex shape, minus the learned merges.
   */
  def bpeCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"))

  /**
   * Pinned BPE merge table, applied in rank order. Modeled on the
   * opening ranks of GPT-2's public merges list (word-internal pairs
   * only — graft pre-tokenizes per word, so the byte-level
   * word-boundary markers don't apply). The TABLE is the spec: real
   * deployments swap in their tokenizer's full learned list; the gate
   * needs a fixed one both engines replay verbatim. Later ranks
   * compose over earlier merges ("th"+"e", "in"+"g", "an"+"d").
   */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "a" -> "n", "r" -> "e", "o" -> "n",
    "e" -> "r", "th" -> "e", "in" -> "g", "a" -> "t", "s" -> "t",
    "e" -> "n", "o" -> "r", "e" -> "s", "a" -> "l", "o" -> "u",
    "i" -> "s", "i" -> "t", "e" -> "d", "a" -> "r", "an" -> "d",
    "h" -> "e", "t" -> "o", "o" -> "f", "c" -> "o")

  /**
   * Replace passes per merge rank. One pattern occurrence consumes the
   * delimiter space the NEXT occurrence needs, so a single left-to-right
   * all-occurrence replace merges only every other pair of an
   * alternating chain; pass 2 merges the pairs pass 1 isolated (any
   * alternating chain resolves in two), and the third is headroom. A
   * FIXED count — not replace-to-fixpoint — so both engines run the
   * exact same expression and stay bit-identical.
   */
  val BpePasses = 3

  /** Word fence: U+0001 between words — no merge pair contains it, so
    * no merge can cross a word boundary. */
  private val BpeFence = "\u0001"

  /**
   * Real BPE tokenization against [[BpeMerges]]: lower-cased [a-z]+
   * words split to characters (space-delimited, words fenced by a
   * U+0001 sentinel no merge pair can cross), then each rank's pair
   * " a b " collapses to " ab " via [[BpePasses]] exact-string replaces
   * — all-occurrence, left-to-right, identical semantics in Spark's
   * `replace` and DuckDB's `replace`, so a SQL oracle replays the whole
   * merge cascade byte for byte. Pure codegen'd expressions: one linear
   * pass, no shuffle, no UDF — the 100 TB shape.
   */
  /** The fenced char-spaced initial BPE state: words split to chars,
    * space-delimited, fenced by U+0001 — shared by the merge APPLY path
    * ([[bpeTokens]]) and the merge LEARNING path ([[bpeTrain]]). */
  private[graft] def bpeInitFenced(text: Column): Column = {
    val words = regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))
    val spaced = transform(words,
      w => regexp_replace(w, lit("(.)"), lit("$1 ")))
    concat(lit(" "), array_join(spaced, BpeFence + " "))
  }

  def bpeTokens(text: Column): Column = {
    val merged = BpeMerges.foldLeft(bpeInitFenced(text)) { case (s, (a, b)) =>
      (1 to BpePasses).foldLeft(s)((cur, _) =>
        replace(cur, lit(s" $a $b "), lit(s" $a$b ")))
    }
    filter(split(trim(merged), " "),
      t => t =!= BpeFence && t =!= "")
  }

  /** Merge count [[bpeTrain]] learns (and its oracle unrolls). */
  val BpeTrainMerges = 10

  /**
   * BPE merge LEARNING — the training half of the tokenizer story
   * ([[bpeTokens]] applies a pinned table; this derives one): K rounds
   * of (count adjacent symbol pairs) → (take the most frequent, ties by
   * pair text) → (merge it corpus-wide via the same fixed-pass exact-
   * string replace the apply path uses). Returns the learned table:
   * (rank, lhs, rhs, pair_count).
   *
   * Scale shape: each round is ONE linear corpus pass (codegen split +
   * index explode) into a symbol-vocab²-bounded partial-agg count —
   * never a corpus-sized shuffle — plus a 1-row argmax collect; the
   * driver holds K scalars total, nothing else. The evolving corpus
   * state is localCheckpointed each round so round i+1 replays nothing
   * (on a cluster you'd checkpoint to durable storage); lineage stays
   * O(1) deep. The DuckDB oracle unrolls all K rounds as generated
   * CTEs over the identical state strings, so count, tie-break, and
   * merge application are pinned cross-engine at every round.
   */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", merges: Int = BpeTrainMerges,
      passes: Int = BpePasses): org.apache.spark.sql.DataFrame =
    bpeTrainFull(docs, textCol = textCol, merges = merges,
      passes = passes)._2

  /**
   * [[bpeTrain]] exposing BOTH halves: the final merged corpus state
   * (id, fenced symbol string — the trained tokenizer APPLIED to its
   * own training corpus, see text_bpe_train_apply) and the learned
   * merge table.
   */
  def bpeTrainFull(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      merges: Int = BpeTrainMerges, passes: Int = BpePasses)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val spark = docs.sparkSession
    var cur = docs.select(col(idCol).as("doc_id"),
        bpeInitFenced(col(textCol)).as("s"))
      .localCheckpoint()
    val learned = Seq.newBuilder[(Long, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < merges && !exhausted) {
      val sym = cur.select(split(trim(col("s")), " ").as("y"))
      val best = sym.where(size(col("y")) >= 2)
        .select(explode(sequence(lit(1), size(col("y")) - 1)).as("j"),
          col("y"))
        .select(element_at(col("y"), col("j")).as("a"),
          element_at(col("y"), col("j") + 1).as("b"))
        .where(col("a") =!= BpeFence && col("b") =!= BpeFence &&
          col("a") =!= "" && col("b") =!= "")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        learned += ((rank.toLong, a, b, c))
        val merged = (1 to passes).foldLeft(col("s"))((s, _) =>
          replace(s, lit(s" $a $b "), lit(s" $a$b ")))
        cur = cur.select(col("doc_id"), merged.as("s")).localCheckpoint()
      }
      rank += 1
    }
    import spark.implicits._
    (cur, learned.result().toDF("rank", "lhs", "rhs", "pair_count"))
  }

  /** The [[bpeTrain]] oracle: K unrolled rounds of pair-count → argmax
    * → 3-pass replace, generated so every constant (fence, pass count,
    * tie order) is shared with the Spark path. */
  /** The shared CTE chain of the training oracles: cur0 (fenced init,
    * doc_id carried) and `merges` unrolled rounds of pair-count →
    * argmax → fixed-pass replace. An exhausted round (no mergeable
    * pair, so best$i is empty) is a no-op — LEFT JOIN + coalesce keeps
    * cur_{i+1} = cur_i, mirroring the Scala early-exit; a CROSS JOIN
    * here would collapse the corpus state to zero rows on degenerate
    * corpora and silently diverge from the Spark side. Every round's
    * state is MATERIALIZED: round i+1 reads round i's state twice
    * (directly and through sym/pr/best), so an inlined chain doubles
    * its work per merge. */
  private def bpeTrainCtes(base: String, merges: Int, passes: Int): String = {
    val init = "(' ' || coalesce(array_to_string(list_transform(" +
      "regexp_extract_all(lower(text), '[a-z]+'), " +
      "w -> regexp_replace(w, '(.)', '\\1 ', 'g')), chr(1) || ' '), ''))"
    val rounds = (0 until merges).map { i =>
      val rep = (1 to passes).foldLeft(s"s$i")((s, _) =>
        s"replace($s, ' ' || bb.a || ' ' || bb.b || ' ', " +
          s"' ' || bb.a || bb.b || ' ')")
      s"""sym$i AS (SELECT string_split(trim(s$i), ' ') AS y FROM cur$i),
         |pr$i AS (
         |  SELECT y[j] AS a, y[j+1] AS b, count(*) AS c
         |  FROM sym$i, UNNEST(range(1, len(y))) u(j)
         |  WHERE len(y) >= 2 AND y[j] <> chr(1) AND y[j+1] <> chr(1)
         |    AND y[j] <> '' AND y[j+1] <> ''
         |  GROUP BY 1, 2),
         |best$i AS (SELECT a, b, c FROM pr$i ORDER BY c DESC, a, b LIMIT 1),
         |cur${i + 1} AS MATERIALIZED (
         |  SELECT doc_id, coalesce($rep, s$i) AS s${i + 1}
         |  FROM cur$i LEFT JOIN best$i bb ON TRUE)""".stripMargin
    }
    s"""WITH cur0 AS MATERIALIZED (SELECT doc_id, $init AS s0 FROM $base),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  def bpeTrainOracleSql(base: String = "documents",
      merges: Int = BpeTrainMerges, passes: Int = BpePasses): String = {
    val union = (0 until merges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, a AS lhs, b AS rhs, " +
        s"CAST(c AS BIGINT) AS pair_count FROM best$i")
      .mkString("\nUNION ALL\n")
    s"""${bpeTrainCtes(base, merges, passes)}
       |$union""".stripMargin
  }

  /** The text_bpe_train_apply oracle: the same unrolled chain, final
    * state tokenized per document (fences and empties dropped). */
  def bpeTrainApplyOracleSql(base: String = "documents",
      merges: Int = BpeTrainMerges, passes: Int = BpePasses): String =
    s"""${bpeTrainCtes(base, merges, passes)}
       |SELECT doc_id,
       |  CAST(len(list_filter(string_split(trim(s$merges), ' '),
       |    t -> t <> chr(1) AND t <> '')) AS BIGINT) AS learned_tokens
       |FROM cur$merges""".stripMargin

  /** BPE token count per document (see [[bpeTokens]]). */
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Punctuation chars per character. */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[.,;:!?]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  private val enStops = Seq("the", "a", "an", "and", "of", "to", "in", "is",
    "that", "it", "was", "for", "on", "with", "as")

  /** Count of tokens contained in a fixed vocabulary — the native
    * [[graft.functions.ArrayCountInSet]] (a filter() HOF here runs the
    * expression interpreter per TOKEN; §6.5). */
  private def countInSet(arr: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.ArrayCountInSet(
        org.apache.spark.sql.graft.bridge.expression(arr), words))

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    countInSet(t, enStops).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /**
   * Composite quality score in [0,1]: length saturation + stopword
   * presence - punctuation noise. Single-expression double math (no
   * reassociation) so an oracle computing the same formula is
   * bit-identical.
   */
  def qualityScore(text: Column): Column =
    least(length(text).cast("double") / lit(500.0), lit(1.0)) * lit(0.4) +
      least(stopwordRatio(text) * lit(4.0), lit(1.0)) * lit(0.4) +
      (lit(1.0) - least(punctRatio(text) * lit(10.0), lit(1.0))) * lit(0.2)

  /** Whitespace-normalize: collapse ASCII-whitespace runs of the
    * lowered text to single spaces, then strip the (at most one)
    * leading/trailing space. Explicit-class + regex-strip so both
    * engines agree on NBSP and \x0B (see [[WsClass]]); empty and
    * whitespace-only text normalize to "". */
  def wsNorm(text: Column): Column =
    regexp_replace(
      regexp_replace(lower(text), s"[$WsClass]+", " "), "(^ )|( $)", "")

  /** The [[wsNorm]] twin as a DuckDB SQL fragment. */
  def wsNormSql(text: String): String =
    s"regexp_replace(regexp_replace(lower($text), " +
      s"'[$WsClassSql]+', ' ', 'g'), '(^ )|( $$)', '', 'g')"

  /** Content fingerprint: md5 of the whitespace-normalized lower text. */
  def fingerprint(text: Column): Column = md5(wsNorm(text))

  /**
   * Rolling (polynomial) hash over the codepoints of the whitespace-
   * normalized text: acc = (acc * 131 + codepoint) mod 1e9+7.
   * Order-sensitive, unlike [[fingerprint]] — reordered documents hash
   * differently. Mod-prime (not wrapping int64) so the same formula is
   * computable in any SQL engine without overflow semantics differences.
   * Computed by the native [[graft.functions.RollingHash]] — the
   * aggregate()-over-split("") HOF formulation it replaces ran the
   * expression interpreter per CHARACTER (§6.5), a ~10× constant-factor
   * tax on the scan at corpus scale.
   */
  def rollingHash(text: Column): Column = {
    val norm = wsNorm(text)
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.RollingHash(
        org.apache.spark.sql.graft.bridge.expression(norm)))
  }

  /** Email pattern — RE2-safe (no lookaround/backrefs), so Java regex
    * (Spark) and RE2 (DuckDB et al.) match identically. */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
  /** Long digit runs (phone/account/SSN-ish) — 7+ digits. */
  val LongNumberPattern = "[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"

  /** Count of email-shaped substrings. */
  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))

  /** Count of long digit runs (after email removal, so an address's
    * numeric localpart isn't double-counted). */
  def longNumberCount(text: Column): Column =
    regexp_count(regexp_replace(text, EmailPattern, "<EMAIL>"),
      lit(LongNumberPattern))

  /**
   * PII scrub for corpus cleaning: replace email-shaped substrings with
   * `<EMAIL>`, then 7+-digit runs with `<NUM>`. Order matters (emails
   * first — their localparts may contain digit runs); patterns are
   * RE2-safe so any SQL oracle replays the rewrite byte-for-byte.
   */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      LongNumberPattern, "<NUM>")

  private val stopProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> enStops,
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un",
      "una", "es", "por", "con", "para"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "dans",
      "que", "pour", "qui", "sur"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu",
      "von", "mit", "nicht", "auf"))

  /**
   * Heuristic language ID: CJK character ratio decides zh; otherwise the
   * stopword profile with the most hits wins, 'und' when nothing hits.
   * (An n-gram-profile classifier in the fasttext style needs model
   * weights; stopword profiles are the standard dependency-free
   * approximation.)
   */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val n = greatest(size(t), lit(1)).cast("double")
    val cjk = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val scores = stopProfiles.map { case (lang, stops) =>
      lang -> (countInSet(t, stops).cast("double") / n)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val byLang = scores.foldLeft(when(lit(false), lit("und"))) {
      case (acc, (lang, sc)) => acc.when(sc === best && sc > 0, lit(lang))
    }
    when(cjk > 0.3, lit("zh")).otherwise(coalesce(byLang, lit("und")))
  }

  /**
   * CCNet-style unigram log-probability signal, per doc (Wenzek et al.
   * 2019 bucket by LM perplexity; the dependency-free analog scores each
   * doc by the mean -ln p(token) under the CORPUS unigram distribution).
   * Fluent text built from common tokens scores low; rare/garbled text
   * scores high — the usual head/middle/tail bucketing cut points apply
   * downstream.
   *
   * Two passes over the tokens are inherent to any corpus-relative
   * statistic: one builds the vocabulary, one scores the docs. The
   * vocabulary broadcast is HARD-BOUNDED by `maxVocab`: only the top-N
   * types by count survive (ties broken on the token itself, so the cut
   * is deterministic and replayable in any SQL engine); every
   * out-of-vocabulary token scores at the count-1 floor, -ln(1/total) —
   * the "seen once" probability, which is also what makes the statistic
   * well-defined for tokens unseen at scoring time. An UNCAPPED
   * vocabulary is not broadcastable at corpus scale: 100 TB of web text
   * holds hundreds of millions of unigram types (Heaps' law bounds the
   * growth rate, not the count, and garbled text inflates it further) —
   * past the 8 GB broadcast limit. CCNet itself scores against a capped
   * LM vocabulary, and 2^16 types (a few MB broadcast) is that shape.
   * The top-N select is a TakeOrderedAndProject: per-partition partial
   * top-N, one single-partition merge of executors×N short rows — no
   * full vocab sort anywhere. The corpus side still never shuffles: the
   * capped vocab joins back as a BROADCAST hash join (left, for OOV);
   * the only wide exchange is the per-doc mean on the doc id (map-side
   * combined). Rounded to the 1e-6 grid (the ANN-means convention) so an
   * external oracle's different double-summation order still matches.
   */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxVocab: Int = 1 << 16)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("t"))
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    // total token count over the FULL corpus (pre-cap): OOV probability
    // mass stays consistent with the in-vocab probabilities
    val total = vocab.agg(sum(col("cnt")).cast("double").as("total"))
    val kept = vocab.orderBy(col("cnt").desc, col("t")).limit(maxVocab)
    toks.join(broadcast(kept), Seq("t"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(avg(-log(
        coalesce(col("cnt").cast("double"), lit(1.0)) / col("total"))), 6)
        .as("logprob"))
  }

  /**
   * Interpolated BIGRAM log-prob scoring — the upgrade from
   * [[unigramLogProb]]'s bag-of-words to a real sequence model (the
   * CCNet/KenLM shape one interpolation order down): each token scores
   * -ln( 0.75·P(t|prev) + 0.25·P_uni(t) ), Jelinek-Mercer style, and
   * the doc is the mean. The conditional P(t|prev) = c(prev,t)/c(prev)
   * uses bigram-slot counts (so Σ_t P(t|prev) = 1 over the uncapped
   * table); a doc's first token, with no context, scores pure unigram.
   * The unigram leg keeps [[unigramLogProb]]'s capped-vocab + count-1
   * OOV floor, so the interpolated probability is never zero.
   *
   * Scale shape: THREE bounded broadcasts — the capped unigram vocab,
   * the capped bigram table (`maxBigrams` top pairs by count, ties on
   * the pair itself: a dropped rare pair scores as unseen, λ·0 + the
   * unigram leg — graceful, not wrong), and the context counts (≤ one
   * row per vocab type, same bound as the vocab). The corpus tokens
   * never shuffle for the joins; the wide exchanges are the per-doc
   * sequence window (lag over doc id) and the per-doc mean, which
   * share the doc-id partitioning. Rounded to 1e-6 like every
   * cross-engine double.
   */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxVocab: Int = 1 << 16, maxBigrams: Int = 1 << 20)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "t")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val seq = toks.withColumn("prev", lag(col("t"), 1).over(w))
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast("double").as("total"))
    val keptUni = vocab.orderBy(col("cnt").desc, col("t")).limit(maxVocab)
    val slots = seq.where(col("prev").isNotNull)
    val keptBi = slots.groupBy(col("prev"), col("t"))
      .agg(count(lit(1)).as("pc"))
      .orderBy(col("pc").desc, col("prev"), col("t")).limit(maxBigrams)
    val ctx = slots.groupBy(col("prev")).agg(count(lit(1)).as("cc"))
    val pUni = coalesce(col("cnt").cast("double"), lit(1.0)) / col("total")
    val p = when(col("prev").isNull, pUni)
      .otherwise(lit(0.75) *
        (coalesce(col("pc").cast("double"), lit(0.0)) / col("cc").cast("double")) +
        lit(0.25) * pUni)
    seq.join(broadcast(keptUni), Seq("t"), "left")
      .join(broadcast(keptBi), Seq("prev", "t"), "left")
      .join(broadcast(ctx), Seq("prev"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(avg(-log(p)), 6).as("logprob2"))
  }

  /**
   * Interpolated TRIGRAM log-prob — one rung past [[bigramLogProb]] on
   * the n-gram ladder (Jelinek-Mercer all the way down: position 1
   * scores pure unigram, position 2 the 0.75/0.25 bigram mix, position
   * 3+ the 0.6/0.3/0.1 trigram mix — each lower order the backoff of
   * the one above). All three model tables are CAPPED (top-N by count
   * with full-key tie-breaks) so the broadcasts stay bounded at any
   * corpus size; context counts are uncapped but vocab²-bounded. A
   * dropped rare trigram scores as unseen — λ·0 plus the lower-order
   * legs. Same scale shape as the bigram: the corpus never shuffles
   * except the per-doc lag window and final groupBy, which share one
   * doc partitioning.
   */
  def trigramLogProb(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxVocab: Int = 1 << 16, maxBigrams: Int = 1 << 20,
      maxTrigrams: Int = 1 << 22): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "t")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val seq = toks.withColumn("p1", lag(col("t"), 1).over(w))
      .withColumn("p2", lag(col("t"), 2).over(w))
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast("double").as("total"))
    val keptUni = vocab.orderBy(col("cnt").desc, col("t")).limit(maxVocab)
    val slots2 = seq.where(col("p1").isNotNull)
    val keptBi = slots2.groupBy(col("p1"), col("t"))
      .agg(count(lit(1)).as("pc"))
      .orderBy(col("pc").desc, col("p1"), col("t")).limit(maxBigrams)
    val ctx2 = slots2.groupBy(col("p1")).agg(count(lit(1)).as("cc"))
    val slots3 = seq.where(col("p2").isNotNull)
    val keptTri = slots3.groupBy(col("p2"), col("p1"), col("t"))
      .agg(count(lit(1)).as("tc"))
      .orderBy(col("tc").desc, col("p2"), col("p1"), col("t"))
      .limit(maxTrigrams)
    val ctx3 = slots3.groupBy(col("p2"), col("p1")).agg(count(lit(1)).as("c3"))
    val pUni = coalesce(col("cnt").cast("double"), lit(1.0)) / col("total")
    val pBi = lit(0.75) *
      (coalesce(col("pc").cast("double"), lit(0.0)) / col("cc").cast("double")) +
      lit(0.25) * pUni
    val pTri = lit(0.6) *
      (coalesce(col("tc").cast("double"), lit(0.0)) / col("c3").cast("double")) +
      lit(0.3) *
      (coalesce(col("pc").cast("double"), lit(0.0)) / col("cc").cast("double")) +
      lit(0.1) * pUni
    val p = when(col("p1").isNull, pUni)
      .when(col("p2").isNull, pBi)
      .otherwise(pTri)
    seq.join(broadcast(keptUni), Seq("t"), "left")
      .join(broadcast(keptBi), Seq("p1", "t"), "left")
      .join(broadcast(ctx2), Seq("p1"), "left")
      .join(broadcast(keptTri), Seq("p2", "p1", "t"), "left")
      .join(broadcast(ctx3), Seq("p2", "p1"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(avg(-log(p)), 6).as("logprob3"))
  }

  /**
   * Gopher-style REPETITION signals, per doc: `n_tokens`,
   * `dup_word_frac` (1 - distinct/total tokens) and `top_bigram_frac`
   * (occurrences of the most frequent bigram over all bigram slots) —
   * the filters that catch boilerplate loops and keyword stuffing that
   * per-char quality scores miss. Explode-based like
   * [[graft.dedup.Dedup.simhashTable]]: token and bigram rows aggregate
   * with map-side combine (two narrow shuffles on doc id, joined on the
   * partitioning they share), all expressions codegen'd — no HOF
   * interpreter in the per-token path. Docs with fewer than 2 tokens get
   * top_bigram_frac 0.
   */
  def repetitionTable(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      tokens(col(textCol)).as("toks"))
    val words = base
      .select(col("id"), explode(col("toks")).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"))
    val bigrams = base
      .where(size(col("toks")) >= 2)
      .select(col("id"),
        explode(sequence(lit(0), size(col("toks")) - 2)).as("i"),
        col("toks"))
      .select(col("id"),
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(2))).as("bg"))
      .groupBy(col("id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram"))
    words.join(bigrams, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        (lit(1.0) - col("n_distinct").cast("double") /
          col("n_tokens").cast("double")).as("dup_word_frac"),
        coalesce(col("top_bigram").cast("double") /
          col("n_bigrams").cast("double"), lit(0.0)).as("top_bigram_frac"))
  }

  /**
   * Count-Min Sketch token-frequency estimation (Cormode & Muthukrishnan
   * 2005) — the mergeable-frequency counterpart of the HLL cardinality
   * gate. The sketch is the d×w counter table: each token occurrence
   * increments one counter per salted hash row, built by ONE
   * `groupBy(row, counter)` whose map-side combine makes every
   * partition's contribution a partial sketch — the same
   * merge-anywhere property the streaming/multi-day story needs, with
   * d×w total rows regardless of corpus size. Estimates take the MIN
   * across rows of each token's counters (never below the true count —
   * the CMS invariant the gate asserts); hashing is the cross-engine
   * XHash with per-row salts so an oracle replays every counter
   * exactly. Returns the true top-k tokens with exact count, estimate,
   * and the estimate's overcount — the visible cost of sketching at
   * d×w instead of vocab-sized state.
   */
  def cmsHeavyHitters(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      d: Int = 4, w: Int = 1024, topK: Int = 20)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(explode(tokens(col(textCol))).as("t"))
    cmsEstimates(cmsCounters(toks, d, w), toks, d, w, topK)
  }

  /** The d-row salted bucket for one CMS hash row. */
  private def cmsBucket(r: Int, t: Column, w: Int): Column =
    pmod(graft.functions.XHash.h60(concat(lit(s"cms$r:"), t)),
      lit(w.toLong))

  /** The CMS itself: d×w counter rows from a single-column frame of
    * item occurrences (`t`). Works unchanged on a STREAMING frame —
    * the groupBy's partial aggregates are partial sketches, which is
    * the whole point of the structure. */
  def cmsCounters(toks: org.apache.spark.sql.DataFrame,
      d: Int = 4, w: Int = 1024): org.apache.spark.sql.DataFrame =
    toks.select(explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), cmsBucket(r, col("t"), w).as("c"))): _*))
        .as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))

  /** Probe a counter table for the true top-k items of `toks` (exact
    * counts computed here, batch side): min across hash rows, the
    * always-≥-exact estimate, and the overcount. */
  def cmsEstimates(counters: org.apache.spark.sql.DataFrame,
      toks: org.apache.spark.sql.DataFrame,
      d: Int = 4, w: Int = 1024, topK: Int = 20)
      : org.apache.spark.sql.DataFrame = {
    val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("exact"))
    val top = exact.orderBy(col("exact").desc, col("t")).limit(topK)
    val probes = top.select(col("t"), col("exact"),
        explode(array((0 until d).map(r =>
          struct(lit(r).as("r"), cmsBucket(r, col("t"), w).as("c"))): _*))
          .as("rc"))
      .select(col("t"), col("exact"),
        col("rc.r").as("r"), col("rc.c").as("c"))
    probes.join(broadcast(counters), Seq("r", "c"))
      .groupBy(col("t"), col("exact"))
      .agg(min(col("n")).as("est"))
      .select(col("t"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"),
        (col("est") >= col("exact")).as("lower_bounded"))
  }

  /** Hashed-feature dimension of [[qualityModel]]. */
  val QmBuckets = 64

  /** Numerator of the [[qualityModel]] bias over the /1000 weight
    * denominator (bias = QmBiasNum / 1000). */
  val QmBiasNum = 60L

  /** Shift that makes the per-token quality KEY's dividend
    * non-negative: [[qmWeightMilli]]'s floor is -1000 milli and the
    * bias adds [[QmBiasNum]] per token, so num/n >= -(1000 - bias).
    * A non-negative dividend is what makes Spark's truncate-toward-
    * zero integer division equal DuckDB's floor `//` in the canonical
    * election key — every election site must reference THIS constant,
    * never a literal. */
  val QmKeyShift: Long = 1000L - QmBiasNum

  /** The per-token quality election key over qualityModelRaw's
    * (num, n_tokens) columns — Spark side. */
  def qmKeyExpr: String =
    s"(num + $QmKeyShift * n_tokens) * 1000 div n_tokens"

  /** [[qmKeyExpr]]'s DuckDB replay over the given column names. */
  def qmKeySql(num: String, n: String): String =
    s"(($num + $QmKeyShift * $n) * 1000) // $n"

  /** Integer weight of one hashed feature bucket, in thousandths:
    * a pinned pseudo-random table over [-1000, 1000) derived from the
    * bucket index by Knuth multiplicative hashing. The TABLE is the
    * spec (like [[BpeMerges]]): a real deployment swaps in its trained
    * thousandths-quantized weights; the gate needs a fixed one both
    * engines replay verbatim. */
  def qmWeightMilli(bucket: Column): Column =
    bucket * lit(2654435761L) % lit(2000L) - lit(1000L)

  /**
   * fastText-shaped model-based quality filter: tokens hash into
   * [[QmBuckets]] feature buckets (hashing trick), each bucket carries
   * a pinned integer weight in thousandths, a document's logit is the
   * mean bucket weight plus bias, and keep = logit >= 0 — the linear
   * text classifier every production pipeline runs where the heuristic
   * [[qualityScore]] stops.
   *
   * The keep decision is INTEGER arithmetic end to end: thousandths
   * weights sum exactly (order-independent — a float sum's low bits
   * would depend on partition order and could flip keep on a
   * near-zero logit), bias folds in as `biasNum·n`, and the sign test
   * runs on the integer numerator. Only logit/prob surface as doubles.
   *
   * Scale shape: explode → per-token codegen arithmetic (the weight is
   * an expression OF the bucket — no weight-table join at all) →
   * groupBy(id) with map-side partial (sum, count); the only shuffle is
   * doc-count-sized narrow rows.
   */
  /** [[qualityModel]]'s exact integer core: (doc_id, n_tokens, num) —
    * the numerator every downstream decision (keep, calibration bin)
    * derives from without touching a float. */
  def qualityModelRaw(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = QmBuckets, biasNum: Long = QmBiasNum)
      : org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("t"))
    val wi = qmWeightMilli(
      graft.functions.XHash.h60(concat(lit("qm:"), col("t"))) %
        lit(buckets.toLong))
    tok.select(col("doc_id"), wi.as("wi"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wi")).as("sw"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sw") + lit(biasNum) * col("n_tokens")).as("num"))
  }

  def qualityModel(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = QmBuckets, biasNum: Long = QmBiasNum)
      : org.apache.spark.sql.DataFrame = {
    qualityModelRaw(docs, idCol, textCol, buckets, biasNum)
      .select(col("doc_id"), col("n_tokens"),
        (col("num").cast("double") /
          (col("n_tokens").cast("double") * lit(1000.0))).as("logit"),
        (lit(1.0) / (lit(1.0) + exp(col("num").cast("double") /
          (col("n_tokens").cast("double") * lit(-1000.0))))).as("prob"),
        (col("num") >= 0L).as("keep"))
  }

  /**
   * Windowed skip-gram co-occurrence counts — the statistic embedding
   * training (word2vec subsampling windows, GloVe's X_ij matrix)
   * preprocesses a corpus into: every ORDERED token pair within
   * `window` positions, with the conventional 1/distance weighting
   * kept EXACT by scaling to sixths (window=3 → weights {6,3,2} —
   * integer sums, no float accumulation order in the gate).
   *
   * Scale shape like [[collocations]]: a double index-explode (i, then
   * distance ≤ window) into one map-side-combined groupBy — the output
   * is vocab²-bounded and minCount-floored, never corpus-shaped.
   */
  def cooccurrence(docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", window: Int = 3, minCount: Long = 5L)
      : org.apache.spark.sql.DataFrame = {
    // sixths are exact only while every distance divides 6
    require(window >= 1 && window <= 3, "window must be in [1, 3]")
    val toks = docs.select(tokens(col(textCol)).as("ts"))
    toks.where(size(col("ts")) >= 2)
      .select(explode(sequence(lit(1), size(col("ts")) - 1)).as("i"),
        col("ts"))
      .select(col("ts"), col("i"),
        explode(sequence(lit(1),
          least(lit(window), size(col("ts")) - col("i")))).as("d"))
      .select(element_at(col("ts"), col("i")).as("x"),
        element_at(col("ts"), col("i") + col("d")).as("y"), col("d"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cooc"),
        sum(expr("6 div d")).as("w6"))
      .where(col("cooc") >= minCount)
  }

  /**
   * PMI-scored bigram collocations over the corpus — the n-gram
   * statistic vocabulary induction and tokenizer evaluation runs:
   * pmi(x,y) = ln(p(x,y) / (p(x)·p(y))) with p(x,y) = c_xy/pairs and
   * p(x) = c_x/tokens, reported for every adjacent token pair seen at
   * least `minCount` times.
   *
   * Scale shape: two explode+groupBy passes with map-side combine —
   * unigram counts (vocab-bounded output) and adjacent-pair counts
   * (vocab²-bounded, minCount-filtered) — then the pair table joins the
   * BROADCAST unigram table twice and the single-row totals once; no
   * corpus-sized shuffle at any point, and output is vocabulary-shaped,
   * not corpus-shaped. The PMI expression is the same
   * multiply-then-divide association both engines evaluate, so the
   * oracle matches to the double ulp.
   */
  def collocations(docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", minCount: Long = 5L)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("ts"))
    val totals = toks.agg(
      sum(size(col("ts"))).cast("double").as("n_tok"),
      sum(greatest(size(col("ts")) - 1, lit(0))).cast("double").as("n_pairs"))
    val uni = toks.select(explode(col("ts")).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("cx"))
    // the size>=2 guard is load-bearing: sequence(1, 0) DESCENDS in
    // Spark, it is not empty like DuckDB's range(1, 1)
    val bi = toks.where(size(col("ts")) >= 2)
      .select(explode(sequence(lit(1), size(col("ts")) - 1)).as("i"),
        col("ts"))
      .select(element_at(col("ts"), col("i")).as("x"),
        element_at(col("ts"), col("i") + 1).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("pair_count"))
      .where(col("pair_count") >= minCount)
    bi
      .join(broadcast(uni.select(col("x"), col("cx"))), Seq("x"))
      .join(broadcast(uni.select(col("x").as("y"), col("cx").as("cy"))),
        Seq("y"))
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("pair_count"),
        log(col("pair_count").cast("double") * col("n_tok") * col("n_tok") /
          (col("n_pairs") * col("cx").cast("double") *
            col("cy").cast("double"))).as("pmi"))
  }
}
