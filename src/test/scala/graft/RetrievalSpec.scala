package graft

import org.apache.spark.sql.functions._

import graft.text.Bm25

/** BM25 + RRF retrieval (SURVEY §2 rows 61-62). The scoring arithmetic
  * is pinned: a pure-Scala mirror must reproduce the Spark plan's
  * doubles BIT-FOR-BIT (the same claim the oracle makes cross-engine
  * with DuckDB — the gate's hash match is only as strong as this). */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  /** Scala mirror of one doc's BM25 score — the same association as
    * Bm25.score's Column tree, term-by-term, left-folded. */
  private def mirrorScore(tf: Map[String, Long], dl: Long, n: Long,
      sumdl: Long, df: Map[String, Long], terms: Seq[String]): Double =
    terms.map { t =>
      val nD = n.toDouble; val dfD = df(t).toDouble
      val tfD = tf(t).toDouble; val dlD = dl.toDouble
      val avgdl = sumdl.toDouble / nD
      val idfArg = ((nD - dfD) + 0.5) / (dfD + 0.5) + 1.0
      val idf = Bm25.lnSeriesDouble(idfArg)
      val num = tfD * (Bm25.K1 + 1.0)
      val norm = (1.0 - Bm25.B) + (Bm25.B * dlD) / avgdl
      val denom = tfD + Bm25.K1 * norm
      idf * (num / denom)
    }.reduceLeft(_ + _)

  test("lnSeries: zero at 1, strictly monotone, tracks ln for small x") {
    val xs = (1 to 400).map(i => 1.0 + i * 0.05) // 1.05 .. 21
    assert(Bm25.lnSeriesDouble(1.0) == 0.0)
    val vals = xs.map(Bm25.lnSeriesDouble)
    assert(vals.zip(vals.tail).forall { case (a, b) => a < b },
      "series must be strictly increasing")
    xs.filter(_ <= 20.0).foreach { x =>
      val rel = math.abs(Bm25.lnSeriesDouble(x) - math.log(x)) / math.log(x)
      assert(rel < 0.02, s"x=$x rel=$rel")
    }
  }

  test("lnSeries: Column evaluation == Scala mirror bit-for-bit") {
    val xs = Seq(1.0, 1.1, 1.2987, 2.0, 3.5, 7.25, 19.75, 333.0)
    val got = xs.toDF("x").select(Bm25.lnSeries(col("x")).as("v"))
      .collect().map(_.getDouble(0))
    got.zip(xs.map(Bm25.lnSeriesDouble)).foreach { case (g, e) =>
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(e), s"got $g expected $e")
    }
  }

  test("bm25 topK == hand-computed mirror on a tiny corpus, exact") {
    val terms = Seq("spark", "merge")
    val rows = Seq(
      (0L, "spark spark merge fast"),
      (1L, "merge merge merge"),
      (2L, "slow table scan"),
      (3L, "spark"),
      (4L, "spark merge spark merge spark merge spark merge"))
    val docs = rows.toDF("doc_id", "text")
    val got = Bm25.topK(docs, 5, terms).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val feats = rows.map { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      (id, toks.size.toLong,
        terms.map(t => t -> toks.count(_ == t).toLong).toMap)
    }
    val n = feats.size.toLong
    val sumdl = feats.map(_._2).sum
    val df = terms.map(t => t -> feats.count(_._3(t) > 0).toLong).toMap
    feats.foreach { case (id, dl, tf) =>
      val exp = mirrorScore(tf, dl, n, sumdl, df, terms)
      assert(java.lang.Double.doubleToLongBits(got(id)) ==
        java.lang.Double.doubleToLongBits(exp),
        s"doc $id got ${got(id)} expected $exp")
    }
    // ranking sanity: the all-hits doc with short length wins; the
    // no-hit doc scores exactly 0
    assert(got(2L) == 0.0)
    assert(got.maxBy(_._2)._1 == 4L)
  }

  test("rrfFuse: both-list ids fuse both ranks; one-list ids keep one") {
    val sparse = Seq((10L, 5.0), (11L, 4.0), (12L, 3.0))
      .toDF("doc_id", "score")
    val dense = Seq((11L, 0.9), (13L, 0.8)).toDF("vec_id", "cos")
    val out = RetrievalQueries.rrfFuse(sparse, dense, 10).collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        r.getDouble(3))).toSeq
    val byId = out.map(t => t._1 -> t).toMap
    // 11 is rank 2 sparse, rank 1 dense
    assert(byId(11L) == ((11L, Some(2), Some(1),
      1.0 / (Bm25.RrfK + 2).toDouble + 1.0 / (Bm25.RrfK + 1).toDouble)))
    // 10 only sparse (rank 1); 13 only dense (rank 2)
    assert(byId(10L) == ((10L, Some(1), None,
      1.0 / (Bm25.RrfK + 1).toDouble + 0.0)))
    assert(byId(13L) == ((13L, None, Some(2),
      1.0 / (Bm25.RrfK + 2).toDouble + 0.0)))
    // fusion order: the both-lists doc outranks every single-list doc
    assert(out.head._1 == 11L)
  }

  test("bm25 plan: TakeOrdered top-k, no sort-merge join, no corpus window") {
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
    val plan = Bm25.topK(docs, 25).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), "stats must broadcast")
    assert(!plan.contains("Window"), "bm25 itself must not rank via window")
  }

  test("bm25 topK on empty corpus returns no rows") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Bm25.topK(empty, 5).collect().isEmpty)
  }

  private def tmpDir(tag: String): String =
    tempDir(s"graft-$tag").toString

  test("lexicon serve == scan topK bit-for-bit on the matching population") {
    val terms = Seq("spark", "merge")
    val docs = Seq(
      (0L, "spark spark merge fast"),
      (1L, "merge merge merge"),
      (2L, "slow table scan"), // matches neither term
      (3L, "spark"),
      (4L, "spark merge spark merge spark merge spark merge"))
      .toDF("doc_id", "text")
    val root = tmpDir("lexicon")
    Bm25.buildLexicon(docs, root)
    val served = Bm25.bm25FromLexicon(spark, root, 10, terms).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scanned = Bm25.topK(docs, 10, terms).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the zero-match doc is invisible to a postings index...
    assert(!served.contains(2L) && scanned(2L) == 0.0)
    // ...and every matching doc scores identically, bit for bit
    assert(served.keySet == scanned.keySet - 2L)
    served.foreach { case (id, s) =>
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(scanned(id)), s"doc $id")
    }
  }

  test("lexicon vocab cap: out-of-vocab term contributes nothing") {
    val docs = Seq(
      (0L, "common common rare"),
      (1L, "common other"),
      (2L, "other other common"))
      .toDF("doc_id", "text")
    val root = tmpDir("lexcap")
    // cap=2 keeps {common(3), other(2)}; 'rare'(1) falls out
    Bm25.buildLexicon(docs, root, vocabCap = 2)
    val full = Bm25.bm25FromLexicon(spark, root, 10, Seq("common", "rare"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val commonOnly = Bm25.bm25FromLexicon(spark, root, 10, Seq("common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(full == commonOnly,
      "an out-of-vocab query term must change nothing")
  }

  test("incremental lexicon == full rebuild with old-frozen vocab, bit for bit") {
    val old = Seq(
      (1L, "spark merge fast table"),
      (2L, "merge merge slow"),
      (4L, "spark spark spark scan"),
      (5L, "table scan merge"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (0L, "spark merge merge novel"), // 'novel' is out of frozen vocab
      (3L, "merge table table"))
      .toDF("doc_id", "text")
    val inc = tmpDir("lexinc")
    Bm25.buildLexicon(old, inc)
    Bm25.appendLexicon(spark, batch, inc)
    val full = tmpDir("lexfull")
    Bm25.buildLexicon(old.union(batch), full, vocabDocs = Some(old))

    def slurp(root: String, part: String, cols: Seq[String]) =
      spark.read.parquet(if (part == "postings") s"$root/$part"
          else Bm25.summaryPath(spark, root, part))
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(slurp(inc, "stats", Seq("n", "sumdl")) ==
      slurp(full, "stats", Seq("n", "sumdl")))
    assert(slurp(inc, "df", Seq("term", "df")) ==
      slurp(full, "df", Seq("term", "df")))
    assert(slurp(inc, "postings", Seq("term", "doc_id", "dl", "tf")) ==
      slurp(full, "postings", Seq("term", "doc_id", "dl", "tf")))
    // positions append positionally: the batch's postings carry the
    // same sorted position arrays a full rebuild computes (r19)
    assert(slurp(inc, "postings", Seq("term", "doc_id", "pos")) ==
      slurp(full, "postings", Seq("term", "doc_id", "pos")))
    // and PHRASE serving over the append-maintained store == rebuild
    val pInc = Bm25.phraseFromLexicon(spark, inc, 10, Seq("merge", "table"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pFull = Bm25.phraseFromLexicon(spark, full, 10, Seq("merge", "table"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pInc == pFull && pInc.contains((3L, 1L)),
      s"phrase over incremental store diverged: $pInc vs $pFull")
    // and the served scores agree exactly
    val a = Bm25.bm25FromLexicon(spark, inc, 10, Seq("spark", "merge"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Bm25.bm25FromLexicon(spark, full, 10, Seq("spark", "merge"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("lexicon append lands a new summary version; the previous one stays readable") {
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text")
    val root = tmpDir("lexswap")
    Bm25.buildLexicon(docs, root)
    val before = Bm25.summaryPath(spark, root, "df")
    Bm25.appendLexicon(spark, Seq((2L, "beta beta")).toDF("doc_id", "text"), root)
    val after = Bm25.summaryPath(spark, root, "df")
    assert(after != before, "append must land a new version")
    def dfOf(p: String) = spark.read.parquet(p).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfOf(after)("beta") == 3L && dfOf(after)("alpha") == 1L)
    // an in-flight reader that resolved the old pointer still reads it
    assert(dfOf(before)("beta") == 2L)
  }

  // ---- known-item recall gates (SURVEY row 101) -----------------------

  private def hitsOf(df: org.apache.spark.sql.DataFrame,
      hitCol: String): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(when(col(hitCol), 1L).otherwise(0L))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** The fusion contract exactly as the gate states it. */
  private def fusionOk(hr: Long, hb: Long, hd: Long, n: Long): Boolean =
    hr >= hb && hr >= hd + 1 &&
      hr * 1000 >= RetrievalQueries.MinKiRrfPerMille * n

  test("known-item floors hold at sf0.001 and fusion strictly improves") {
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
    val embs = graft.sources.Sources.table(spark, sf001, "embeddings")
    val (n, hb) = hitsOf(RetrievalQueries.kiBm25Hits(docs), "hit")
    val (_, hd) = hitsOf(RetrievalQueries.kiDenseHits(embs), "hit")
    val (_, hr) = hitsOf(RetrievalQueries.kiRrfHits(docs, embs), "hit_rrf")
    assert(n == 20 && hb == 19 && hd == 19 && hr == 20,
      s"measured fixture drifted: n=$n bm25=$hb dense=$hd rrf=$hr")
    assert(hb * 1000 >= RetrievalQueries.MinKiBm25PerMille * n)
    assert(fusionOk(hr, hb, hd, n))
    // non-vacuity: BOTH legs are imperfect here and fusion strictly
    // beats both — the contract binds, it is not an equality pass
    assert(hb < n && hd < n && hr > hb && hr > hd)
  }

  test("fake fusions fail the contract; a ranking-destroying bug fails the floor") {
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
    val embs = graft.sources.Sources.table(spark, sf001, "embeddings")
    val (n, hb) = hitsOf(RetrievalQueries.kiBm25Hits(docs), "hit")
    val (_, hd) = hitsOf(RetrievalQueries.kiDenseHits(embs), "hit")
    // a "fusion" that silently returns one leg scores that leg's hits
    assert(!fusionOk(hb, hb, hd, n), "sparse-only fusion must fail")
    assert(!fusionOk(hd, hb, hd, n), "dense-only fusion must fail")
    // constant scores: ranking degenerates to id order — the
    // deterministic bug the plain bm25 gates cannot see
    val (_, hConst) = hitsOf(RetrievalQueries.kiBm25Scored(docs)
      .withColumn("score", lit(0.0))
      .transform(RetrievalQueries.kiRankOf(_, "doc_id")), "hit")
    assert(hConst * 1000 < RetrievalQueries.MinKiBm25PerMille * n,
      s"const-score arm scored $hConst/$n — must sit far below the floor")
    // idf dropped (score = raw tf sum): still a real ranking signal,
    // but the known-item floor is about the FULL scorer; document the
    // measured arm here so a future drop is visible
    assert(hConst <= 2)
  }

  test("batch-dot dense scoring == per-pair dot join, bit for bit") {
    import graft.ann.Ann
    val embs = graft.sources.Sources.table(spark, sf001, "embeddings")
    // the pre-kernel formulation, rebuilt verbatim: normalized sign
    // queries broadcast-joined per pair, ArrayDotProduct per row
    val sgn = transform(col("embedding"), (x, i) =>
      when(i < RetrievalQueries.KiDims,
        when(x > 0, lit(1.0)).otherwise(lit(-1.0))).otherwise(lit(0.0)))
    val q = Ann.withNormalized(
      embs.where(col("vec_id") % RetrievalQueries.KiMod ===
          RetrievalQueries.KiRes)
        .select(col("vec_id").as("qid"), sgn.as("embedding")),
      "embedding", "qn")
      .select(col("qid"), col("qn"))
    val joined = Ann.withNormalized(embs, "embedding", "vn")
      .select(col("vec_id"), col("vn"))
      .join(broadcast(q))
      .select(col("qid"), col("vec_id"),
        Ann.dot(col("vn"), col("qn")).as("s_old"))
    val kernel = RetrievalQueries.kiDenseScored(embs)
    assert(joined.count() == kernel.count())
    val drift = joined.join(kernel, Seq("qid", "vec_id"), "full_outer")
      .where(col("s_old").isNull || col("score").isNull ||
        col("s_old") =!= col("score"))
      .count()
    assert(drift == 0, s"$drift (qid, vec) scores drifted from the join form")
  }

  test("known-item target sample is corpus-independent (r14 verdict item 1)") {
    // a corpus whose planted population (id % 25 == 7: 400 ids here)
    // exceeds TargetCap: the sample must cap at exactly TargetCap,
    // stay inside the planted population, replay deterministically,
    // and resolve via TakeOrdered — never a global sort
    val ids = spark.range(0, 10000).toDF("vec_id")
      .withColumn("embedding",
        array((0 until 4).map(i => lit(0.5 + i * 0.1)): _*))
    val t = RetrievalQueries.kiTargets(ids, "vec_id")
    assert(t.count() == RetrievalQueries.TargetCap)
    assert(t.where(col("qid") % RetrievalQueries.KiMod =!=
      RetrievalQueries.KiRes).count() == 0)
    assert(t.collect().map(_.getLong(0)).sorted.toSeq ==
      RetrievalQueries.kiTargets(ids, "vec_id")
        .collect().map(_.getLong(0)).sorted.toSeq)
    assert(t.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    // and the dense leg's plan-carried query matrix obeys the cap on
    // this corpus (the require inside kiDenseScored enforces it; the
    // distinct qid count proves the posexplode fan-out is capped too)
    val scored = RetrievalQueries.kiDenseScored(ids)
    assert(scored.select(col("qid")).distinct().count() ==
      RetrievalQueries.TargetCap)
  }

  test("known-item queries derive deterministically from the target") {
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
    val posts = Bm25.postingsOf(docs)
    val qt = RetrievalQueries.kiQueryTerms(posts)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // every target contributes exactly KiTerms ranked 1..KiTerms
    val byQ = qt.groupBy(_._1)
    assert(byQ.nonEmpty && byQ.values.forall(
      _.map(_._3).sorted.toSeq == (1 to RetrievalQueries.KiTerms)))
    // and the rank-1 term really is the target's modal term
    val t7 = docs.where(col("doc_id") === 7L)
      .select(explode(graft.text.Text.tokens(col("text"))).as("t"))
      .groupBy(col("t")).count()
      .orderBy(col("count").desc, col("t")).collect().head.getString(0)
    assert(byQ(7L).find(_._3 == 1).get._2 == t7)
  }

  test("known-item gate from the persisted lexicon == scan path, corpus never opened (r14 item 3)") {
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
    // the gate's own cache-and-serve entry, driven through the registry
    val viaIndex = SparkEntry.queries("retrieval_recall_index")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val viaScan = SparkEntry.queries("retrieval_recall_bm25")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(viaIndex.toSeq == viaScan.toSeq,
      "lexicon-served ranks must reproduce the scan path exactly")
    // bit-equality of the SCORES between the two serving shapes
    val root = {
      // rebuild a throwaway gate lexicon so the plan is inspectable
      val p = tmpDir("kilex")
      val tgt = RetrievalQueries.kiTargets(docs, "doc_id")
      val targetDocs = docs.join(broadcast(tgt),
        col("doc_id") === col("qid")).select(col("doc_id"), col("text"))
      val qt = RetrievalQueries.kiQueryTerms(Bm25.postingsOf(targetDocs))
        .localCheckpoint() // queries arrive as literals in production
      Bm25.buildLexicon(docs, p,
        vocabTermsOverride = Some(qt.select(col("term"))))
      (p, qt)
    }
    val scored = RetrievalQueries.kiBm25ScoredFromLexicon(
      spark, root._1, root._2)
    val scan = RetrievalQueries.kiBm25Scored(docs)
    assert(scored.join(scan.withColumnRenamed("score", "s2"),
        Seq("qid", "doc_id"), "full_outer")
      .where(col("score").isNull || col("s2").isNull ||
        col("score") =!= col("s2")).count() == 0,
      "every (qid, doc) score must be bit-identical across serving shapes")
    // the quality floor now covers what serving READS: the scoring
    // plan must never open the corpus parquet
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "lexicon-served scoring must not open the corpus")
  }

  test("known-item gate over the INCREMENTAL lexicon == scan path (row 112)") {
    // build-from-old + append-new must reproduce the full-corpus
    // ranks exactly: postings for the query terms cover old ∪ new,
    // df/stats integer-add to the full-corpus values
    val viaInc = SparkEntry.queries("retrieval_recall_incremental")(
        spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val viaScan = SparkEntry.queries("retrieval_recall_bm25")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(viaInc.toSeq == viaScan.toSeq,
      "append-maintained lexicon must reproduce the scan path's ranks")
  }

  test("lexicon serving plan: term-partition pruning, corpus never opened") {
    val dir = sf001
    val root = tmpDir("lexplan")
    Bm25.buildLexicon(
      graft.sources.Sources.table(spark, dir, "documents"), root)
    val plan = Bm25.bm25FromLexicon(spark, root, 25)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "serving must not open the corpus")
    assert(plan.contains("PartitionFilters") && plan.contains("tkey#"),
      plan.take(1200))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("positional lexicon: phrase adjacency exact on a hand corpus; " +
      "serving plan bucket-prunes and never opens a corpus") {
    val docs = Seq(
      (0L, "value table value table x"), // two adjacent occurrences
      (1L, "value x table"),             // not adjacent
      (2L, "table value"),               // wrong order
      (3L, "x value table y value table value table")) // three
      .toDF("doc_id", "text")
    val root = tmpDir("lexphrase")
    Bm25.buildLexicon(docs, root)
    val df = Bm25.phraseFromLexicon(spark, root, 10)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((3L, 3L), (0L, 2L)),
      s"phrase_tf must count exact adjacency, got $got")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tkey#"),
      plan.take(1200))
    assert(!plan.toLowerCase.contains("text#"),
      "phrase serving must read postings, never document text")
  }

  test("proximity: within-window pairs counted from positions; the " +
      "boost is exactly score + 0.25·pairs") {
    val docs = Seq(
      (0L, "spark vector"),                      // |0−1| = 1 → 1 pair
      (1L, "spark a a a a a a a a vector"),      // |0−9| = 9 → 0 pairs
      (2L, "spark a vector spark"),              // (0,2),(3,2) → 2
      (3L, "spark only"))                        // one term only
      .toDF("doc_id", "text")
    val root = tmpDir("lexprox")
    Bm25.buildLexicon(docs, root)
    val rows = Bm25.proximityTopK(spark, root, 10).collect()
    val pairs = rows.map(r => (r.getLong(r.fieldIndex("doc_id")),
      r.getLong(r.fieldIndex("prox_pairs")))).toMap
    assert(pairs == Map(0L -> 1L, 1L -> 0L, 2L -> 2L, 3L -> 0L),
      s"pair counts wrong: $pairs")
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("boosted")) ==
        r.getDouble(r.fieldIndex("score")) +
          0.25 * r.getLong(r.fieldIndex("prox_pairs")),
        "boosted must be exactly score + ProxBoost·pairs")
    }
  }

  test("phrase gate falsification: an adjacency-blind scorer (all " +
      "terms present, constant score) fails the recall floor") {
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    val q = RetrievalQueries.kiPhraseQueries(d).localCheckpoint()
    val nQ = q.count()
    assert(nQ > 0, "no planted phrase queries — gate vacuous")
    // the degraded arm: candidates = docs CONTAINING all four planted
    // terms anywhere (score 1 each) — what phrase matching decays to
    // if adjacency is lost; ranks collapse to id order
    val toks = d.select(col("doc_id"),
      graft.text.Text.tokens(col("text")).as("t"))
    val cand = q.join(toks,
        (1 to RetrievalQueries.KiPhraseLen).map(i =>
          array_contains(col("t"), col(s"w$i"))).reduceLeft(_ && _))
      .select(col("qid"), col("doc_id"), lit(1L).as("score"))
    val hits = RetrievalQueries.kiRankOf(cand, "doc_id")
      .where(col("hit")).count()
    assert(hits * 1000 < RetrievalQueries.MinKiPhrasePerMille * nQ,
      s"adjacency-blind scoring scored $hits/$nQ — the floor would " +
        "not catch a broken positional path")
  }

  test("oov drift gate: novel-vocabulary batch flips retrain_due; a " +
      "same-vocabulary batch stays quiet (r18 item 5)") {
    def runOn(texts: Seq[(Long, String)]): org.apache.spark.sql.Row = {
      val dir = tmpDir("oovdrift")
      texts.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      SparkEntry.queries("retrieval_drift_oov")(spark, dir).head()
    }
    // ids 1,2 are the old slice (doc_id % 3 <> 0), id 3 the batch
    val loud = runOn(Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "zeta eta theta")))
    assert(loud.getAs[Boolean]("retrain_due") &&
      loud.getAs[Double]("oov_mass") == 1.0, s"novel batch: $loud")
    val quiet = runOn(Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "alpha delta beta")))
    assert(!quiet.getAs[Boolean]("retrain_due") &&
      quiet.getAs[Double]("oov_mass") == 0.0, s"same-vocab batch: $quiet")
  }

  test("pipeline recall gate is non-vacuous at the gate dir and hits " +
      "clear its floor (row 123)") {
    val rows = SparkEntry.queries("retrieval_recall_pipeline")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3)))
    val survived = rows.count(_._2)
    val hits = rows.count(_._3)
    assert(survived > 0,
      "zero targets survived curation — the floor is vacuous; widen " +
        "PipeTargetMod/PipeTargetCap")
    assert(rows.forall(_._4), "recall_ok must hold at the gate dir")
    assert(hits * 1000 >= RetrievalQueries.MinKiPipelinePerMille * survived)
    // a hit requires survival by construction
    assert(rows.forall(r => !r._3 || r._2))
  }
}
