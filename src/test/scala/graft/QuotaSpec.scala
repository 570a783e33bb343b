package graft

import org.apache.spark.sql.functions._

import graft.dedup.Corpus

/** Pins for pack-time per-source token quotas (SURVEY §2 row 91 /
  * VERDICT r12 item 4): exact inclusive-prefix admission, the quota
  * boundary, zero-admission sources, uncapped passthrough, and the
  * two-pass bucket formulation's equality with the naive single-window
  * prefix sum it replaces. */
class QuotaSpec extends SparkSpec {
  import spark.implicits._

  // token counts: doc text of n words → n tokens
  private def doc(id: Long, src: String, n: Int) =
    (id, src, Seq.fill(n)("w").mkString(" "))

  private lazy val docs = Seq(
    doc(1, "a", 5), doc(2, "a", 5), doc(3, "a", 5),   // a: 5,10,15 cum
    doc(4, "b", 8), doc(5, "b", 1),                   // b: 8,9
    doc(6, "c", 100),                                 // c: 100
    doc(7, "d", 3), doc(8, "d", 3)                    // d: uncapped
  ).toDF("doc_id", "source", "text")

  private def admitted(quotas: Seq[(String, Long)]): Set[Long] =
    Corpus.quotaAdmit(docs, quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("quota boundary is inclusive: cum == quota admits") {
    // a capped at 10: docs 1 (cum 5) and 2 (cum 10) admit, 3 (15) not
    assert(admitted(Seq("a" -> 10L, "b" -> 8L, "c" -> 50L)) ==
      Set(1L, 2L, 4L, 7L, 8L))
  }

  test("a first doc over quota admits nothing for its source") {
    // c's only doc is 100 tokens; quota 50 → source c empty
    val out = Corpus.quotaAdmit(docs, Seq("c" -> 50L))
      .where(col("source") === "c").count()
    assert(out == 0L)
  }

  test("quota -1 and unlisted sources are uncapped") {
    assert(admitted(Seq("a" -> -1L)) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("admission order is doc_id, not arrival order") {
    // same rows reversed: admission set unchanged
    val rev = docs.orderBy(col("doc_id").desc).localCheckpoint()
    val out = Corpus.quotaAdmit(rev, Seq("a" -> 10L))
      .where(col("source") === "a")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L))
  }

  test("two-pass bucket formulation equals the naive single window") {
    // 600 docs over 3 sources with varying sizes; ids far beyond the
    // bucket width so docs of one source spread across many buckets
    val big = spark.range(600).select(
      (col("id") * 977L).as("doc_id"),
      concat(lit("s"), col("id") % 3).as("source"),
      concat_ws(" ", transform(sequence(lit(1), col("id") % 7 + 1),
        _ => lit("w"))).as("text"))
      .localCheckpoint()
    val quotas = Seq("s0" -> 300L, "s1" -> 150L)
    val got = Corpus.quotaAdmit(big, quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // naive reference: one window per source
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val q = quotas.foldLeft(lit(-1L): org.apache.spark.sql.Column) {
      case (acc, (s0, lim)) =>
        when(col("source") === s0, lit(lim)).otherwise(acc)
    }
    val want = big
      .withColumn("cum", sum(size(split(trim(lower(col("text"))), "\\s+"))
        .cast("long")).over(w))
      .where(q < 0L || col("cum") <= q)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty && got.size < 600)
  }

  test("default cap binds unlisted keys; explicit -1 escapes it") {
    // default 9: a admits only doc1 (cum 5, then 10 > 9), b admits both
    // (cum 8, 9 — inclusive boundary on the DEFAULT cap), d admits both
    // (cum 3, 6); c is explicitly -1 so the 100-token doc passes.
    val got = Corpus.quotaAdmit(docs, Seq("c" -> -1L), default = 9L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L, 5L, 6L, 7L, 8L))
  }

  test("planner-chosen offsets join (broadcastOffsets=false) is identical") {
    val big = spark.range(600).select(
      (col("id") * 977L).as("doc_id"),
      concat(lit("s"), col("id") % 5).as("source"),
      concat_ws(" ", transform(sequence(lit(1), col("id") % 7 + 1),
        _ => lit("w"))).as("text"))
      .localCheckpoint()
    val quotas = Seq("s0" -> 300L, "s1" -> -1L)
    def run(bc: Boolean) =
      Corpus.quotaAdmit(big, quotas, default = 150L, broadcastOffsets = bc)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (forced, chosen) = (run(true), run(false))
    assert(forced == chosen && chosen.nonEmpty && chosen.size < 600)
  }

  test("writeShardsQuota members carry source and respect quotas") {
    val root = tempDir("graft-quota-spec").toString
    Corpus.writeShardsQuota(docs, root, Seq("a" -> 10L, "c" -> 50L),
      seqLen = 4, shards = 2)
    val members = spark.read.parquet(s"$root/members")
    assert(members.columns.contains("source"))
    val bySrc = members.groupBy("source")
      .agg(sum("n_toks").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("a") == 10L)       // exactly at quota
    assert(!bySrc.contains("c"))    // zero-admission source absent
    assert(bySrc("b") == 9L && bySrc("d") == 6L) // uncapped intact
    graft.tools.LocalFs.deleteRec(java.nio.file.Paths.get(root))
  }

  test("topic quota: cap formula, per-cell respect, both arms non-vacuous") {
    // fill columns: cell, cap, raw_docs, raw_toks, admitted_docs,
    // admitted_toks, rejected_toks, fill_millionths, binding
    val fill = Registry.queries("corpus_topic_fill")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getBoolean(8)))
    val cap = fill.head._2
    assert(fill.forall(_._2 == cap), "cap must be one global constant")
    // the balance contract: no topic's admitted tokens exceed the cap,
    // and fill rate (integer millionths) never exceeds 1.0
    assert(fill.forall(r => r._6 <= cap && r._8 <= 1000000L))
    // both arms non-vacuous at gate scale: heavy topics bind, light
    // topics keep slack (the 1.05×-fair-share measurement)
    assert(fill.count(_._9) >= 2, "no binding topic — cap too loose")
    assert(fill.count(!_._9) >= 2, "every topic binds — cap too tight")
    // binding ⇔ rejection (raw > cap forces a drop; raw ≤ cap drops none)
    assert(fill.forall(r => (r._7 > 0) == r._9))
    // cap formula replay: 21·total/(20·nlist) off the same corpus stats
    val total = fill.map(_._4).sum
    val nl = graft.ann.Ann.nlistFor(
      graft.sources.Sources.table(spark, sf001, "embeddings").count())
    assert(cap == math.max(1L,
      AnnQueries.TopicCapNum * total / (AnnQueries.TopicCapDen * nl)))
    assert(fill.length <= nl && fill.length >= 2)
    // the admitted-doc view agrees with the fill accounting
    val adm = Registry.queries("corpus_topic_quota")(spark, sf001)
      .groupBy(col("cell")).agg(sum(col("n_toks")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    fill.foreach { r =>
      assert(adm.getOrElse(r._1, 0L) == r._6, s"cell ${r._1} disagrees")
    }
  }

  test("quotaAdmitWith under a constant cap column == quotaAdmit") {
    val byChain = Corpus.quotaAdmit(docs, Seq.empty, default = 9L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byCol = Corpus.quotaAdmitWith(docs,
        org.apache.spark.sql.functions.lit(9L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byChain == byCol && byCol.nonEmpty && byCol.size < 8)
  }

  test("repetition plan: all four regimes, integer arithmetic, budget") {
    // row: source, toks, qn, share_micro, target, full_epochs,
    // resid_toks, planned_toks
    val plan = Registry.queries("corpus_repetition_plan")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    val max = TextQueries.RepMaxEpochs
    // the four measured regimes are all non-vacuous at gate scale
    assert(plan.exists(p => p._6 == max && p._7 == 0L), "no saturated src")
    assert(plan.exists(p => p._6 >= 1L && p._6 < max && p._7 > 0L),
      "no mid-epoch source with a residual")
    assert(plan.exists(p => p._6 == 0L && p._7 > 0L), "no partial-only")
    assert(plan.exists(_._4 == 0L), "no excluded (below-mean) source")
    // integer identities and bounds
    val total = plan.map(_._2).sum
    plan.foreach { p =>
      assert(p._6 >= 0L && p._6 <= max && p._7 >= 0L && p._7 <= p._2)
      assert(p._8 == p._6 * p._2 + p._7)
      if (p._6 < max) assert(p._8 == math.min(p._5, p._6 * p._2 + p._7))
      assert(p._4 >= 0L && p._4 <= 1000000L)
    }
    assert(plan.map(_._4).sum <= 1000000L, "shares exceed the mass")
    assert(plan.map(_._8).sum <= TextQueries.RepBudgetMult * total)
    // the executed multiset agrees with the plan exactly
    val up = Registry.queries("corpus_upsample")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(up.distinct.length == up.length, "(doc, epoch) not unique")
    val d = graft.sources.Sources.table(spark, sf001, "documents")
      .select(col("doc_id"), col("source"),
        graft.text.Text.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val srcOf = d.map(r => r._1 -> r._2).toMap
    val bySrc = up.groupBy(r => srcOf(r._1))
    plan.foreach { p =>
      val rows = bySrc.getOrElse(p._1, Array.empty[(Long, Long, Long)])
      // the partial epoch is the MAXIMAL whole-doc prefix <= resid:
      // replay it doc by doc in id order
      val prefix = d.filter(_._2 == p._1).sortBy(_._1).map(_._3)
        .scanLeft(0L)(_ + _).drop(1).takeWhile(_ <= p._7)
      val expectExec = p._6 * p._2 + prefix.lastOption.getOrElse(0L)
      assert(rows.map(_._3).sum == expectExec,
        s"${p._1}: executed tokens != full epochs + maximal prefix")
      assert(rows.map(_._3).sum <= p._8, s"${p._1}: executed over plan")
      // epochs are contiguous from 1; the partial epoch is full+1
      if (rows.nonEmpty)
        assert(rows.map(_._2).max ==
          p._6 + (if (prefix.nonEmpty) 1L else 0L))
    }
  }

  test("mix solver (row 104): water-filling invariants, two-sided split") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
    val weights = (0 until 20).map(i => s"src$i" -> ((i % 4) + 1L)).toMap
    val out = graft.dedup.Corpus.mixSolve(docs, weights)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(out.length == 20)
    val totalAvail = out.map(_._3).sum
    val budget = totalAvail * 9 / 10
    // feasibility: never over budget, never over availability
    assert(out.map(_._4).sum <= budget)
    out.foreach { case (s, _, avail, alloc, _) =>
      assert(alloc <= avail, s"$s allocated past availability") }
    // saturated sources take EXACTLY their availability
    out.filter(_._5).foreach { case (s, _, avail, alloc, _) =>
      assert(alloc == avail, s"saturated $s must take all of its supply") }
    // the decision splits — both arms populated
    val unsat = out.filterNot(_._5)
    assert(unsat.nonEmpty && unsat.length < out.length,
      s"degenerate solve: ${unsat.length} of ${out.length} unsaturated")
    // floor rounding loses less than one token per unsaturated source
    assert(budget - out.map(_._4).sum < unsat.length,
      "unsaturated pool must be spent up to floor rounding")
    // unsaturated allocations stay weight-proportional (cross-multiplied
    // floor bound: |alloc_p·w_q − alloc_q·w_p| < w_p + w_q)
    for ((_, wp, _, ap, _) <- unsat; (_, wq, _, aq, _) <- unsat)
      assert(math.abs(ap * wq - aq * wp) < wp + wq,
        "unsaturated shares drifted from the weight ratios")
    // execution: admitted ≤ alloc, shortfall bounded by one document
    val maxDoc = docs.select(
        max(graft.text.Text.tokenCount(col("text")).cast("long")))
      .head.getLong(0)
    val exec = Registry.queries("corpus_mix_solve_exec")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    exec.foreach { case (s, alloc, admitted) =>
      assert(admitted <= alloc, s"$s admitted past its cap")
      assert(alloc - admitted <= maxDoc,
        s"$s left more than one document's tokens unfilled")
    }
    // config error: an unweighted source fails loudly, not silently
    val e = intercept[Exception](graft.dedup.Corpus.mixSolve(docs,
      weights - "src0").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("unweighted source")))
  }

  test("mix solver with repetition (row 111): epoch caps bind, spill preserves ratios, exec fills") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
    val weights = (0 until 20).map(i => s"src$i" -> ((i % 4) + 1L)).toMap
    val out = graft.dedup.Corpus.mixSolveRepeat(docs, weights,
        budgetNum = 28L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getLong(6),
        r.getLong(7)))
    assert(out.length == 20)
    val budget = out.map(_._3).sum * 28 / 10
    // feasibility against the REPEATED supplies
    assert(out.map(_._5).sum <= budget)
    out.foreach { case (s, _, avail, sup, alloc, sat, fe, rt) =>
      assert(sup == avail * 4, s"$s supply must be avail*maxEpochs")
      assert(alloc <= sup, s"$s allocated past 4 epochs")
      assert(alloc == fe * avail + rt && rt >= 0 && (rt < avail || avail == 0),
        s"$s epoch split must partition alloc")
      if (sat) assert(alloc == sup && fe == 4 && rt == 0,
        s"saturated $s must take exactly its 4 epochs")
    }
    // genuinely split: caps bind for some, others stay proportional
    val sat = out.filter(_._6)
    assert(sat.nonEmpty && sat.length < out.length,
      s"degenerate repeat solve: ${sat.length}/20 saturated")
    // unsaturated allocations stay weight-proportional
    val unsat = out.filterNot(_._6)
    for ((_, wp, _, _, ap, _, _, _) <- unsat;
         (_, wq, _, _, aq, _, _, _) <- unsat)
      assert(math.abs(ap * wq - aq * wp) < wp + wq,
        "unsaturated shares drifted from the weight ratios")
    // budget above the UNIQUE corpus is the point: total allocation
    // exceeds what zero repetition could ever deliver
    assert(out.map(_._5).sum > out.map(_._3).sum,
      "the repeated solve must allocate beyond one epoch of the corpus")
    // execution fills each source's plan up to one-document slack
    val exec = Registry.queries("corpus_mix_solve_repeat_exec")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val maxDoc = docs.select(
        max(graft.text.Text.tokenCount(col("text")).cast("long")))
      .head.getLong(0)
    exec.foreach { case (s, alloc, executed) =>
      assert(executed <= alloc, s"$s executed past its plan")
      assert(alloc - executed <= maxDoc,
        s"$s left more than one document's tokens unfilled")
    }
    // an out-of-range epoch cap is a config error
    val e = intercept[IllegalArgumentException](
      graft.dedup.Corpus.mixSolveRepeat(docs, weights, maxEpochs = 0L))
    assert(e.getMessage.contains("maxEpochs"))
  }

  test("packed repetition (row 114): manifest copy count == the executed plan, replayed independently") {
    import org.apache.spark.sql.functions._
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    val weights = (0 until 20).map(i => s"src$i" -> ((i % 4) + 1L)).toMap
    val plan = graft.dedup.Corpus.mixSolveRepeat(d, weights,
        budgetNum = 28L)
      .collect().map(r => r.getString(0) -> (r.getLong(6), r.getLong(7)))
      .toMap // source -> (full_epochs, resid_toks)
    // driver replay of the copy population: full epochs × source size
    // plus the maximal id-order prefix fitting resid_toks
    val rows = d.select(col("doc_id"), col("source"),
        graft.text.Text.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = plan.map { case (src, (fe, resid)) =>
      val srcRows = rows.filter(_._2 == src).sortBy(_._1)
      val prefix = srcRows.map(_._3).scanLeft(0L)(_ + _).drop(1)
        .takeWhile(_ <= resid).length
      fe * srcRows.length + (if (resid > 0) prefix else 0)
    }.sum
    val manifest = Registry.queries("corpus_pack_repeat")(spark, sf001)
    val packed = manifest.agg(sum(col("n_docs"))).head.getLong(0)
    assert(packed == expected,
      s"manifest packs $packed copies, the plan executes $expected")
    // and the artifact is deterministic: a second run is byte-equal
    assert(manifest.collect().map(_.toSeq).toSet ==
      Registry.queries("corpus_pack_repeat")(spark, sf001)
        .collect().map(_.toSeq).toSet)
  }

  test("copy-id stride (r15 verdict): no collisions at epochCap=9, where the old stride 8 merged copies") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // consecutive doc_ids, one source, budget = the full 9-epoch
    // supply. Collision needs an epoch SPAN ≥ the stride: with stride
    // 8 and epochs 1..9, doc i's epoch 9 is 8i+9 = 8(i+1)+1 — doc
    // i+1's epoch 1 — so 5 of the 6 adjacent-doc pairs merge a
    // training copy SILENTLY (identical cid, identical text: no gate
    // downstream can tell). maxEpochs ≤ 8 was safe with stride 8 only
    // by luck of the span; the solver's legal range goes to 16.
    // Stride 32 keeps every doc's copy-id range disjoint for the
    // whole [1, 16] range.
    val docs = (0L until 6L).map(i => (i, "src0", "w " * 40))
      .toDF("doc_id", "source", "text")
    val plan = graft.dedup.Corpus.mixSolveRepeat(docs,
        Map("src0" -> 1L), budgetNum = 90L, budgetDen = 10L,
        maxEpochs = 9L)
      .select(col("source"), col("full_epochs"), col("resid_toks"))
    val copies = docs.join(plan, Seq("source"))
      .where(col("full_epochs") >= 1L)
      .select(col("doc_id"),
        explode(sequence(lit(1L), col("full_epochs"))).as("epoch"))
    val n = copies.count()
    assert(n == 54L, s"expected 6 docs x 9 epochs, got $n")
    // the shipped stride: all copy ids distinct
    val stride = graft.dedup.Corpus.CopyIdStride
    assert(copies.select(col("doc_id") * stride + col("epoch"))
      .distinct().count() == n)
    // the OLD stride 8: the same population collides (this arm fails
    // on the pre-fix arithmetic)
    assert(copies.select(col("doc_id") * 8L + col("epoch"))
      .distinct().count() == n - 5,
      "stride 8 should merge the 5 adjacent-doc copy pairs at epochCap=9")
    // and the invariant is enforced where epochs are minted: a stride
    // that cannot cover maxEpochs+1 is rejected loudly (documented on
    // Corpus.CopyIdStride; maxEpochs > 16 already rejected)
    val e = intercept[IllegalArgumentException](
      graft.dedup.Corpus.mixSolveRepeat(docs, Map("src0" -> 1L),
        maxEpochs = 17L))
    assert(e.getMessage.contains("maxEpochs"))
  }

  test("language quotas (row 116): binding cap rejects docs, uncapped bucket passes through, es arm on a Spanish fixture") {
    // --- corpus arms at sf0.001 (same generator as the gate data):
    // lang_pred collapses to {en, und} on the synthetic text (see
    // LangQuotas' honest note); a cap sized to bind on en must reject,
    // and und (uncapped) must pass through to the token.
    val d = graft.sources.Sources.table(spark, sf001, "documents")
      .withColumn("lang_pred", graft.text.Text.langId(col("text")))
    val totals = d.groupBy(col("lang_pred"))
      .agg(sum(graft.text.Text.tokenCount(col("text")).cast("long"))
        .as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals.getOrElse("en", 0L) > 300L,
      s"fixture assumption broke: en bucket too small ($totals)")
    val adm = Corpus.quotaAdmit(d, Seq("en" -> 300L),
        srcCol = "lang_pred")
      .groupBy(col("lang_pred"))
      .agg(sum(graft.text.Text.tokenCount(col("text")).cast("long"))
        .as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(adm("en") <= 300L && adm("en") < totals("en"),
      s"binding en cap must reject tokens: $adm vs $totals")
    for ((l, t) <- totals if l != "en")
      assert(adm.get(l).contains(t), s"uncapped $l must pass whole")
    // --- the es arm, pinned on text the classifier genuinely calls
    // Spanish (pure es-profile stopwords, none shared with en's):
    val es = (1L to 6L).map(i => (i, "x",
      Seq.fill(10)("el la los las de que y un una por con para")
        .mkString(" ")))
      .toDF("doc_id", "source", "text")
      .withColumn("lang_pred", graft.text.Text.langId(col("text")))
    assert(es.where(col("lang_pred") =!= "es").count() == 0,
      "fixture must classify as es")
    // 6 docs x 120 tokens; cap 300 admits exactly the first 2 by id
    val esAdm = Corpus.quotaAdmit(es, Seq("es" -> 300L),
        srcCol = "lang_pred")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(esAdm == Set(1L, 2L),
      s"es cap must admit the doc_id-ordered prefix, got $esAdm")
  }

  test("mix solver: user-weight overflow armor (ADVICE r14)") {
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
    val weights = (0 until 20).map(i => s"src$i" -> ((i % 4) + 1L)).toMap
    def solve(w: Map[String, Long]) =
      graft.dedup.Corpus.mixSolve(docs, w).collect()
        .map(r => (r.getString(0), r.getLong(3), r.getBoolean(4)))
        .sortBy(_._1).toSeq
    // gcd normalization is decision-invariant: scaling every weight by
    // 1e9 reproduces the allocation bit for bit (pre-fix, the lcm of
    // the scaled set silently overflowed int64 and corrupted the sort)
    assert(solve(weights) ==
      solve(weights.map { case (k, v) => k -> v * 1000000000L }))
    // a genuinely too-coprime set (lcm of 3·5·…·53 ≈ 1.6e19 > 2^63) is
    // REJECTED loudly at solve time, never a corrupted rational order
    val primes = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L,
      37L, 41L, 43L, 47L, 53L)
    val coprime = (0 until 20).map(i =>
      s"src$i" -> (if (i < primes.length) primes(i) else 1L)).toMap
    val e = intercept[IllegalArgumentException](
      graft.dedup.Corpus.mixSolve(docs, coprime))
    assert(e.getMessage.contains("overflows int64"))
    // nonsense budget fractions fail eagerly too
    val e2 = intercept[IllegalArgumentException](
      graft.dedup.Corpus.mixSolve(docs, weights, budgetNum = 1L,
        budgetDen = 0L))
    assert(e2.getMessage.contains("budget"))
  }

  test("seeded pack shuffle (row 117): different seed ⇒ different layout, every seed ⇒ same content") {
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    def layout(seed: Option[Long]): Map[Long, (Long, Long)] =
      Corpus.packMembers(d, seqLen = 256, shards = 8, shuffleSeed = seed)
        .select("doc_id", "shard", "tok_offset").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val unshuffled = layout(None)
    val s1 = layout(Some(1L))
    val s2 = layout(Some(2L))
    // CONTENT invariance: every pack carries exactly the same docs —
    // the shuffle is a permutation, never a sample
    assert(s1.keySet == unshuffled.keySet && s2.keySet == unshuffled.keySet)
    // SEED sensitivity: a different epoch seed moves the layout — and
    // not marginally: with shard = h60(seed:id) % 8, ~7/8 of docs
    // change shard between independent seeds. Require a majority so a
    // "shuffle" that only perturbs ties can't pass.
    val moved = s1.count { case (id, pos) => s2(id) != pos }
    assert(moved * 2 > s1.size,
      s"seeds 1 vs 2 moved only $moved of ${s1.size} docs")
    // and seeded ≠ unshuffled (the knob actually engages)
    assert(s1.exists { case (id, pos) => unshuffled(id) != pos })
    // REPLAYABILITY: the same seed re-derives the same layout bit for
    // bit — the property rand()-based shuffles cannot give
    assert(layout(Some(1L)) == s1)
    // token totals are layout-invariant (offsets permute, mass doesn't)
    val tot = Corpus.packMembers(d, seqLen = 256, shards = 8)
      .agg(sum(col("n_toks"))).head.getLong(0)
    val totS = Corpus.packMembers(d, seqLen = 256, shards = 8,
        shuffleSeed = Some(1L))
      .agg(sum(col("n_toks"))).head.getLong(0)
    assert(tot == totS, s"shuffle changed token mass: $tot != $totS")
  }

  test("curriculum pack (row 119): grades are contiguous spans in every shard, and the grade genuinely reorders") {
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    // manifest columns: shard, kc, n_docs, n_toks, first_off, end_off, …
    val rows = Registry.queries("corpus_pack_curriculum")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._2).distinct.length > 1,
      "fixture must span >1 quality grade or the curriculum is vacuous")
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val sorted = rs.sortBy(_._2)
      // ascending-grade spans tile the shard's token stream exactly:
      // first grade at offset 0, each next grade starting where the
      // previous ended — the "anneal on the best data last" contract
      assert(sorted.head._3 == 0L,
        s"shard $shard: lowest grade must start the stream")
      sorted.sliding(2).filter(_.length == 2).foreach { pair =>
        val (_, g1, _, e1) = pair(0)
        val (_, g2, f2, _) = pair(1)
        assert(e1 == f2,
          s"shard $shard: grade $g2 must start at grade $g1's end")
      }
    }
    // the grade ORDER engages: dropping the prefix (same seed) moves
    // some doc's offset — curriculum ≠ plain shuffle
    val kc = graft.text.Text.qualityModelRaw(d)
      .select(col("doc_id"),
        expr("(num + 1000 * n_tokens) * 100 div (1000 * n_tokens)")
          .as("kc"))
    val graded = d.join(kc, Seq("doc_id"))
    def offsets(prefix: Option[org.apache.spark.sql.Column]) =
      Corpus.packMembers(graded, seqLen = 256, shards = 8,
          shuffleSeed = Some(7L), orderPrefix = prefix)
        .select("doc_id", "tok_offset").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cur = offsets(Some(col("kc")))
    val plain = offsets(None)
    assert(cur.keySet == plain.keySet)
    assert(cur.exists { case (id, off) => plain(id) != off },
      "the curriculum prefix must reorder at least one doc")
  }
}
