package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.filter.Cmp
import graft.index.Index
import graft.index.Index.Metric
import graft.text.Text

/** Edge cases mirroring the reference's empty-data / degenerate-input
  * tests (tests/dn/local). */
class EdgeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(("a", 1L), ("b", 2L)).toDF("host", "latency")

  test("scan of zero matching records counts 0, not NULL") {
    val cfg = QueryConfig(filter = Some(Cmp("eq", "host", "nope")))
    assert(Scan.scan(df, cfg).collect().toSeq == Seq(Row(0L)))
    // and the generated oracle SQL coalesces identically
    assert(Scan.scanSql("t", cfg).contains("COALESCE"))
  }

  test("scan with breakdowns over zero records yields zero rows") {
    val cfg = QueryConfig(filter = Some(Cmp("eq", "host", "nope")),
      breakdowns = Seq(FieldSpec.plain("host")))
    assert(Scan.scan(df, cfg).count() == 0)
  }

  test("index built over empty input answers 0") {
    val path = tempDir("graft-empty-index").toString
    val metric = Metric("m", Seq(FieldSpec.plain("host")))
    val empty = df.where(col("host") === "nope")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    Index.build(empty, Seq(metric), path, timeField = "ts", interval = "all")
    val out = Index.query(spark, path, Seq(metric), QueryConfig(), "all")
    assert(out.collect().toSeq == Seq(Row(0L)))
  }

  test("text ops survive empty and whitespace-only strings") {
    val weird = Seq("", "   ", "\t\n", "a").toDF("t")
    val out = weird.select(
      Text.tokenCount(col("t")).as("n"),
      Text.qualityScore(col("t")).as("q"),
      Text.fingerprint(col("t")).as("f"),
      Text.rollingHash(col("t")).as("r"),
      Text.langId(col("t")).as("l")).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getDouble(1) >= 0 && r.getDouble(1) <= 1)
      assert(r.getString(2).nonEmpty)
    }
    // normalized-identical inputs agree
    assert(out(0).getString(2) == out(1).getString(2))
  }

  test("new ops survive degenerate inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.dedup.Dedup.clusters(empty).count() == 0)
    assert(graft.dedup.Dedup.minhashCandidates(empty).count() == 0)
    val single = Seq((1L, "only one document here")).toDF("doc_id", "text")
    assert(graft.dedup.Dedup.clusters(single).count() == 0)
    // knn join with k larger than the corpus: every row gets all others
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val knn = graft.ann.Ann.knnJoin(emb, emb, 10).collect()
    assert(knn.groupBy(_.getLong(0)).forall(_._2.length <= 2))
    // scrub on empty / null-free corner strings
    val s = Seq("", "@", "123456", "1234567").toDF("text")
      .select(graft.text.Text.scrubPii(org.apache.spark.sql.functions.col("text")))
      .collect().map(_.getString(0)).toSeq
    assert(s == Seq("", "@", "123456", "<NUM>"))
  }

  test("round-10 ops survive degenerate inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Bloom decontam with an EMPTY eval set: all-zero filter, nothing
    // flagged, nothing verified — and no crash on the driver collect
    val corpus = Seq((1L, "some corpus text here")).toDF("doc_id", "text")
    val noEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.dedup.Dedup.bloomDecontam(corpus, noEval).count() == 0)
    // snapshotDiff where one side is empty: everything added / removed
    val added = graft.dedup.Corpus.snapshotDiff(noEval, corpus)
      .collect().map(_.getString(1)).toSeq
    assert(added == Seq("added"))
    val removed = graft.dedup.Corpus.snapshotDiff(corpus, noEval)
      .collect().map(_.getString(1)).toSeq
    assert(removed == Seq("removed"))
    // quantile sketch with an EMPTY sample histogram: null estimates
    // and a row per p — degraded, visible, not a crash
    val full = spark.range(1, 11).select(col("id").cast("long").as("v"))
    val emptyHist = Seq.empty[(Long, Long)].toDF("b", "c")
    val out = graft.plans.Quantiles
      .sampleQuantileGate(full, emptyHist, Seq(("p50", 0.5)))
      .collect()
    assert(out.length == 1 && out.head.isNullAt(1),
      s"empty sample must yield a null estimate row: ${out.toSeq}")
  }

  test("filters never resurrect dropped rows via NOT semantics") {
    val withNull = Seq((Some("x"), 1), (None, 2)).toDF("k", "v")
    // ne: NULL row fails (dropped), not treated as "not equal"
    val ne = withNull.where(Cmp("ne", "k", "x").toColumn(withNull.col))
    assert(ne.count() == 0)
  }

  test("quantize8 edges: empty, all-zero, null elements — native == HOF") {
    import org.apache.spark.sql.functions.col
    val vecs = Seq(
      (1L, Array[java.lang.Float]()),                       // empty
      (2L, Array[java.lang.Float](0f, 0f, 0f)),             // all zero
      (3L, Array[java.lang.Float](1f, null, -2f)),          // null element
      (4L, Array[java.lang.Float](-0.5f, 0.25f, 0.5f)),     // fractional
      (5L, Array[java.lang.Float](Float.NaN, 1f))           // NaN poisons
    ).toDF("id", "v")
    val rows = vecs.select(col("id"), graft.ann.Ann.quantize8(col("v")).as("a"),
        graft.ann.Ann.quantize8Hof(col("v")).as("b")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"id=${r.getLong(0)}: ${r.getSeq[Any](1)} != ${r.getSeq[Any](2)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(byId(1L).isEmpty)
    assert(byId(2L) == Seq(0.toByte, 0.toByte, 0.toByte))
    assert(byId(3L) == Seq(64.toByte, null, -127.toByte))
    assert(byId(4L) == Seq(-127.toByte, 64.toByte, 127.toByte))
    // NaN is the max under array_max's ordering: scale and every output
    // go NaN, and NaN casts to 0 — the whole vector zeroes on BOTH paths
    assert(byId(5L) == Seq(0.toByte, 0.toByte))
  }

  test("round-11 ops survive empty and degenerate corpora") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // chunk dedup / collocations / quality model: empty in, empty out
    assert(graft.dedup.Dedup.chunkDedup(noDocs).count() == 0)
    assert(Text.collocations(noDocs).count() == 0)
    assert(Text.qualityModel(noDocs).count() == 0)
    // BPE training on a corpus with NO mergeable pair (every word one
    // letter): an empty learned table, not a crash or an infinite loop
    val single = Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
    assert(Text.bpeTrain(single, merges = 3).count() == 0)
    // source rank over one edgeless source: all mass dangles back — the
    // single node keeps rank 1 under any iteration count
    val lone = Seq((1L, "srcA", "x y z")).toDF("doc_id", "source", "text")
    val r = graft.dedup.Corpus.sourceRank(lone, n = 3, iters = 3)
      .collect()
    assert(r.length == 1 && math.abs(r.head.getDouble(1) - 1.0) < 1e-12)
    // empty-text doc: ZERO tokens (extraction, not split — FuzzCorpus
    // contract), so the exploded-feature scorer has no row for it
    val blank = Seq((7L, "")).toDF("doc_id", "text")
    assert(Text.qualityModel(blank).count() == 0)
  }

  test("round-12 ops survive empty and degenerate corpora") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // the full curation pipeline on nothing: empty manifest, no crash
    // at any stage (clean, chunk, semantic geometry over zero vectors,
    // decontam, quality, budget, pack)
    assert(graft.dedup.Corpus.pipeline(noDocs, noEmb).count() == 0)
    // packing nothing: no members, no sequence files
    assert(graft.dedup.Corpus.packMembers(noDocs, 4, 2).count() == 0)
    assert(graft.dedup.Corpus.packedSequences(noDocs, 4, 2).count() == 0)
    // a garbage-only corpus dies at the quality floor, not mid-pipeline
    val junk = Seq((1L, "!!!...;;;"), (2L, "")).toDF("doc_id", "text")
    assert(graft.dedup.Corpus.pipeline(junk, noEmb).count() == 0)
    // unigram apply with an EMPTY dictionary: everything backs off to
    // character counts
    val segs = Seq.empty[(String, String)].toDF("word", "seg")
    val counts = graft.text.Unigram.applyCounts(
      Seq((1L, "ab cde")).toDF("doc_id", "text"), segs).collect()
    assert(counts.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 5L)))
  }
}
