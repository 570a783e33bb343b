package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamScan

/** Streaming scan == batch scan on the same data, plus the streaming
  * index sink (SURVEY.md §2 row 18). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  test("windowed streaming counts equal batch counts per window") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val agg = StreamScan.scanStream(df,
      QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))),
      timeCol = "ts", windowDur = "1 hour", watermarkDelay = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("t_stream")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01T00:10:00Z"), "click"),
        (ts("2024-01-01T00:20:00Z"), "click"),
        (ts("2024-01-01T00:40:00Z"), "view"),
        (ts("2024-01-01T01:05:00Z"), "click"))
      q.processAllAvailable()
      val rows = spark.table("t_stream")
        .select(col("window_start").cast("string"), col("event_type"), col("value"))
        .collect().map(_.toSeq).toSet
      assert(rows == Set(
        Seq("2024-01-01 00:00:00", "click", 2L),
        Seq("2024-01-01 00:00:00", "view", 1L),
        Seq("2024-01-01 01:00:00", "click", 1L)))
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from closed windows") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val agg = StreamScan.scanStream(df,
      QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))),
      timeCol = "ts", windowDur = "1 hour", watermarkDelay = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("t_stream_late")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01T00:10:00Z"), "click"))
      q.processAllAvailable()
      // watermark jumps past the first window -> it emits with count 1
      input.addData((ts("2024-01-01T03:30:00Z"), "view"))
      q.processAllAvailable()
      // a LATE event for the already-closed 00:00 window: state is gone,
      // append already emitted the final row — the event must be dropped
      input.addData((ts("2024-01-01T00:50:00Z"), "click"))
      q.processAllAvailable()
      // one more watermark advance so anything wrongly buffered would
      // surface as a duplicate/extra window row
      input.addData((ts("2024-01-01T06:00:00Z"), "view"))
      q.processAllAvailable()
      val rows = spark.table("t_stream_late")
        .select(col("window_start").cast("string"), col("event_type"),
          col("value"))
        .collect().map(_.toSeq).toSeq
      assert(rows.count(_ ==
        Seq("2024-01-01 00:00:00", "click", 1L)) == 1,
        s"closed window must emit exactly once with the on-time count: $rows")
      assert(!rows.contains(Seq("2024-01-01 00:00:00", "click", 2L)),
        s"late event leaked into a closed window: $rows")
    } finally q.stop()
  }

  test("filter + breakdown apply in the streaming plan too") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val agg = StreamScan.scanStream(df,
      QueryConfig(filter = Some(graft.filter.Cmp("ne", "event_type", "view")),
        breakdowns = Seq(FieldSpec.plain("event_type"))),
      timeCol = "ts", windowDur = "1 hour", watermarkDelay = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("t_stream2")
      .outputMode("complete").start()
    try {
      input.addData((ts("2024-01-01T00:10:00Z"), "click"),
        (ts("2024-01-01T00:20:00Z"), "view"))
      q.processAllAvailable()
      assert(spark.table("t_stream2").select("event_type")
        .collect().map(_.getString(0)).toSeq == Seq("click"))
    } finally q.stop()
  }

  test("streaming index sink appends dn_date partitions readable by batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val agg = StreamScan.scanStream(df,
      QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))),
      timeCol = "ts", windowDur = "1 hour", watermarkDelay = "0 seconds")
    val dir = tempDir("graft-stream-index")
    val q = StreamScan.indexSink(agg, s"$dir/idx", s"$dir/ckpt")
    try {
      input.addData((ts("2024-01-01T00:10:00Z"), "click"))
      q.processAllAvailable()
      // advance the watermark past the first window so append emits it
      input.addData((ts("2024-01-02T05:00:00Z"), "view"))
      q.processAllAvailable()
      input.addData((ts("2024-01-03T05:00:00Z"), "view"))
      q.processAllAvailable()
      val idx = spark.read.parquet(s"$dir/idx")
      // partition discovery types dn_date as DATE — cast back for compare
      val rows = idx.select(col("dn_date").cast("string"), col("event_type"), col("value"))
        .collect().map(_.toSeq).toSet
      assert(rows.contains(Seq("2024-01-01", "click", 1L)))
      // partition column materialized → partition pruning applies
      assert(idx.where(col("dn_date") === "2024-01-01").count() >= 1)
    } finally q.stop()
  }

  test("compact finalizes a streaming index sink: one file per day, rows unchanged") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val agg = StreamScan.scanStream(df,
      QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))),
      timeCol = "ts", windowDur = "1 hour", watermarkDelay = "0 seconds")
    val dir = tempDir("graft-stream-compact")
    // sink straight into the by_day tree so batch Index.query serves it
    val root = s"$dir/idx"
    val metric = graft.index.Index.Metric("m",
      Seq(FieldSpec.plain("event_type")))
    val mp = graft.index.Index.metricPath(root, "day", "m")
    val q = StreamScan.indexSink(agg, mp, s"$dir/ckpt")
    try {
      // three micro-batches emitting windows of the SAME day → that
      // day's directory accumulates one file per emitting batch
      input.addData((ts("2024-01-01T00:10:00Z"), "click"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01T05:00:00Z"), "view"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01T09:00:00Z"), "view"))
      q.processAllAvailable()
      input.addData((ts("2024-01-02T09:00:00Z"), "click"))
      q.processAllAvailable()
    } finally q.stop()
    def partFiles(day: String) = new java.io.File(s"$mp/dn_date=$day")
      .listFiles().count(f => f.isFile && f.getName.startsWith("part-"))
    assert(partFiles("2024-01-01") > 1, "precondition: day fragmented")
    assert(new java.io.File(s"$mp/_spark_metadata").exists())
    // window_start kept: distinct hourly windows of the same type must
    // not collapse in the set compare
    def rows() = spark.read.parquet(mp)
      .select(col("window_start"), col("dn_date").cast("string"),
        col("event_type"), col("value"))
      .collect().map(_.toSeq).toSet
    val before = rows()
    val days = graft.index.Index.compact(spark, root, "m")
    assert(days.contains("2024-01-01"))
    // one file per day, sink log gone (plain batch dataset now)
    assert(partFiles("2024-01-01") == 1)
    assert(!new java.io.File(s"$mp/_spark_metadata").exists())
    val after = rows()
    assert(after == before && after.nonEmpty)
    // and the finalized index answers a batch Index.query
    val viaIndex = graft.index.Index.query(spark, root, Seq(metric),
      QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))))
      .collect().map(_.toSeq).toSet
    assert(viaIndex ==
      before.groupBy(r => r(2)).map { case (k, rs) =>
        Seq(k, rs.toSeq.map(_(3).asInstanceOf[Long]).sum) }.toSet)
  }

  test("sketch state accumulates across REAL micro-batches, not one big one") {
    // the streamed-sketch gates drain a single-file source (one
    // micro-batch at gate scale); this pins the multi-batch merge
    // itself: 4 input files, maxFilesPerTrigger=1 -> >= 4 batches,
    // and both sketch states (bloom pair set, quantile histogram)
    // must equal their batch-computed twins exactly.
    import graft.functions.XHash
    val base = tempDir("graft-micro").toString
    val words = Seq("alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu", "nu xi omicron pi rho sigma")
    (0 until 4).foreach { i =>
      Seq((i * 10L, words(i)), (i * 10L + 1, words((i + 1) % 4)))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    val raw = spark.read.parquet(s"$base/in")
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val pairsAgg = graft.dedup.Dedup.shingleRows(stream)
      .select(XHash.h60(col("s")).as("h1"), XHash.h56(col("s")).as("h2"))
      .groupBy(col("h1"), col("h2")).count()
    val q = pairsAgg.writeStream.format("memory").queryName("t_micro_pairs")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected >= 4 data-bearing micro-batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    val streamed = spark.table("t_micro_pairs")
      .select(col("h1"), col("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.dedup.Dedup.bloomEvalPairs(raw)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, "streamed pair set != batch pair set")
    // the distribution sketch: histogram counts must ADD across batches
    val histStream = stream
      .select(graft.text.Text.tokenCount(col("text")).cast("long").as("v"))
      .groupBy(col("v").as("b")).agg(count(lit(1)).as("c"))
    val q2 = histStream.writeStream.format("memory").queryName("t_micro_hist")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val streamedHist = spark.table("t_micro_hist")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batchHist = raw
      .select(graft.text.Text.tokenCount(col("text")).cast("long").as("v"))
      .groupBy(col("v").as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamedHist == batchHist, "streamed histogram != batch histogram")
  }

  test("CDC chunk-window state rows == distinct chunk keys across >= 4 " +
      "real micro-batches (r16 verdict item 6)") {
    // the stream_chunks_cdc_state registry leg drains the gate corpus
    // as one micro-batch; this arm pins the ACCOUNTING CONTRACT under
    // a real multi-batch carve-up: dropDuplicates state must hold
    // EXACTLY one row per distinct chunk key seen — a leak shows as
    // state_rows > distinct, a loss as <, and repeated chunks across
    // batches (doc 30 repeats doc 0's text) must not re-admit.
    val base = tempDir("graft-cdcstate").toString
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4,
      "lambda mu nu xi omicron pi rho sigma tau upsilon " * 4,
      "phi chi psi omega alpha beta gamma delta epsilon zeta " * 4,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4)
    texts.zipWithIndex.foreach { case (t, i) =>
      Seq((i * 10L, t)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    val raw = spark.read.parquet(s"$base/in")
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val novel = graft.streaming.Admission
      .probeRows(stream, cdc = true, kinds = Set(2))
      .select(col("doc_id"), col("idx"), col("k1"), col("k2"))
      .dropDuplicates("k1", "k2")
    val q = novel.writeStream.format("memory").queryName("t_cdc_state")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected >= 4 data-bearing micro-batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    val stateRows = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
      .maxOption.getOrElse(0L)
    val distinctBatch = graft.streaming.Admission
      .probeRows(raw, cdc = true, kinds = Set(2))
      .select(col("k1"), col("k2")).distinct().count()
    val sinkRows = spark.table("t_cdc_state").count()
    assert(stateRows == distinctBatch,
      s"state rows $stateRows != distinct chunk keys $distinctBatch")
    assert(sinkRows == distinctBatch,
      s"sink first-occurrences $sinkRows != distinct chunk keys " +
        s"$distinctBatch (a repeated chunk crossed batches undeduped)")
  }

  test("streamed admission pipeline == batch twin across >= 4 real " +
      "micro-batches, any carve-up") {
    // the registry gate drains the crawl as ONE micro-batch (single
    // parquet file); this pins the claim that matters at scale — the
    // stateless probe + store join composition is independent of the
    // micro-batch carve-up. The crawl is split into 4 files, streamed
    // one file per trigger, and the admitted (doc_id, n_tokens) set
    // must equal the batch twin's exactly.
    val dir = sf001
    val d = graft.sources.Sources.table(spark, dir, "documents")
    val crawl = d.where(expr(DedupQueries.NewWhere))
    val base = tempDir("graft-admission").toString
    crawl.repartition(4).write.parquet(s"$base/in")
    val raw = spark.read.parquet(s"$base/in")
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val keys = graft.streaming.Admission.storeKeys(
      spark.read.parquet(DedupQueries.ensureStore(spark, dir)),
      spark.read.parquet(DedupQueries.ensureChunkStore(spark, dir)))
    val probed = graft.streaming.Admission.probeRows(stream)
      .join(keys, Seq("kind", "k1", "k2"), "left_outer")
    val q = probed.writeStream.format("memory").queryName("t_admission")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected >= 4 data-bearing micro-batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    val evalDocs = d.where(col("doc_id") % 97 === 0)
    val streamed = graft.streaming.Admission
      .admit(spark.table("t_admission"), evalDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the batch twin, from its own operators (not the drained rows)
    val k1 = graft.dedup.Dedup.incrementalKeepers(crawl,
      spark.read.parquet(DedupQueries.ensureStore(spark, dir)))
    val b1 = crawl.join(k1, Seq("doc_id"), "left_semi")
    val b2 = graft.dedup.Dedup.chunkDedupIncremental(b1,
        spark.read.parquet(DedupQueries.ensureChunkStore(spark, dir)))
      .where(col("kept_chunks") > 0)
      .select(col("doc_id"), col("kept_text").as("text"))
      .localCheckpoint()
    val cs = b2.where(col("doc_id") % 97 =!= 0)
    val b3 = cs.join(graft.dedup.Dedup.contaminatedIds(cs, evalDocs),
      Seq("doc_id"), "left_anti")
    val batch = graft.text.Text.qualityModelRaw(b3).where(col("num") >= 0L)
      .select(col("doc_id"), col("n_tokens").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed admission != batch twin: only-streamed=" +
        s"${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
    assert(streamed.nonEmpty, "vacuous: nothing admitted")
  }

  test("streamed perplexity filter == batch pplScore across >= 4 real " +
      "micro-batches (map-literal path equals the join path)") {
    val dir = sf001
    val root = TextQueries.ensureUnigram(spark, dir)
    val vocab = spark.read.parquet(s"$root/vocab")
    val segs = spark.read.parquet(s"$root/segs")
    val d = graft.sources.Sources.table(spark, dir, "documents")
    val crawl = d.where(expr(DedupQueries.NewWhere))
    val base = tempDir("graft-ppl").toString
    crawl.repartition(4).write.parquet(s"$base/in")
    val raw = spark.read.parquet(s"$base/in")
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val scored = graft.text.Unigram.pplScoreStateless(stream, vocab, segs)
    val q = scored.writeStream.format("memory").queryName("t_ppl")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("n_pieces"), col("logprob_micro"),
        col("keep")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
    val streamed = rows(spark.table("t_ppl"))
    // the batch twin uses broadcast JOINS, the stream map LITERALS —
    // every integer must agree
    val batch = rows(graft.text.Unigram.pplScore(crawl, vocab, segs))
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(_._4) && streamed.exists(!_._4),
      "vacuous: keep decision did not split the crawl")
  }

  test("streamed domain-blocklist admission == batch twin across >= 4 " +
      "real micro-batches") {
    val dir = sf001
    val d = graft.sources.Sources.table(spark, dir, "documents")
    val crawl = d.where(expr(DedupQueries.NewWhere))
    val base = tempDir("graft-urlf").toString
    crawl.repartition(4).write.parquet(s"$base/in")
    val raw = spark.read.parquet(s"$base/in")
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val keep = spark.read.parquet(UrlQueries.ensureBlocklist(spark, dir))
    val host = org.apache.spark.sql.functions.parse_url(
      graft.text.Urls.synthUrl(col("doc_id")),
      org.apache.spark.sql.functions.lit("HOST"))
    val probed = stream
      .select(col("doc_id"),
        graft.text.Urls.registeredDomain(host).as("domain"))
      .join(keep, Seq("domain"))
    val q = probed.writeStream.format("memory").queryName("t_urlf")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected >= 4 data-bearing micro-batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    val streamed = spark.table("t_urlf")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // the batch twin, from the same operators over the same artifact
    val batch = crawl
      .select(col("doc_id"),
        graft.text.Urls.registeredDomain(host).as("domain"))
      .join(keep, Seq("domain"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.size < crawl.count(), "vacuous: blocklist blocked nothing")
  }

  test("bandProbes == probeRows' kind-1 arm (the split guard's probe " +
      "expression cannot drift from the admission pipeline's)") {
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val full = rows(graft.streaming.Admission.probeRows(d)
      .where(col("kind") === 1).select(col("doc_id"), col("k1"), col("k2")))
    val bands = rows(graft.streaming.Admission.bandProbes(d))
    assert(bands == full && bands.nonEmpty)
  }

  test("streamed split guard == corpus_split's kept train set across " +
      ">= 4 real micro-batches") {
    val dir = sf001
    val d = graft.sources.Sources.table(spark, dir, "documents")
    val crawl = d.where(!DedupQueries.isEval)
    val base = tempDir("graft-splitg").toString
    crawl.repartition(4).write.parquet(s"$base/in")
    val raw = spark.read.parquet(s"$base/in")
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val bands = spark.read.parquet(DedupQueries.ensureEvalBands(spark, dir))
    val cand = graft.streaming.Admission.bandProbes(stream)
      .join(bands, Seq("k1", "k2"))
      .select(col("doc_id").as("train_id"), col("eval_id"))
    val q = cand.writeStream.format("memory").queryName("t_splitg")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected >= 4 data-bearing micro-batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    val sh = graft.dedup.Dedup.shingleSets(d)
    val leaked = spark.table("t_splitg").distinct()
      .join(sh.as("st"), col("train_id") === col("st.id"))
      .join(sh.as("se"), col("eval_id") === col("se.id"))
      .where(graft.dedup.Dedup.jaccard(col("st.sh"), col("se.sh"))
        >= graft.dedup.Dedup.MinJaccard)
      .select(col("train_id").as("doc_id")).distinct()
    val streamed = crawl.select(col("doc_id"))
      .join(leaked, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    // the batch twin: corpus_split's train-side kept set
    val batch = DedupQueries.all.find(_.name == "corpus_split").get
      .run(spark, dir).where(col("split") === "train" && col("kept"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"streamed guard != batch split: only-streamed=" +
        s"${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
    assert(streamed.nonEmpty && streamed.size < crawl.count(),
      "vacuous: guard rejected nothing")
  }
}
