package graft

import graft.filter.Cmp
import graft.index.Index
import graft.index.Index.Metric
import graft.sources.Sources

/** Index build/query equivalence: querying the rollup must equal scanning
  * raw data (reference: README.md:345-420 — "the results are the same"). */
class IndexSpec extends SparkSpec {

  private def tmp() = tempDir("graft-index").toString

  private lazy val ev = Sources.events(spark, sf001).cache()
  private val metric = Metric("by_type_user",
    Seq(FieldSpec.plain("event_type"), FieldSpec.plain("user_id")))

  test("day index round-trips a breakdown query") {
    val path = tmp()
    Index.build(ev, Seq(metric), path, timeField = "ts", interval = "day")
    val cfg = QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type")))
    val fromIndex = Index.query(spark, path, Seq(metric), cfg)
      .collect().map(_.toSeq).toSet
    val fromScan = Scan.scan(ev, cfg).collect().map(_.toSeq).toSet
    assert(fromIndex == fromScan)
  }

  test("filtered query over indexed column matches scan") {
    val path = tmp()
    Index.build(ev, Seq(metric), path, timeField = "ts", interval = "day")
    val cfg = QueryConfig(
      filter = Some(Cmp("eq", "event_type", "click")),
      breakdowns = Seq(FieldSpec.plain("user_id")))
    assert(Index.query(spark, path, Seq(metric), cfg).collect().map(_.toSeq).toSet ==
      Scan.scan(ev, cfg).collect().map(_.toSeq).toSet)
  }

  test("hour and all intervals round-trip too") {
    for (interval <- Seq("hour", "all")) {
      val path = tmp()
      Index.build(ev, Seq(metric), path, timeField = "ts", interval = interval)
      val cfg = QueryConfig(breakdowns = Seq(FieldSpec.plain("user_id")))
      assert(Index.query(spark, path, Seq(metric), cfg, interval)
        .collect().map(_.toSeq).toSet ==
        Scan.scan(ev, cfg).collect().map(_.toSeq).toSet, s"interval=$interval")
    }
  }

  test("multi-metric build: one shared scan serves every metric's index") {
    val path = tmp()
    val m2 = Seq(
      Metric("by_type", Seq(FieldSpec.plain("event_type"))),
      Metric("by_user", Seq(FieldSpec.plain("user_id"))))
    Index.build(ev, m2, path, timeField = "ts", interval = "day")
    for ((m, bd) <- Seq(("by_type", "event_type"), ("by_user", "user_id"))) {
      val cfg = QueryConfig(breakdowns = AttrParser.parse(bd))
      assert(Index.query(spark, path, m2, cfg).collect().map(_.toSeq).toSet ==
        Scan.scan(ev, cfg).collect().map(_.toSeq).toSet, m)
    }
  }

  test("query needing un-indexed columns is rejected") {
    val path = tmp()
    Index.build(ev, Seq(metric), path, timeField = "ts", interval = "day")
    val cfg = QueryConfig(breakdowns = Seq(FieldSpec.plain("region")))
    assertThrows[GraftException](Index.query(spark, path, Seq(metric), cfg))
  }

  test("day-aligned bounds served by dn_date pruning; sub-day still rejected") {
    import java.time.Instant
    val path = tmp()
    // the metric indexes NO timestamp column at all
    Index.build(ev, Seq(metric), path, timeField = "ts", interval = "day")
    val base = QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type")))
    val bounded = base.copy(
      after = Some(Instant.parse("2024-01-02T00:00:00Z")),
      before = Some(Instant.parse("2024-01-05T00:00:00Z")))
    val viaIndex = Index.query(spark, path, Seq(metric), bounded)
      .collect().map(_.toSeq).toSet
    val viaScan = Scan.scan(ev, bounded.copy(timeField = Some("ts")))
      .collect().map(_.toSeq).toSet
    assert(viaIndex == viaScan && viaIndex.nonEmpty)
    // strictly fewer rows than unbounded — the prune really cut days,
    // and exclusively: the 2024-01-05 partition is out
    val unbounded = Index.query(spark, path, Seq(metric), base)
      .collect().map(_.toSeq).toSet
    assert(viaIndex != unbounded)
    // sub-day bounds cannot be answered exactly without an indexed
    // timestamp: still an error, not an over-inclusive day read
    assertThrows[GraftException](Index.query(spark, path, Seq(metric),
      base.copy(after = Some(Instant.parse("2024-01-02T06:30:00Z")))))
  }

  test("hour-aligned bounds served by the hourly tree; sub-hour rejected") {
    import java.time.Instant
    val path = tmp()
    // no timestamp column indexed — serving relies on dn_date pruning
    // plus the dn_hour trim on the boundary days
    Index.build(ev, Seq(metric), path, timeField = "ts", interval = "hour")
    val base = QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type")))
    val bounded = base.copy(
      after = Some(Instant.parse("2024-01-02T06:00:00Z")),
      before = Some(Instant.parse("2024-01-04T18:00:00Z")))
    val viaIndex = Index.query(spark, path, Seq(metric), bounded, "hour")
      .collect().map(_.toSeq).toSet
    val viaScan = Scan.scan(ev, bounded.copy(timeField = Some("ts")))
      .collect().map(_.toSeq).toSet
    assert(viaIndex == viaScan && viaIndex.nonEmpty)
    // mixed alignment: hour-aligned after + midnight before (exclusive —
    // the 2024-01-05 partition must stay out)
    val mixed = bounded.copy(before = Some(Instant.parse("2024-01-05T00:00:00Z")))
    assert(Index.query(spark, path, Seq(metric), mixed, "hour")
      .collect().map(_.toSeq).toSet ==
      Scan.scan(ev, mixed.copy(timeField = Some("ts")))
        .collect().map(_.toSeq).toSet)
    // sub-hour bounds still cannot be answered exactly: error, not an
    // over-inclusive hour read
    assertThrows[GraftException](Index.query(spark, path, Seq(metric),
      base.copy(after = Some(Instant.parse("2024-01-02T06:30:00Z"))), "hour"))
    // and the DAY tree still rejects hour-aligned bounds (no dn_hour there)
    val dayPath = tmp()
    Index.build(ev, Seq(metric), dayPath, timeField = "ts", interval = "day")
    assertThrows[GraftException](
      Index.query(spark, dayPath, Seq(metric), bounded))
  }

  test("incremental update replaces only the touched day partitions") {
    val path = tmp()
    Index.build(ev, Seq(metric), path, timeField = "ts", interval = "day")
    val full = Index.query(spark, path, Seq(metric), QueryConfig())
      .collect().head.getLong(0)
    // re-run over ONE day's records with doubled rows for that day
    val day = ev.selectExpr("date_format(ts, 'yyyy-MM-dd') d")
      .groupBy("d").count().orderBy("d").collect().head
    val (dayStr, dayCount) = (day.getString(0), day.getLong(1))
    val oneDay = ev.where(
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("ts"), "yyyy-MM-dd") === dayStr)
    Index.update(oneDay.union(oneDay), Seq(metric), path,
      timeField = "ts", interval = "day")
    val updated = Index.query(spark, path, Seq(metric), QueryConfig())
      .collect().head.getLong(0)
    // that day doubled, every other partition untouched
    assert(updated == full + dayCount)
  }

  test("empty build then incremental update stays queryable") {
    // an empty build writes one footer-only file at the metric root so
    // the index is readable; a later dynamic-partition update adds
    // dn_date= dirs and must CLEAR that root file, or partition
    // discovery sees leaf files at two depths and rejects the index
    val path = tmp()
    Index.build(ev.where(org.apache.spark.sql.functions.lit(false)),
      Seq(metric), path, timeField = "ts", interval = "day")
    assert(Index.query(spark, path, Seq(metric), QueryConfig())
      .collect().head.getLong(0) == 0L)
    Index.update(ev, Seq(metric), path, timeField = "ts", interval = "day")
    val updated = Index.query(spark, path, Seq(metric), QueryConfig())
      .collect().head.getLong(0)
    val scanned = Scan.scan(ev, QueryConfig()).collect().head.getLong(0)
    assert(updated == scanned)
  }

  test("compact rewrites only fragmented days; untouched days keep their files") {
    val path = tmp()
    Index.build(ev, Seq(metric), path, timeField = "ts", interval = "day")
    val mp = Index.metricPath(path, "day", metric.name)
    def files(day: String) = new java.io.File(s"$mp/dn_date=$day")
      .listFiles().filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified).toSet
    val days = new java.io.File(mp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dn_date="))
      .map(_.getName.stripPrefix("dn_date=")).sorted
    assert(days.length >= 2)
    val (fragDay, quietDay) = (days.head, days.last)
    // fragment one day: append a second file with MORE rows for it (so
    // the rows-unchanged check below is against the fragmented state)
    val extra = Index.scanRows(
      ev.where(org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("ts"), "yyyy-MM-dd") === fragDay),
      metric, "ts")
    extra.write.mode("append").partitionBy("dn_date").parquet(mp)
    assert(files(fragDay).size > 1, "precondition: day fragmented")
    val quietBefore = files(quietDay)
    val before = spark.read.parquet(mp)
      .select(org.apache.spark.sql.functions.col("dn_date").cast("string"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("value"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(Index.compact(spark, path, metric.name) == Seq(fragDay))
    // fragmented day now one file; quiet day's files byte-identical
    assert(files(fragDay).size == 1)
    assert(files(quietDay) == quietBefore)
    val after = spark.read.parquet(mp)
      .select(org.apache.spark.sql.functions.col("dn_date").cast("string"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("value"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(after == before)
    // idempotent: nothing left to compact
    assert(Index.compact(spark, path, metric.name).isEmpty)
  }

  test("multi-probe lsh recall ≥ single-bucket recall vs brute force") {
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = e.orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val truth = ids(graft.ann.Ann.bruteForceTopK(e, q, 10))
    val single = ids(graft.ann.Ann.lshTopK(e, q, 10))
    val multi = ids(graft.ann.Ann.lshTopKMultiProbe(e, q, 10))
    assert((multi & truth).size >= (single & truth).size)
    assert(multi.size == 10)
    // IVF: k results, the query itself (cos=1) always recalled
    val ivf = ids(graft.ann.Ann.ivfTopK(e, q, 10))
    assert(ivf.size == 10 && ivf.contains(0L))
  }

  test("index is value-weighted: total count preserved") {
    val path = tmp()
    Index.build(ev, Seq(metric), path, timeField = "ts", interval = "day")
    val total = Index.query(spark, path, Seq(metric), QueryConfig())
      .collect().head.getLong(0)
    assert(total == ev.count())
  }

  test("metric selection: narrow query reads the narrow rollup, wide falls through") {
    val path = tmp()
    val narrow = Metric("by_type", Seq(FieldSpec.plain("event_type")))
    val wide = Metric("by_type_user",
      Seq(FieldSpec.plain("event_type"), FieldSpec.plain("user_id")))
    Index.build(ev, Seq(narrow, wide), path, timeField = "ts", interval = "day")
    def servedFrom(cfg: QueryConfig): String =
      Index.query(spark, path, Seq(narrow, wide), cfg)
        .queryExecution.executedPlan.toString
    val narrowPlan = servedFrom(
      QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))))
    assert(narrowPlan.contains("/by_type") && !narrowPlan.contains("by_type_user"),
      s"event_type query should read ONLY the narrow rollup:\n${narrowPlan.take(900)}")
    val widePlan = servedFrom(QueryConfig(breakdowns =
      Seq(FieldSpec.plain("event_type"), FieldSpec.plain("user_id"))))
    assert(widePlan.contains("by_type_user"),
      s"user_id query must fall through to the wide rollup:\n${widePlan.take(900)}")
    // and both serve the same numbers a raw scan gives
    val got = Index.query(spark, path, Seq(narrow, wide),
        QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))))
      .collect().map(_.toSeq).toSet
    val want = Scan.scan(ev,
        QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }
}
