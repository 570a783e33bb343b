package graft

import java.nio.file.Files

import org.apache.spark.sql.Row

/** The dn CLI: scan / build / query flag parity with the reference tool
  * (README.md:44-230, tests/dn/local). */
class DnSpec extends SparkSpec {

  // a copy with a standard TIMESTAMP(MICROS) ts — the testdata file uses
  // TIMESTAMP(NANOS), which only Sources.events knows how to rebuild
  private lazy val events: String = {
    val dir = tempDir("graft-dn-events").toString
    graft.sources.Sources.events(spark, sf001)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    s"$dir/events.parquet"
  }

  test("scan: count, breakdowns, filter, quantize via flags") {
    assert(Dn.run(spark, Seq("scan", s"--data=$events")).collect()
      .head.getLong(0) > 0)
    val by = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type",
      """--filter={"ne": ["event_type", "error"]}"""))
      .collect().map(r => r.getString(0)).toSeq
    assert(by.nonEmpty && !by.contains("error"))
    val q = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=v[field=value,aggr=quantize]")).collect()
    q.foreach { r =>
      val b = r.getLong(0)
      assert(b == 0 || (b & (b - 1)) == 0, s"not a power of two: $b")
    }
  }

  test("a parquet --data read again in one session starts no schema-inference job") {
    val dir = tempDir("graft-dn-parquet").toString
    spark.range(10).selectExpr("id", "cast(id % 3 as string) as k")
      .write.parquet(s"$dir/t.parquet")
    def scan() = Dn.run(spark, Seq("scan", s"--data=$dir/t.parquet", "--breakdowns=k"))
    val (first, inferJobs) = jobsDuring(scan())
    assert(inferJobs > 0, "the first read infers the footer schema")
    val (second, jobs) = jobsDuring(scan())
    assert(jobs == 0)
    assert(second.collect().toSeq.map(_.toString).sorted ==
      first.collect().toSeq.map(_.toString).sorted)
  }

  test("build + query round-trips through a default metric") {
    val idx = tempDir("graft-dn-index").toString
    Dn.run(spark, Seq("build", s"--data=$events", s"--index=$idx",
      "--breakdowns=event_type,user_id", "--time-field=ts"))
    val viaIndex = Dn.run(spark, Seq("query", s"--index=$idx",
      "--breakdowns=event_type", "--metric-breakdowns=event_type,user_id"))
      .collect().map(_.toSeq).toSet
    val viaScan = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type")).collect().map(_.toSeq).toSet
    assert(viaIndex == viaScan)
  }

  test("compact rewrites fragmented metric trees and query is unchanged") {
    val idx = tempDir("graft-dn-compact").toString
    Dn.run(spark, Seq("build", s"--data=$events", s"--index=$idx",
      "--breakdowns=event_type,user_id", "--time-field=ts"))
    // fragment one day: append a duplicate file into its directory
    val mp = graft.index.Index.metricPath(idx, "day", "default")
    val day = new java.io.File(mp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dn_date="))
      .map(_.getName.stripPrefix("dn_date=")).min
    val one = spark.read.parquet(mp)
      .where(org.apache.spark.sql.functions.col("dn_date") === day)
      .withColumn("dn_date", org.apache.spark.sql.functions.lit(day))
    one.write.mode("append").partitionBy("dn_date").parquet(mp)
    val before = Dn.run(spark, Seq("query", s"--index=$idx",
      "--breakdowns=event_type", "--metric-breakdowns=event_type,user_id"))
      .collect().map(_.toSeq).toSet
    // no --metric: compact discovers the metric trees under by_day/
    val compacted = Dn.run(spark, Seq("compact", s"--index=$idx"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(compacted == Seq(("default", day)))
    assert(new java.io.File(s"$mp/dn_date=$day").listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-")) == 1)
    val after = Dn.run(spark, Seq("query", s"--index=$idx",
      "--breakdowns=event_type", "--metric-breakdowns=event_type,user_id"))
      .collect().map(_.toSeq).toSet
    assert(after == before)
  }

  test("compact auto-detects an hourly-only tree; explicit wrong interval fails loudly") {
    // hourly-only index: the old --interval default ("day") listed
    // by_day/, found nothing, and silently no-opped
    val idx = tempDir("graft-dn-compact-hr").toString
    Dn.run(spark, Seq("build", s"--data=$events", s"--index=$idx",
      "--breakdowns=event_type", "--time-field=ts", "--interval=hour"))
    // fragment one day of the HOURLY tree; compact with NO --interval
    // must find and rewrite it (the old behavior listed by_day/ and
    // silently no-opped)
    val mp = graft.index.Index.metricPath(idx, "hour", "default")
    val day = new java.io.File(mp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dn_date="))
      .map(_.getName.stripPrefix("dn_date=")).min
    val one = spark.read.parquet(mp)
      .where(org.apache.spark.sql.functions.col("dn_date") === day)
      .withColumn("dn_date", org.apache.spark.sql.functions.lit(day))
    one.write.mode("append").partitionBy("dn_date").parquet(mp)
    val compacted = Dn.run(spark, Seq("compact", s"--index=$idx"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(compacted == Seq(("default", day)))
    // … and an explicit interval whose tree is absent names what exists
    val e = intercept[GraftException] {
      Dn.run(spark, Seq("compact", s"--index=$idx", "--interval=day"))
    }
    assert(e.getMessage.contains("by_hour"), e.getMessage)
  }

  test("time bounds prune and filter through the CLI") {
    val all = Dn.run(spark, Seq("scan", s"--data=$events")).collect()
      .head.getLong(0)
    val bounded = Dn.run(spark, Seq("scan", s"--data=$events",
      "--time-field=ts", "--after=2024-01-03T00:00:00Z")).collect()
      .head.getLong(0)
    assert(bounded > 0 && bounded < all)
  }

  test("json-skinner points round-trip like the reference's format test") {
    // reference: tests/dn/local/tst.format_skinner.sh — scan --points,
    // feed the points back 3x as json-skinner, counts triple
    val pts = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type,user_id", "--points"))
    val dir = tempDir("graft-skinner")
    val lines = pts.toJSON.collect()
    Files.writeString(dir.resolve("points.ndjson"),
      (lines ++ lines ++ lines).mkString("\n") + "\n")
    val total = Dn.run(spark, Seq("scan", s"--data=$events")).collect()
      .head.getLong(0)
    val reagg = Dn.run(spark, Seq("scan",
      s"--data=$dir/points.ndjson", "--data-format=json-skinner"))
      .collect().head.getLong(0)
    assert(reagg == 3 * total)
    // and a coarser re-breakdown over the points matches the raw scan 3x
    val byType = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byTypePts = Dn.run(spark, Seq("scan",
      s"--data=$dir/points.ndjson", "--data-format=json-skinner",
      "--breakdowns=event_type")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTypePts == byType.map { case (k, v) => k -> 3 * v })
  }

  test("--counters accounts for every input row across drop stages") {
    val r = Dn.run(spark, Seq("scan", s"--data=$events",
      """--filter={"ne": ["event_type", "error"]}""",
      "--breakdowns=event_type", "--time-field=ts",
      "--after=2024-01-02T00:00:00Z", "--counters")).collect().head
    val (input, fd, td, id, agg) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(input == fd + td + id + agg)
    assert(fd > 0 && td > 0 && agg > 0)
    // aggregated must equal what the real scan counts
    val scanned = Dn.run(spark, Seq("scan", s"--data=$events",
      """--filter={"ne": ["event_type", "error"]}""",
      "--breakdowns=event_type", "--time-field=ts",
      "--after=2024-01-02T00:00:00Z")).collect().map(_.getLong(1)).sum
    assert(agg == scanned)
  }

  test("--warnings: per-record drop diagnostics, distinct from --counters") {
    // one record per drop shape, plus a clean one and a NORMAL filter
    // miss (present field, predicate false) which must NOT warn —
    // reference: krill-skinner-stream.js warns on eval failure only
    val data = tempDir("graft-dn-warn").resolve("w.ndjson")
    Files.writeString(data, Seq(
      """{"lvl":"debug","time":"2024-01-05T00:00:00Z","latency":"5"}""",
      """{"time":"2024-01-05T00:00:00Z","latency":"5"}""",
      """{"lvl":"info","time":"garbage","latency":"5"}""",
      """{"lvl":"info","latency":"5"}""",
      """{"lvl":"info","time":"2024-01-05T00:00:00Z","latency":"fast"}""",
      """{"lvl":"info","time":"2024-01-05T00:00:00Z","latency":"7"}"""
    ).mkString("", "\n", "\n"))
    val args = Seq("scan", s"--data=$data",
      """--filter={"ne": ["lvl", "debug"]}""",
      "--breakdowns=latency[aggr=quantize]", "--time-field=time",
      "--after=2024-01-01T00:00:00Z", "--warnings")
    // normal scan output is unchanged: the clean + filter-miss rows
    // aggregate as usual (warnings ride alongside, not instead)
    val out = Dn.run(spark, args).collect()
    assert(out.map(_.getLong(1)).sum == 1L)
    val warnings = Dn.lastWarnings.get.collect().map(_.getString(0)).sorted
    assert(warnings.toSeq == Seq(
      """field "latency" has a non-numeric value""",
      """field "lvl" is undefined""",
      """field "time" is not a valid date""",
      """field "time" is undefined"""))
    // capped stderr rendering: cap lines + one suppression notice
    val buf = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(buf, true, "UTF-8")) {
      Dn.printWarnings(Dn.lastWarnings.get, cap = 2)
    }
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    assert(lines.length == 3 && lines.forall(_.startsWith("warn: ")))
    assert(lines.last.contains("suppressed"))
    // --warnings is not --counters: counters still returns the summary
    val c = Dn.run(spark, args.init :+ "--counters").collect().head
    assert(c.toSeq == Seq(6L, 2L, 2L, 1L, 1L))
    // and not valid outside scan/index-scan
    assertThrows[GraftException](
      Dn.parseArgs(Seq("query", "--index=x", "--warnings")))
  }

  test("bad arguments throw GraftException") {
    assertThrows[GraftException](Dn.parseArgs(Nil))
    assertThrows[GraftException](Dn.parseArgs(Seq("frobnicate")))
    // a positional is a datasource name — unknown ones fail at resolution
    assertThrows[GraftException](
      Dn.run(spark, Seq("scan", "nosuchds"),
        tempDir("graft-noconf").resolve("rc")))
    assertThrows[GraftException](Dn.run(spark, Seq("scan")))
    assertThrows[GraftException](Dn.run(spark, Seq("build", s"--data=$events")))
    // a typo'd flag must error, not silently compute the unfiltered answer
    assertThrows[GraftException](
      Dn.parseArgs(Seq("scan", "--data=x", "--fitler={}")))
  }

  test("empty data: scans, builds, and index queries return 0, never error") {
    // reference tests/dn/local/tst.empty.sh: every operation over
    // /dev/null yields 0 / empty output — including breakdowns on
    // fields no record ever carried, and a query over an empty build
    val empty = tempDir("graft-dn-empty")
      .resolve("e.ndjson")
    Files.writeString(empty, "")
    assert(Dn.run(spark, Seq("scan", s"--data=$empty")).collect()
      .head.getLong(0) == 0L)
    assert(Dn.run(spark, Seq("scan", s"--data=$empty",
      "--breakdowns=req.method,latency[aggr=quantize]")).count() == 0)
    assert(Dn.run(spark, Seq("scan", s"--data=$empty", "--counters",
      """--filter={"eq": ["audit", true]}""")).collect()
      .head.toSeq == Seq(0L, 0L, 0L, 0L, 0L))
    val idx = tempDir("graft-dn-emptyidx").toString
    Dn.run(spark, Seq("build", s"--data=$empty", s"--index=$idx",
      "--time-field=time", "--breakdowns=req.method"))
    assert(Dn.run(spark, Seq("query", s"--index=$idx",
      "--metric-breakdowns=req.method", "--breakdowns=req.method"))
      .count() == 0)
    assert(Dn.run(spark, Seq("query", s"--index=$idx",
      "--metric-breakdowns=req.method")).collect().head.getLong(0) == 0L)
  }

  test("breakdowns on never-seen fields drop rows instead of failing") {
    // missing-field semantics on NON-empty data: the reference drops
    // records lacking the field, so a breakdown on a field no record
    // carries is empty and a filter on it drops everything
    assert(Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=no.such.field")).count() == 0)
    assert(Dn.run(spark, Seq("scan", s"--data=$events",
      """--filter={"eq": ["ghost", 1]}""")).collect().head.getLong(0) == 0L)
  }

  test("dotted-path metric round-trips through build + query") {
    // reference tst.index_file.sh indexes req.caller/req.method — the
    // breakdown NAME keeps its dots and becomes a flat index column;
    // query-side resolution must quote it, not re-parse it as a path
    val idx = tempDir("graft-dn-dotidx").toString
    Dn.run(spark, Seq("build", s"--data=$events", s"--index=$idx",
      "--breakdowns=props.k,event_type", "--time-field=ts"))
    val viaIndex = Dn.run(spark, Seq("query", s"--index=$idx",
      "--metric-breakdowns=props.k,event_type", "--breakdowns=props.k"))
      .collect().map(_.toSeq).toSet
    val viaScan = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=props.k")).collect().map(_.toSeq).toSet
    assert(viaIndex == viaScan && viaIndex.nonEmpty)
  }

  test("--points keeps dotted breakdown names as flat struct fields") {
    val pts = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=props.k,event_type", "--points"))
    val row = pts.where(org.apache.spark.sql.functions.col("value") > 0)
      .head
    val fields = row.getStruct(0)
    assert(fields.schema.fieldNames.toSeq == Seq("props.k", "event_type"))
    assert(row.getLong(1) > 0)
  }

  test("bad arguments reject cleanly, like tst.badargs.sh") {
    val f = events
    def bad(args: String*): Unit =
      assertThrows[GraftException](Dn.run(spark, Seq("scan",
        s"--data=$f") ++ args))
    bad("--breakdowns=host,req.method,x[=bar]")
    bad("--breakdowns=host,req.method,[]")
    bad("--breakdowns=host,req.method,foo[")
    bad("--filter={")
    bad("""--filter={"junk": ["foo", "bar"]}""")
    bad("--data-format=junk")
    // --gnuplot needs exactly one breakdown (reference: try --gnuplot /
    // try -b a,b --gnuplot both fail); with one dotted breakdown it
    // renders, sorted by the flat x column
    def plot(args: String*): String = {
      val a = Dn.parseArgs(Seq("scan", s"--data=$f") ++ args :+ "--gnuplot")
      Format.gnuplot(Dn.run(spark, (Seq("scan", s"--data=$f") ++ args)),
        a.flags.get("breakdowns").map(AttrParser.parse).getOrElse(Nil))
    }
    assertThrows[GraftException](plot())
    assertThrows[GraftException](plot("--breakdowns=event_type,user_id"))
    val g = plot("--breakdowns=props.k")
    assert(g.contains("set xlabel \"props.k\"") && g.contains("plot '-'"))
  }

  test("missing/unknown subcommand errors carry the full usage block") {
    // reference bin/dn usage(): error line + share/usage.txt
    val noCmd = intercept[GraftException](Dn.parseArgs(Seq()))
    assert(noCmd.getMessage.startsWith("no command specified"))
    assert(noCmd.getMessage.contains("usage: dn"))
    val badCmd = intercept[GraftException](Dn.parseArgs(Seq("scna")))
    assert(badCmd.getMessage.contains("no such command: \"scna\""))
    assert(badCmd.getMessage.contains("usage: dn"))
    // the usage block names every subcommand the parser accepts, and
    // every advertised flag is one the parser knows (no phantom docs)
    Seq("datasource-add", "datasource-update", "datasource-list",
      "datasource-remove", "datasource-show", "metric-add", "metric-list",
      "metric-remove", "build", "query", "scan", "index-config",
      "index-read", "index-scan").foreach(m =>
      assert(Dn.usageText.contains(s"dn $m"), s"usage missing $m"))
    val flagPat = "--([a-z-]+)=".r
    flagPat.findAllMatchIn(Dn.usageText).map(_.group(1)).toSet.foreach {
      f: String =>
        val err = try { Dn.parseArgs(Seq("build", s"--$f=x")); None }
        catch { case g: GraftException => Some(g.getMessage) }
        assert(!err.exists(_.contains("unknown flag")),
          s"usage advertises unknown flag --$f")
    }
  }

  // ------------------------------------------------------ config-backed CLI

  private def tmpConfig = tempDir("graft-rc").resolve("rc")

  test("datasource CRUD round-trips through the config file") {
    val rc = tmpConfig
    Dn.runConfig(Seq("datasource-add", "--path=/data/a", "--time-field=ts",
      """--filter={"eq": ["event_type", "click"]}""", "src_a"), rc)
    Dn.runConfig(Seq("datasource-add", "--path=/data/b",
      "--backend=hdfs", "src_b"), rc)
    val listed = Dn.runConfig(Seq("datasource-list"), rc)
    assert(listed.contains("src_a") && listed.contains("src_b"))
    assert(listed.contains("hdfs:/"))
    val shown = Dn.runConfig(Seq("datasource-show", "-v", "src_a"), rc)
    assert(shown.contains("/data/a") && shown.contains("filter:"))
    // update keeps unspecified fields
    Dn.runConfig(Seq("datasource-update", "--path=/data/a2", "src_a"), rc)
    val after = Dn.runConfig(Seq("datasource-show", "-v", "src_a"), rc)
    assert(after.contains("/data/a2") && after.contains("timeField:  ts"))
    Dn.runConfig(Seq("datasource-remove", "src_b"), rc)
    assert(!Dn.runConfig(Seq("datasource-list"), rc).contains("src_b"))
    // duplicates / unknowns error like the reference
    assertThrows[GraftException](
      Dn.runConfig(Seq("datasource-add", "--path=/x", "src_a"), rc))
    assertThrows[GraftException](
      Dn.runConfig(Seq("datasource-remove", "gone"), rc))
    assertThrows[GraftException](
      Dn.runConfig(Seq("datasource-show", "gone"), rc))
  }

  test("metric CRUD validates datasource and breakdown specs") {
    val rc = tmpConfig
    Dn.runConfig(Seq("datasource-add", s"--path=$events", "ev"), rc)
    Dn.runConfig(Seq("metric-add", "--breakdowns=event_type,user_id",
      "ev", "by_type"), rc)
    assert(Dn.runConfig(Seq("metric-list", "ev"), rc).contains("by_type"))
    // index-config emits the metric schema as JSON
    val ic = Dn.runConfig(Seq("index-config", "ev"), rc)
    assert(ic.contains("\"by_type\"") && ic.contains("\"event_type\""))
    assertThrows[GraftException](Dn.runConfig(
      Seq("metric-add", "--breakdowns=x", "nosuchds", "m"), rc))
    // reference: metric-add with no breakdowns = plain count metric;
    // bad filter JSON errors cleanly (tst.config.sh shouldfail cases)
    Dn.runConfig(Seq("metric-add", "ev", "plain_count"), rc)
    assert(Dn.runConfig(Seq("metric-list", "ev"), rc).contains("plain_count"))
    assertThrows[GraftException](Dn.runConfig(
      Seq("metric-add", "--filter={", "ev", "badf"), rc))
    assertThrows[GraftException](Dn.runConfig(
      Seq("datasource-add", "--path=/x", "--filter={", "badds"), rc))
    // trivial filter {} round-trips
    Dn.runConfig(Seq("datasource-update", "--filter={}", "ev"), rc)
    // a corrupt config file errors cleanly, not with a parser stack
    val bad = tempDir("graft-badrc").resolve("rc")
    Files.writeString(bad, "{ not json")
    assertThrows[GraftException](Dn.runConfig(Seq("datasource-list"), bad))
    assertThrows[GraftException](Dn.runConfig(
      Seq("metric-add", "--breakdowns=bad[aggr=nope]", "ev", "m2"), rc))
    Dn.runConfig(Seq("metric-remove", "ev", "by_type"), rc)
    assert(!Dn.runConfig(Seq("metric-list", "ev"), rc).contains("by_type"))
    // removing the datasource drops its metrics
    Dn.runConfig(Seq("metric-add", "--breakdowns=event_type", "ev", "m3"), rc)
    Dn.runConfig(Seq("datasource-remove", "ev"), rc)
    assertThrows[GraftException](
      Dn.runConfig(Seq("metric-remove", "ev", "m3"), rc))
  }

  test("named datasource: scan applies the standing filter; build/query " +
      "use configured metrics; index-read/index-scan expose the tuples") {
    val rc = tmpConfig
    val idx = tempDir("graft-dn-dsidx").toString
    Dn.runConfig(Seq("datasource-add", s"--path=$events",
      s"--index-path=$idx", "--time-field=ts", "--data-format=parquet",
      """--filter={"ne": ["event_type", "error"]}""", "ev"), rc)
    Dn.runConfig(Seq("metric-add", "--breakdowns=event_type,user_id",
      "ev", "by_type_user"), rc)

    // scan by name == scan by path with the standing filter applied
    val byName = Dn.run(spark, Seq("scan", "ev", "--breakdowns=event_type"),
      rc).collect().map(_.toSeq).toSet
    val byPath = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type",
      """--filter={"ne": ["event_type", "error"]}""")).collect()
      .map(_.toSeq).toSet
    assert(byName == byPath && byName.nonEmpty)

    // query filter ANDs onto the standing filter
    val clicks = Dn.run(spark, Seq("scan", "ev", "--breakdowns=event_type",
      """--filter={"eq": ["event_type", "click"]}"""), rc).collect()
    assert(clicks.map(_.getString(0)).toSeq == Seq("click"))

    // build via configured metric, query via index by name
    Dn.run(spark, Seq("build", "ev"), rc)
    val viaIndex = Dn.run(spark,
      Seq("query", "ev", "--breakdowns=event_type"), rc)
      .collect().map(_.toSeq).toSet
    assert(viaIndex == byName)

    // index-read returns the stored tuples (grain = metric dims × day)
    val stored = Dn.run(spark, Seq("index-read", "ev"), rc)
    assert(stored.columns.toSet ==
      Set("event_type", "user_id", "value", "dn_date"))
    assert(stored.count() > 0)

    // index-scan computes the same tuples from raw data without writing
    def tuples(df: org.apache.spark.sql.DataFrame) =
      // dn_date is a partition column on read (DATE) but a computed
      // string on index-scan; compare as strings
      df.selectExpr("event_type", "user_id", "CAST(dn_date AS STRING)",
        "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
    val scanned = Dn.run(spark,
      Seq("index-scan", "ev", "--time-field=ts"), rc)
    assert(tuples(scanned) == tuples(stored) && scanned.count() > 0)
  }

  test("datasource time-format reads the %Y/%m-%d tree and prunes by day") {
    val rc = tmpConfig
    val root = tempDir("graft-dn-tree")
    def put(day: String, lines: Seq[String]): Unit = {
      val dir = root.resolve(day)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("data.ndjson"), lines.mkString("\n") + "\n")
    }
    put("2014/05-01", Seq(
      """{"time":"2014-05-01T10:00:00Z","req":{"method":"GET"}}""",
      """{"time":"2014-05-01T11:00:00Z","req":{"method":"PUT"}}"""))
    put("2014/05-02", Seq(
      """{"time":"2014-05-02T00:30:00Z","req":{"method":"GET"}}"""))
    Dn.runConfig(Seq("datasource-add", s"--path=$root",
      "--time-format=%Y/%m-%d", "logs"), rc)
    val all = Dn.run(spark, Seq("scan", "logs"), rc).collect().head.getLong(0)
    assert(all == 3)
    val pruned = Dn.run(spark, Seq("scan", "logs",
      "--after=2014-05-02T00:00:00Z"), rc).collect().head.getLong(0)
    assert(pruned == 1)
    // an asserted layout that doesn't exist errors instead of scanning 0
    Dn.runConfig(Seq("datasource-add", s"--path=$root/2014",
      "--time-format=%Y/%m-%d", "bad"), rc)
    assertThrows[GraftException](
      Dn.run(spark, Seq("scan", "bad"), rc).collect())
    assertThrows[GraftException](Dn.runConfig(Seq("datasource-add",
      "--path=/x", "--data-format=xml", "badfmt"), rc))
  }

  test("query by name works when the standing filter field is not indexed") {
    // the standing filter is baked in at build time; query must not
    // re-apply it (its field isn't an indexed breakdown)
    val rc = tmpConfig
    val idx = tempDir("graft-dn-nf").toString
    Dn.runConfig(Seq("datasource-add", s"--path=$events",
      s"--index-path=$idx", "--time-field=ts", "--data-format=parquet",
      """--filter={"gt": ["value", 10]}""", "ev3"), rc)
    Dn.runConfig(Seq("metric-add", "--breakdowns=event_type", "ev3", "m"), rc)
    Dn.run(spark, Seq("build", "ev3"), rc)
    val viaIndex = Dn.run(spark,
      Seq("query", "ev3", "--breakdowns=event_type"), rc)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type", """--filter={"gt": ["value", 10]}"""))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaIndex == direct && viaIndex.nonEmpty)
  }

  test("query --counters and --points mirror the scan-side modes") {
    val idx = tempDir("graft-dn-qc").toString
    Dn.run(spark, Seq("build", s"--data=$events", s"--index=$idx",
      "--breakdowns=event_type,user_id", "--time-field=ts"))
    // counters over the index: value-weighted, everything aggregates
    val c = Dn.run(spark, Seq("query", s"--index=$idx",
      "--breakdowns=event_type", "--metric-breakdowns=event_type,user_id",
      "--counters")).collect().head
    val total = Dn.run(spark, Seq("scan", s"--data=$events"))
      .collect().head.getLong(0)
    assert(c.getLong(0) == total && c.getLong(4) == total)
    // a filter on an indexed column shows up as filter_dropped weight
    val cf = Dn.run(spark, Seq("query", s"--index=$idx",
      """--filter={"eq": ["event_type", "click"]}""",
      "--breakdowns=event_type", "--metric-breakdowns=event_type,user_id",
      "--counters")).collect().head
    assert(cf.getLong(1) > 0 && cf.getLong(0) == total)
    assert(cf.getLong(1) + cf.getLong(4) == total)
    // --points emits skinner shape from the index
    val pts = Dn.run(spark, Seq("query", s"--index=$idx",
      "--breakdowns=event_type", "--metric-breakdowns=event_type,user_id",
      "--points"))
    assert(pts.columns.toSeq == Seq("fields", "value"))
  }

  test("build --dry-run plans the index tuples without writing") {
    val idx = tempDir("graft-dn-dry").toString + "/sub"
    val planned = Dn.run(spark, Seq("build", s"--data=$events",
      s"--index=$idx", "--breakdowns=event_type", "--time-field=ts",
      "--dry-run"))
    assert(planned.columns.toSet == Set("event_type", "dn_date", "value"))
    assert(planned.count() > 0)
    assert(!new java.io.File(idx).exists(), "dry-run must not write")
  }

  test("day and hour indexes coexist under one root; --interval selects") {
    val rc = tmpConfig
    val idx = tempDir("graft-dn-iv").toString
    Dn.runConfig(Seq("datasource-add", s"--path=$events",
      s"--index-path=$idx", "--time-field=ts", "--data-format=parquet",
      "ev2"), rc)
    Dn.runConfig(Seq("metric-add", "--breakdowns=event_type", "ev2",
      "by_type"), rc)
    Dn.run(spark, Seq("build", "ev2"), rc) // day (default)
    Dn.run(spark, Seq("build", "ev2", "--interval=hour"), rc)
    val day = Dn.run(spark,
      Seq("query", "ev2", "--breakdowns=event_type"), rc)
      .collect().map(_.toSeq).toSet
    val hour = Dn.run(spark,
      Seq("query", "ev2", "--breakdowns=event_type", "--interval=hour"), rc)
      .collect().map(_.toSeq).toSet
    assert(day == hour && day.nonEmpty) // same rollup, different grain
    // hourly tree carries dn_hour; day tree doesn't
    assert(Dn.run(spark, Seq("index-read", "ev2", "--interval=hour"), rc)
      .columns.contains("dn_hour"))
    assert(!Dn.run(spark, Seq("index-read", "ev2"), rc)
      .columns.contains("dn_hour"))
    // querying an interval that was never built errors clearly
    assertThrows[GraftException](Dn.run(spark,
      Seq("query", "ev2", "--breakdowns=event_type", "--interval=all"), rc))
  }

  test("arbitrary strftime layouts: %Y/%m/%d/%H prunes to the hour") {
    val rc = tmpConfig
    val root = tempDir("graft-dn-hourly")
    def put(dir: String, lines: Seq[String]): Unit = {
      val d = root.resolve(dir)
      Files.createDirectories(d)
      Files.writeString(d.resolve("data.ndjson"), lines.mkString("\n") + "\n")
    }
    put("2014/06/26/20",
      Seq("""{"req":{"method":"GET"}}""", """{"req":{"method":"PUT"}}"""))
    put("2014/06/26/21", Seq("""{"req":{"method":"GET"}}"""))
    put("2014/06/27/03", Seq("""{"req":{"method":"GET"}}"""))
    Dn.runConfig(Seq("datasource-add", s"--path=$root",
      "--time-format=%Y/%m/%d/%H", "hourly"), rc)
    val all = Dn.run(spark, Seq("scan", "hourly"), rc)
      .collect().head.getLong(0)
    assert(all == 4)
    // bounds prune at hour granularity via the path alone
    val firstTwoHours = Dn.run(spark, Seq("scan", "hourly",
      "--after=2014-06-26T20:00:00Z", "--before=2014-06-26T22:00:00Z"), rc)
      .collect().head.getLong(0)
    assert(firstTwoHours == 3)
    val lastDay = Dn.run(spark, Seq("scan", "hourly",
      "--after=2014-06-27T00:00:00Z"), rc).collect().head.getLong(0)
    assert(lastDay == 1)
    // unsupported specifiers are rejected
    assertThrows[GraftException](
      graft.sources.Sources.timeFormatDirs(spark, root.toString,
        "%Y/%q", None, None))
  }

  test("gnuplot output: runnable script for exactly one breakdown") {
    val df = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type"))
    val spec = AttrParser.parse("event_type")
    val out = Format.gnuplot(df, spec)
    assert(out.contains("gnuplot") && out.contains("plot '-'"))
    assert(out.linesIterator.count(l => l.startsWith("click")) == 1)
    assertThrows[GraftException](
      Format.gnuplot(df, AttrParser.parse("a,b")))
  }

  test("skinner build weights points: index equals 3x the raw scan") {
    val pts = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type,day[date,field=ts,aggr=lquantize,step=86400]",
      "--points"))
    val dir = tempDir("graft-skinner-build")
    val lines = pts.toJSON.collect()
    Files.writeString(dir.resolve("points.ndjson"),
      (lines ++ lines ++ lines).mkString("\n") + "\n")
    Dn.run(spark, Seq("build", s"--data=$dir/points.ndjson",
      "--data-format=json-skinner", s"--index=$dir/idx",
      "--breakdowns=event_type", "--time-field=day"))
    val viaIndex = Dn.run(spark, Seq("query", s"--index=$dir/idx",
      "--breakdowns=event_type")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaIndex == raw.map { case (k, v) => k -> 3 * v })
  }

  test("--index-config=FILE drives a build without configured metrics") {
    // mirror of the reference flow (tests/dn/local/tst.index_file.sh +
    // dnReadIndexConfig): emit the metric config of one datasource as
    // JSON, then feed that FILE to a build against an EMPTY config — the
    // file's metrics must drive the build, and a query of the result
    // must match a plain scan.
    val rc = tmpConfig
    val idx = tempDir("graft-dn-icidx").toString
    Dn.runConfig(Seq("datasource-add", s"--path=$events",
      s"--index-path=$idx", "ev"), rc)
    Dn.runConfig(Seq("metric-add", "--breakdowns=event_type,user_id",
      """--filter={"ne": ["event_type", "error"]}""", "ev", "by_tu"), rc)
    val cfgFile = tempDir("graft-ixcfg").resolve("ic.json")
    Files.writeString(cfgFile, Dn.runConfig(Seq("index-config", "ev"), rc))
    // parsed metrics round-trip name, breakdowns, and filter
    val ms = Dn.indexConfigMetrics(cfgFile.toString)
    assert(ms.map(_.name) == Seq("by_tu"))
    assert(ms.head.breakdowns.map(_.field) == Seq("event_type", "user_id"))
    assert(ms.head.filter.isDefined)
    val emptyRc = tmpConfig // never written: no datasources, no metrics
    Dn.run(spark, Seq("build", s"--data=$events", s"--index=$idx",
      "--time-field=ts", s"--index-config=$cfgFile"), emptyRc)
    // the file's metric (name, breakdowns, filter) drove the build: a
    // config-backed query of that index matches a filtered scan
    val viaIndex = Dn.run(spark, Seq("query", "ev",
      "--breakdowns=event_type"), rc).collect().map(_.toSeq).toSet
    val viaScan = Dn.run(spark, Seq("scan", s"--data=$events",
      """--filter={"ne": ["event_type", "error"]}""",
      "--breakdowns=event_type"), emptyRc).collect().map(_.toSeq).toSet
    assert(viaIndex == viaScan && viaIndex.nonEmpty)
    // flag is rejected outside build/index-read/index-scan, like the
    // reference option tables
    assertThrows[GraftException](
      Dn.parseArgs(Seq("scan", "--data=x", s"--index-config=$cfgFile")))
    // unreadable / malformed files error cleanly
    assertThrows[GraftException](Dn.indexConfigMetrics("/nonexistent.json"))
    val bad = tempDir("graft-ixcfg-bad").resolve("bad.json")
    Files.writeString(bad, "{ not json")
    assertThrows[GraftException](Dn.indexConfigMetrics(bad.toString))
  }

  test("index-scan --index-config replaces the configured standing filter") {
    // reference dragnet.js indexScan: when an index-config file is
    // given, the scan filter is the FILE's datasource.filter (or none),
    // never the locally configured datasource's
    val rc = tmpConfig
    Dn.runConfig(Seq("datasource-add", s"--path=$events",
      "--time-field=ts",
      """--filter={"eq": ["event_type", "click"]}""", "ev"), rc)
    Dn.runConfig(Seq("metric-add", "--breakdowns=event_type",
      "ev", "by_t"), rc)
    val cfgFile = tempDir("graft-ixsc").resolve("ic.json")
    Files.writeString(cfgFile, Dn.runConfig(Seq("index-config", "ev"), rc))
    // the emitted config carries the datasource and its filter
    assert(Dn.indexConfigDsFilter(cfgFile.toString)
      .exists(_.contains("click")))
    // same config file drives the same rows as the configured datasource
    val viaConfigDs = Dn.run(spark, Seq("index-scan", "--time-field=ts",
      "ev"), rc).collect().length
    val viaFile = Dn.run(spark, Seq("index-scan", s"--data=$events",
      "--time-field=ts", "--breakdowns=event_type",
      s"--index-config=$cfgFile"), tmpConfig).collect().length
    assert(viaFile == viaConfigDs && viaFile > 0)
    // a file WITHOUT a datasource filter clears the standing filter even
    // when the local config has one: more rows survive
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(cfgFile))
    node.get("datasource")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove("filter")
    val noFilter = tempDir("graft-ixsc2").resolve("nf.json")
    Files.writeString(noFilter, mapper.writeValueAsString(node))
    assert(Dn.indexConfigDsFilter(noFilter.toString).isEmpty)
    val unfiltered = Dn.run(spark, Seq("index-scan", s"--time-field=ts",
      s"--index-config=$noFilter", "ev"), rc).collect().length
    assert(unfiltered > viaConfigDs)
  }

  test("--raw streams multi-partition results identical to a collect") {
    // points over two breakdowns at 8 shuffle partitions: a genuinely
    // multi-partition result; the streamed toLocalIterator path must
    // print exactly what a driver-side collect would have
    val df = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type,user_id", "--points"))
      .repartition(4) // AQE coalesces the small result; force >1 partition
    assert(df.rdd.getNumPartitions > 1, "result must be multi-partition")
    val args = Dn.parseArgs(Seq("scan", s"--data=$events",
      "--breakdowns=event_type,user_id", "--points", "--raw"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Dn.display(df, args)
    }
    val streamed = buf.toString("UTF-8").linesIterator.toSeq
    assert(streamed == df.toJSON.collect().toSeq)
    assert(streamed.nonEmpty && streamed.forall(_.startsWith("{")))
  }

  test("typo'd --time-field on real data fails loudly, not a null index") {
    // breakdowns/filters tolerate missing fields (row-drop semantics),
    // but a mistyped time field would silently build the whole index
    // into the null partition — that must be an error
    val idx = tempDir("graft-dn-tftypo").toString
    val e = intercept[GraftException] {
      Dn.run(spark, Seq("build", s"--data=$events", s"--index=$idx",
        "--breakdowns=event_type", "--time-field=tz"))
    }
    assert(e.getMessage.contains("tz"))
  }

  test("field resolution is case-insensitive, like Spark's") {
    // spark.sql.caseSensitive defaults to false; the missing-field check
    // must not be stricter than the resolver it guards
    val by = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=EVENT_TYPE"))
    assert(by.count() > 0)
  }

  test("histogram rendering shows scaled bars per bucket") {
    val spec = AttrParser.parse("v[field=value,aggr=quantize]").head
    val df = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=v[field=value,aggr=quantize]"))
    val out = Format.histogram(df, spec)
    assert(out.contains("value  ------------- Distribution ------------- count"))
    assert(out.linesIterator.exists(l => l.contains("|@")))
    // grouped variant: leading breakdown renders one histogram per
    // group, labeled with the group VALUES joined ", " (the
    // reference's dnOutputPrettyQuantized label format)
    val df2 = Dn.run(spark, Seq("scan", s"--data=$events",
      "--breakdowns=event_type,v[field=value,aggr=quantize]"))
    val out2 = Format.histogram(df2, spec)
    assert(out2.linesIterator.contains("click"))
  }

  test("curate lifecycle: add -> list -> run == library pipeline -> remove") {
    val cfg = tempDir("graft-dn-curate")
      .resolve("graftrc")
    val out = tempDir("graft-dn-curate-out")
      .toString + "/manifest"
    val docs = s"$sf001/documents.parquet"
    val embs = s"$sf001/embeddings.parquet"
    Dn.runConfig(Seq("curate-add", "c1",
      s"--docs=$docs", s"--embeddings=$embs", s"--out=$out",
      "--quotas=src0:900,src1:-1", "--domain-floor-milli=-54",
      "--from-html=true"), cfg)
    assert(Dn.runConfig(Seq("curate-list", "-v"), cfg)
      .contains("quotas:     src0:900,src1:-1"))
    // the profile persists: a fresh load (what a new dn process does)
    // drives the run
    val got = Dn.run(spark, Seq("curate", "c1"), cfg)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    // …and equals the library entry called with the same knobs
    val want = graft.dedup.Corpus.pipeline(
      spark.read.parquet(docs), spark.read.parquet(embs),
      domainFloorMilli = Some(-54L),
      quotas = Seq("src0" -> 900L, "src1" -> -1L), fromHtml = true)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    // the manifest artifact landed at the profile's out
    assert(spark.read.parquet(out).count() == got.size)
    // --dry-run: plan only, nothing (re)written
    val before = new java.io.File(out).lastModified()
    Dn.run(spark, Seq("curate", "--dry-run", "c1"), cfg)
    assert(new java.io.File(out).lastModified() == before)
    // remove closes the lifecycle; running it again is an error
    Dn.runConfig(Seq("curate-remove", "c1"), cfg)
    intercept[GraftException](Dn.run(spark, Seq("curate", "c1"), cfg))
    // bad quota strings are rejected at ADD time, not at run time
    intercept[GraftException](Dn.runConfig(Seq("curate-add", "c2",
      s"--docs=$docs", s"--embeddings=$embs", "--quotas=nocap"), cfg))
  }

  test("curate-add: --budget without --weights is rejected eagerly (ADVICE r14)") {
    val cfg = tempDir("graft-dn-curatebv")
      .resolve("graftrc")
    val docs = s"$sf001/documents.parquet"
    val embs = s"$sf001/embeddings.parquet"
    // a budget nothing would ever consult must not persist silently
    val e = intercept[GraftException](Dn.runConfig(Seq("curate-add", "cb",
      s"--docs=$docs", s"--embeddings=$embs", "--budget=4/5"), cfg))
    assert(e.getMessage.contains("--budget requires --weights"))
    // nonsense fractions fail at add time, not inside a later solve
    val e2 = intercept[GraftException](Dn.runConfig(Seq("curate-add", "cb",
      s"--docs=$docs", s"--embeddings=$embs",
      "--weights=src0:1", "--budget=1/0"), cfg))
    assert(e2.getMessage.contains("bad --budget"))
  }

  test("curate --decontam=chunk: profile round-trip, CLI == library, bad value rejected") {
    val cfg = tempDir("graft-dn-curatedc")
      .resolve("graftrc")
    val docs = s"$sf001/documents.parquet"
    val embs = s"$sf001/embeddings.parquet"
    Dn.runConfig(Seq("curate-add", "sg",
      s"--docs=$docs", s"--embeddings=$embs", "--decontam=chunk"), cfg)
    assert(Dn.runConfig(Seq("curate-list", "-v"), cfg)
      .contains("decontam: chunk"))
    val got = Dn.run(spark, Seq("curate", "sg"), cfg)
      .collect().map(_.toSeq).toSet
    val want = graft.dedup.Corpus.pipeline(
        spark.read.parquet(docs), spark.read.parquet(embs),
        decontam = "chunk")
      .collect().map(_.toSeq).toSet
    assert(got == want, "CLI surgical curate must equal the library call")
    val e = intercept[GraftException](Dn.runConfig(Seq("curate-add", "sg2",
      s"--docs=$docs", s"--embeddings=$embs", "--decontam=both"), cfg))
    assert(e.getMessage.contains("bad decontam"))
  }

  test("curate --lang-quotas: profile round-trip, CLI == library, bad value rejected (row 116)") {
    val cfg = tempDir("graft-dn-curatelq")
      .resolve("graftrc")
    val docs = s"$sf001/documents.parquet"
    val embs = s"$sf001/embeddings.parquet"
    Dn.runConfig(Seq("curate-add", "lq",
      s"--docs=$docs", s"--embeddings=$embs",
      "--lang-quotas=en:300,es:200"), cfg)
    assert(Dn.runConfig(Seq("curate-list", "-v"), cfg)
      .contains("langQuotas: en:300,es:200"))
    val got = Dn.run(spark, Seq("curate", "lq"), cfg)
      .collect().map(_.toSeq).toSet
    val want = graft.dedup.Corpus.pipeline(
        spark.read.parquet(docs), spark.read.parquet(embs),
        langQuotas = Seq("en" -> 300L, "es" -> 200L))
      .collect().map(_.toSeq).toSet
    assert(got == want, "CLI lang-quota curate must equal the library call")
    // the cap must CHANGE the pack (non-vacuity at the CLI grain too)
    val unq = graft.dedup.Corpus.pipeline(
        spark.read.parquet(docs), spark.read.parquet(embs))
      .collect().map(_.toSeq).toSet
    assert(got != unq, "a binding lang quota must move the manifest")
    val e = intercept[GraftException](Dn.runConfig(Seq("curate-add", "lq2",
      s"--docs=$docs", s"--embeddings=$embs", "--lang-quotas=en"), cfg))
    assert(e.getMessage.contains("bad quota entry"))
  }

  test("curate --shuffle-seed: profile round-trip, CLI == library, seed moves the layout (row 117)") {
    val cfg = tempDir("graft-dn-curatess")
      .resolve("graftrc")
    val docs = s"$sf001/documents.parquet"
    val embs = s"$sf001/embeddings.parquet"
    Dn.runConfig(Seq("curate-add", "ss",
      s"--docs=$docs", s"--embeddings=$embs", "--shuffle-seed=3"), cfg)
    val got = Dn.run(spark, Seq("curate", "ss"), cfg)
      .collect().map(_.toSeq).toSet
    val want = graft.dedup.Corpus.pipeline(
        spark.read.parquet(docs), spark.read.parquet(embs),
        shuffleSeed = Some(3L))
      .collect().map(_.toSeq).toSet
    assert(got == want, "CLI seeded curate must equal the library call")
    // the seed must MOVE the manifest (shard membership follows
    // h60(seed:id), so per-shard counts change) while conserving mass
    val unseeded = graft.dedup.Corpus.pipeline(
        spark.read.parquet(docs), spark.read.parquet(embs))
      .collect().map(_.toSeq).toSet
    assert(got != unseeded, "the epoch seed must move the pack layout")
    def totalDocs(m: Set[Seq[Any]]) =
      m.toSeq.map(_(1).asInstanceOf[Long]).sum // col 1 = n_docs
    assert(totalDocs(got) == totalDocs(unseeded),
      "the shuffle is a permutation: same admitted doc count")
    // a non-numeric seed is rejected at add time
    val e = intercept[GraftException](Dn.runConfig(Seq("curate-add", "ss2",
      s"--docs=$docs", s"--embeddings=$embs", "--shuffle-seed=x"), cfg))
    assert(e.getMessage.contains("bad --shuffle-seed"))
  }

  test("curate --ledger-out: the disposition ledger lands next to the manifest and accounts for the profile's quota tail (row 120)") {
    import org.apache.spark.sql.functions.{col, sum}
    val cfg = tempDir("graft-dn-curatelg")
      .resolve("graftrc")
    val out = tempDir("graft-dn-curatelg-out")
    val docs = s"$sf001/documents.parquet"
    val embs = s"$sf001/embeddings.parquet"
    // every source capped at 25 tokens — far below any doc population
    // that reaches the pack tail, so the quota stage provably rejects
    val caps = (0 until 20).map(i => s"src$i:25").mkString(",")
    Dn.runConfig(Seq("curate-add", "lg",
      s"--docs=$docs", s"--embeddings=$embs",
      s"--out=${out.resolve("manifest")}",
      s"--ledger-out=${out.resolve("ledger")}",
      s"--quotas=$caps"), cfg)
    val manifest = Dn.run(spark, Seq("curate", "lg"), cfg)
    val ledger = spark.read.parquet(out.resolve("ledger").toString)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // total coverage of the input corpus, one disposition per doc
    assert(ledger.length ==
      spark.read.parquet(docs).count(), "ledger must cover every doc")
    // the profile's quota tail is accounted: the binding src0 cap
    // produces source_quota rejections, and packed == manifest's docs
    assert(ledger.exists(_._2 == "source_quota"),
      "a binding source quota must appear as a ledger disposition")
    val packed = ledger.count(_._2 == "packed").toLong
    val manifestDocs = manifest.agg(sum(col("n_docs"))).head.getLong(0)
    assert(packed == manifestDocs,
      s"ledger packs $packed docs, the manifest packs $manifestDocs")
    // and the CLI artifact equals the library call with the same knobs
    val want = graft.dedup.Corpus.pipelineLedger(
        spark.read.parquet(docs), spark.read.parquet(embs),
        quotas = (0 until 20).map(i => s"src$i" -> 25L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ledger.toMap == want,
      "CLI ledger must equal the library pipelineLedger")
  }

  test("curate with weights: quotas are SOLVED by the water-filling " +
      "allocator, equal to the library composition") {
    val cfg = tempDir("graft-dn-curatew")
      .resolve("graftrc")
    val docs = s"$sf001/documents.parquet"
    val embs = s"$sf001/embeddings.parquet"
    val weights = (0 until 20).map(i => s"src$i:${(i % 4) + 1}")
      .mkString(",")
    Dn.runConfig(Seq("curate-add", "cw",
      s"--docs=$docs", s"--embeddings=$embs",
      s"--weights=$weights", "--budget=4/5"), cfg)
    assert(Dn.runConfig(Seq("curate-list", "-v"), cfg)
      .contains("(budget 4/5)"))
    val got = Dn.run(spark, Seq("curate", "cw"), cfg)
      .collect().map(_.toSeq).toSet
    // the library composition: solve the same mixture, feed the
    // allocations as the pack-tail quotas
    val d = spark.read.parquet(docs)
    val solved = graft.dedup.Corpus.mixSolve(d,
        (0 until 20).map(i => s"src$i" -> ((i % 4) + 1L)).toMap,
        budgetNum = 4L, budgetDen = 5L)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("alloc"))
      .collect().toSeq.map(r => r.getString(0) -> r.getLong(1))
    val want = graft.dedup.Corpus.pipeline(d, spark.read.parquet(embs),
        quotas = solved)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // weights and explicit quotas are mutually exclusive at add time
    intercept[GraftException](Dn.runConfig(Seq("curate-add", "cboth",
      s"--docs=$docs", s"--embeddings=$embs",
      "--weights=src0:1", "--quotas=src0:100"), cfg))
    // non-positive weights rejected at add time
    intercept[GraftException](Dn.runConfig(Seq("curate-add", "cneg",
      s"--docs=$docs", s"--embeddings=$embs", "--weights=src0:0"), cfg))
  }
}
