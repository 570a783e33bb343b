package graft

import scala.util.Random

import graft.filter.{And, Cmp, Or, Pred}

/**
 * QUERY-SPACE fuzzing (r18 verdict item 7): FuzzSpec fuzzes the DATA;
 * this fuzzes the QueryConfig space — seeded random filter trees ×
 * breakdown combinations × quantize/lquantize steps × date parsing ×
 * time bounds — and replays every generated config against DuckDB
 * through the same one-config-two-renderings discipline the
 * hand-picked gates use (`Scan.scan` vs `Scan.scanSql`, both derived
 * from ONE QueryConfig, so the contract under test is the rendering
 * pair itself, at 200 points instead of a dozen).
 *
 * Generation is type-consistent by construction (string fields compare
 * to strings, numeric to exact-in-both-engines numeric literals) —
 * the contract fuzzed here is operator composition, not the
 * value-parsing zoo (scan_date_formats pins that separately).
 * Seed overridable via GRAFT_QUERYFUZZ_SEED for sweeps.
 */
class QueryFuzzSpec extends SparkSpec {

  private val NConfigs = 200

  private def cmpOp(r: Random): String =
    Seq("eq", "ne", "lt", "le", "gt", "ge")(r.nextInt(6))

  /** Type-consistent random leaf over the events schema. */
  private def leaf(r: Random): Pred = r.nextInt(4) match {
    case 0 => Cmp(cmpOp(r), "user_id", r.nextInt(200).toLong)
    case 1 => Cmp(cmpOp(r), "event_type",
      Seq("click", "view", "purchase", "error", "zz")(r.nextInt(5)))
    case 2 => Cmp(cmpOp(r), "value",
      // exact-in-both-engines doubles: quarters
      (r.nextInt(4000) * 0.25): java.lang.Double)
    case _ => Cmp(cmpOp(r), "props.k", r.nextInt(50).toLong)
  }

  private def pred(r: Random, depth: Int): Pred =
    if (depth == 0 || r.nextInt(3) > 0) leaf(r)
    else {
      val kids = Seq.fill(2 + r.nextInt(2))(pred(r, depth - 1))
      if (r.nextBoolean()) And(kids) else Or(kids)
    }

  /** Random breakdown spec, output-aliased b$i (unique per config). */
  private def breakdown(r: Random, i: Int): FieldSpec = r.nextInt(8) match {
    case 0 => FieldSpec(s"b$i", "event_type")
    case 1 => FieldSpec(s"b$i", "user_id")
    case 2 => FieldSpec(s"b$i", "props.k")
    case 3 => FieldSpec(s"b$i", "value", aggr = Some("quantize"))
    case 4 => FieldSpec(s"b$i", "value", aggr = Some("lquantize"),
      step = Some(Seq(0.5, 2.0, 10.0)(r.nextInt(3))))
    case 5 => FieldSpec(s"b$i", "user_id", aggr = Some("lquantize"),
      step = Some(Seq(7.0, 50.0)(r.nextInt(2))))
    case 6 => FieldSpec(s"b$i", "props.k", aggr = Some("quantize"))
    case _ => FieldSpec(s"b$i", "ts", isDate = true,
      aggr = Some("lquantize"),
      step = Some(Seq(3600.0, 86400.0)(r.nextInt(2))))
  }

  private def instant(r: Random): java.time.Instant =
    // ms-granular within the synthetic events range, so the
    // ceil-to-seconds bound rounding is genuinely exercised
    java.time.Instant.parse("2024-01-01T00:00:00Z")
      .plusMillis(r.nextInt(14 * 24 * 3600) * 1000L + r.nextInt(1000))

  private def config(r: Random): QueryConfig = {
    val nb = r.nextInt(3)
    val bounds = r.nextInt(3) // 0 none, 1 after, 2 both
    QueryConfig(
      filter = if (r.nextBoolean()) Some(pred(r, 2)) else None,
      breakdowns = (0 until nb).map(i => breakdown(r, i)),
      timeField = if (bounds > 0) Some("ts") else None,
      after = if (bounds > 0) Some(instant(r)) else None,
      before = if (bounds > 1) Some(instant(r).plusSeconds(3600)) else None)
  }

  private def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  test(s"$NConfigs seeded random QueryConfigs replay in DuckDB " +
      "(filter trees x breakdowns x quantize/lquantize x date x bounds)") {
    val probe = try {
      val p = new ProcessBuilder("python3", "-c",
        "import duckdb, pyarrow, pandas").start()
      p.waitFor(); p.exitValue() == 0
    } catch { case _: java.io.IOException => false }
    assume(probe, "python3 + duckdb not available")
    assume(new java.io.File(sf001).isDirectory, "driver testdata not present")
    val checker = new java.io.File("tools/check.py")
    assume(checker.exists(), "tools/check.py not found")

    val seed = sys.env.get("GRAFT_QUERYFUZZ_SEED")
      .flatMap(_.toLongOption).getOrElse(19L)
    val r = new Random(seed)
    val events = graft.sources.Sources.events(spark, sf001)
    val out = tempDir("graft-queryfuzz").toString
    val oracle = Seq.newBuilder[(String, String)]
    (0 until NConfigs).foreach { i =>
      val cfg = config(r)
      val name = f"qf_$i%03d"
      Scan.scan(events, cfg, CoreScanQueries.rs)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      oracle += name -> Scan.scanSql("events", cfg, CoreScanQueries.rq)
    }
    val json = oracle.result()
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)

    val chk = new ProcessBuilder("python3", checker.getAbsolutePath,
      sf001, out).redirectErrorStream(true).start()
    val chkOut = scala.io.Source.fromInputStream(chk.getInputStream).mkString
    chk.waitFor()
    val fails = chkOut.linesIterator.filter(_.startsWith("FAIL")).toSeq
    assert(chk.exitValue() == 0 && fails.isEmpty,
      s"seed $seed divergences (${fails.size}/$NConfigs):\n" +
        fails.take(10).mkString("\n"))
  }
}
