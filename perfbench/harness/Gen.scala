package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

/**
 * Seeded input generator: `Gen <workload> <seed> <dir>` writes the
 * workload's input files, `ops.json` (what the harness runs) and
 * `expected.json` (the answers, from this generator's own tally of the
 * records it wrote — never from graft). Same seed, same bytes.
 */
object Gen {
  /** Input sizes; the README's input table mirrors these. */
  object Size {
    val Days = 3; val NewDays = 1; val PerFile = 200
    val StreamDays = 2; val StreamPerFile = 100; val StreamFilesPerTrigger = 16
    val Docs = 1600; val Families = 200; val NearPerFamily = 3
    val WarmPerFile = 10; val WarmDocs = 200; val WarmFamilies = 25
  }
  val EditRates = Vector(0.03, 0.06, 0.09, 0.12, 0.18)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, dirS) = args
    val seed = seedS.toLong
    val dir = Paths.get(dirS)
    Files.createDirectories(dir)
    workload match {
      case "logs" => logs(seed, dir)
      case "corpus-clean" => corpusClean(seed, dir)
      case w => sys.error(s"unknown workload $w")
    }
  }

  private def rng(seed: Long, salt: Int) = new Random(seed * 1000003L + salt)

  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** The warm-up round's inputs (set-up runs one whole round on them):
    * the layout of the measured trees, with fewer lines per file. */
  private def warmTrees(seed: Long, dir: Path): Unit = {
    val r = rng(seed, 9)
    val w = dir.resolve("warm")
    Logs.writeTree(w.resolve("logs"), r, Logs.Start, Size.Days, Size.WarmPerFile)
    Logs.writeTree(w.resolve("logs-new"), r, Logs.Start.plusDays(Size.Days),
      Size.NewDays, Size.WarmPerFile)
    Logs.writeTree(w.resolve("stream"), r, Logs.Start, Size.StreamDays, Size.WarmPerFile)
  }

  // ---- logs: the scan queries ------------------------------------------

  /** A random comparison of the given op over a random field, with a
    * literal drawn from that field's domain. */
  private def cmp(r: Random, op: String): Cmp = r.nextInt(5) match {
    case 0 if op == "eq" || op == "ne" =>
      Cmp(op, "req.method", Rec.Methods(r.nextInt(Rec.Methods.size))._1)
    case 1 => Cmp(op, "res.statusCode", Rec.Statuses(r.nextInt(Rec.Statuses.size))._1)
    case 2 => Cmp(op, "host", Rec.Hosts(r.nextInt(Rec.Hosts.size)))
    case 3 => Cmp(op, "operation", Rec.Ops(r.nextInt(Rec.Ops.size)))
    case _ => Cmp(op, "latency", (10 + r.nextInt(200)).toLong)
  }

  private val Plain = Vector("req.method", "res.statusCode", "host", "operation")

  /** The conservation count and one more full-range query, then a 1-day
    * query bounded at midnights and a 2-day one bounded at a random
    * millisecond (dragnet rounds both bounds up to whole seconds).
    * Together they use every krill op and every breakdown kind. The
    * shapes and bound widths are fixed, so every seed selects the same
    * number of day directories (1 and 3). */
  def scanQueries(r: Random, days: Int): Vector[(String, Query)] = {
    def pick(op: String) = cmp(r, op)
    val conservation = Query(None, Nil, None, None) // every valid record
    val full = Query(
      Some(OrP(Seq(Cmp("ge", "res.statusCode", 500L), AndP(Seq(pick("gt"), pick("ne")))))),
      Seq(Bd.date("day", 86400), Bd.plain("host"), Bd.quantize("latency")), None, None)
    val a1 = Logs.dayMs(Logs.Start.plusDays(r.nextInt(days)))
    val day = Query(Some(OrP(Seq(pick("eq"), pick("le")))),
      Seq(Bd.lquantize("latency", 100)), Some(a1), Some(a1 + Logs.DayMs))
    val a2 = Logs.dayMs(Logs.Start.plusDays(r.nextInt(days - 2))) + r.nextInt(24 * 3600 * 1000)
    val twoDays = Query(Some(AndP(Seq(pick("ge"), pick("lt")))),
      Seq(Bd.date("hour", 3600), Bd.plain(Plain(r.nextInt(Plain.size)))),
      Some(a2), Some(a2 + 2 * Logs.DayMs))
    Vector("full" -> conservation, "full" -> full, "pruned" -> day, "pruned" -> twoDays)
  }

  private def queryOp(kind: String, q: Query): Map[String, Any] = Map(
    "kind" -> kind,
    "filter" -> q.filter.map(_.json),
    "breakdowns" -> q.attrs,
    "after" -> q.afterMs.map(iso),
    "before" -> q.beforeMs.map(iso))

  /** The scan queries over the tree: their ops and expected rows. */
  def scan(seed: Long, recs: Vector[Rec]): (Map[String, Any], Map[String, Any]) = {
    val qs = scanQueries(rng(seed, 2), Size.Days)
    (Map("queries" -> qs.map { case (k, q) => queryOp(k, q) }),
     Map("valid_records" -> recs.size,
      "queries" -> qs.map { case (_, q) => q.tally(recs.iterator) }))
  }

  // ---- logs: the batch index -------------------------------------------

  /** The three indexed metrics: name, attr string, dims as tally columns. */
  val Metrics: Vector[(String, String, Seq[Bd])] = Vector(
    ("by_method_status", "req.method,res.statusCode",
      Seq(Bd.plain("req.method"), Bd.plain("res.statusCode"))),
    ("by_host_op", "host,operation", Seq(Bd.plain("host"), Bd.plain("operation"))),
    ("latency_by_op", "operation,latency[aggr=quantize]",
      Seq(Bd.plain("operation"), Bd.quantize("latency"))))

  /** dragnet's metric choice: the first metric gathering every field the
    * query needs. */
  def metricFor(fields: Set[String]): (String, String, Seq[Bd]) =
    Metrics.find(m => fields.subsetOf(m._3.map(_.name).toSet)).get

  /** An index query: the record must carry every dim of the serving
    * metric (the build drops it otherwise) and a parseable time. */
  final case class IndexQuery(interval: String, q: Query) {
    val metric: (String, String, Seq[Bd]) =
      metricFor(q.bds.map(_.name).toSet ++ q.filter.toSeq.flatMap(fieldsOf))
    def tally(recs: Iterator[Rec]): Seq[Seq[Any]] =
      q.tally(recs.filter(r => r.timeOk && metric._3.forall(_.value(r).isDefined)))
  }

  private def fieldsOf(p: Pred): Seq[String] = p match {
    case Cmp(_, f, _) => Seq(f)
    case AndP(ps) => ps.flatMap(fieldsOf)
    case OrP(ps) => ps.flatMap(fieldsOf)
  }

  /** One query per metric shape; the shapes and bound widths are fixed,
    * literals and placement are seeded, bounds are aligned to the
    * interval. */
  def indexQueries(r: Random, days: Int, newDays: Int): Vector[IndexQuery] = {
    def dims(m: Int) = Metrics(m)._3.map(d => Bd(d.name, d.name, d.value))
    def pick[T](xs: Vector[T]): T = xs(r.nextInt(xs.size))
    def hours(span: Int): (Option[Long], Option[Long]) = {
      val after = Logs.dayMs(Logs.Start) + r.nextInt(days * 24 - span + 1) * Logs.HourMs
      (Some(after), Some(after + span * Logs.HourMs))
    }
    // day index, unbounded
    val q0 = IndexQuery("day", Query(Some(Cmp("eq", "req.method", pick(Rec.Methods)._1)),
      dims(0), None, None))
    // hour index, 3 hours
    val f1 = Cmp("ne", "host", pick(Rec.Hosts))
    val (a1, b1) = hours(3)
    val q1 = IndexQuery("hour", Query(Some(f1), dims(1), a1, b1))
    // day index, 2 days at midnight, which may reach into the appended day
    val f2 = Cmp("lt", "operation", pick(Rec.Ops))
    val a2 = Logs.dayMs(Logs.Start.plusDays(r.nextInt(days + newDays - 1)))
    val q2 = IndexQuery("day", Query(Some(f2), dims(2), Some(a2), Some(a2 + 2 * Logs.DayMs)))
    // hour index, 12 hours, one dim of a two-dim metric, no filter
    val (a3, b3) = hours(12)
    val q3 = IndexQuery("hour", Query(None, dims(0).take(1), a3, b3))
    Vector(q0, q1, q2, q3)
  }

  /** The index built over the tree, updated with the appended day, and
    * queried before and after: ops and expected rows. */
  def index(seed: Long, recs: Vector[Rec], added: Vector[Rec]): (Map[String, Any], Map[String, Any]) = {
    val qs = indexQueries(rng(seed, 4), Size.Days, Size.NewDays)
    def answers(dayRecs: Vector[Rec]) = qs.map { iq =>
      iq.tally((if (iq.interval == "day") dayRecs else recs).iterator) }
    (Map("metrics" -> Metrics.map { case (n, a, _) => Map("name" -> n, "breakdowns" -> a) },
      "queries" -> qs.map(iq => queryOp(iq.interval, iq.q) + ("interval" -> iq.interval))),
     Map("before_update" -> answers(recs), "after_update" -> answers(recs ++ added)))
  }

  /** The logs workload: one raw tree scanned and indexed, an appended
    * day for the index update, a second tree for the stream. */
  def logs(seed: Long, dir: Path): Unit = {
    val r = rng(seed, 1)
    val recs = Logs.writeTree(dir.resolve("logs"), r, Logs.Start, Size.Days, Size.PerFile)
    val added = Logs.writeTree(dir.resolve("logs-new"), r,
      Logs.Start.plusDays(Size.Days), Size.NewDays, Size.PerFile)
    warmTrees(seed, dir)
    val parts = Seq("scan" -> scan(seed, recs), "index" -> index(seed, recs, added),
      "stream" -> stream(seed, dir))
    Json.writeFile(dir.resolve("ops.json"), parts.map { case (k, v) => k -> v._1 }.toMap)
    Json.writeFile(dir.resolve("expected.json"), parts.map { case (k, v) => k -> v._2 }.toMap)
  }

  // ---- logs: the streaming index build ---------------------------------

  val StreamFilter: Pred = Cmp("ne", "res.statusCode", 404L)
  val StreamBds: Seq[Bd] = Seq(Bd.plain("req.method"), Bd.plain("operation"))

  /** A second tree replayed as a file stream through hourly windows:
    * its ops and, per hourly window, the expected rows. */
  def stream(seed: Long, dir: Path): (Map[String, Any], Map[String, Any]) = {
    val recs = Logs.writeTree(dir.resolve("stream"), rng(seed, 3), Logs.Start,
      Size.StreamDays, Size.StreamPerFile)
    // every hourly window's rows: (window start secs, method, op, count)
    val windows = Query(Some(StreamFilter),
      Bd.date("window_start", 3600) +: StreamBds, None, None)
      .tally(recs.iterator.filter(_.timeOk))
    // records a sink row can hold: a parseable time and every breakdown
    val inSink = recs.filter(r => r.timeOk && StreamBds.forall(_.value(r).isDefined))
    // served from the sink: day-aligned bounds over the first day, which
    // the final watermark has closed
    val served = StreamBds.map(bd => Query(Some(StreamFilter), Seq(bd),
      Some(Logs.dayMs(Logs.Start)), Some(Logs.dayMs(Logs.Start.plusDays(1)))))
    (Map(
      "filter" -> StreamFilter.json,
      "breakdowns" -> StreamBds.map(_.attr).mkString(","),
      "files_per_trigger" -> Size.StreamFilesPerTrigger,
      // the sink holds filtered rows already: serve without the filter
      "queries" -> served.map(q => queryOp("served", q.copy(filter = None)))),
     Map(
      "valid_records" -> recs.size,
      "windows" -> windows,
      "served" -> served.map(_.tally(inSink.iterator))))
  }

  // ---- corpus-clean ----------------------------------------------------

  /** A flat vocabulary: unrelated docs share few 3-word shingles. */
  private def vocab(r: Random): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000)
      seen += Iterator.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    seen.toVector
  }

  final case class Doc(text: String, family: Int)

  /** Same words, other case and whitespace: an exact duplicate after
    * graft's whitespace/case normalisation. */
  private def restyle(r: Random, words: Vector[String]): String =
    words.zipWithIndex.map { case (w, i) =>
      val w2 = if (i == 0 || r.nextInt(20) == 0) w.capitalize else w
      if (i == 0) w2 else (if (r.nextInt(15) == 0) "  " else if (r.nextInt(40) == 0) "\n" else " ") + w2
    }.mkString

  def docs(r: Random, n: Int, families: Int): Vector[Doc] = {
    val v = vocab(r)
    def words() = Vector.fill(150 + r.nextInt(40))(v(r.nextInt(v.size)))
    val fam = (0 until families).flatMap { f =>
      val base = words()
      Doc(base.mkString(" "), f) +:
        Doc(restyle(r, base), f) +:
        (0 until Size.NearPerFamily).map { j =>
          // rates cycle over families: every seed plants the same mix
          val e = EditRates((f * Size.NearPerFamily + j) % EditRates.size)
          Doc(base.map(w => if (r.nextDouble() < e) v(r.nextInt(v.size)) else w)
            .mkString(" "), f)
        }
    }
    val single = Vector.fill(n - fam.size)(Doc(words().mkString(" "), -1))
    r.shuffle(fam.toVector ++ single) // doc_id = position
  }

  /** graft's exact-dup key, restated: lower-case, collapse whitespace. */
  def normalize(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT).split("[ \t\n\u000b\f\r]+").filter(_.nonEmpty).mkString(" ")

  private def writeCorpus(path: Path, ds: Vector[Doc]): Unit = {
    val sb = new StringBuilder
    ds.zipWithIndex.foreach { case (d, id) =>
      sb.append(Json.render(Map("doc_id" -> id, "text" -> d.text))).append('\n') }
    Files.write(path, sb.toString.getBytes("UTF-8"))
  }

  def corpusClean(seed: Long, dir: Path): Unit = {
    val ds = docs(rng(seed, 1), Size.Docs, Size.Families)
    writeCorpus(dir.resolve("corpus.jsonl"), ds)
    // the warm-up round's corpus, under warm/ as the logs' warm-up trees
    Files.createDirectories(dir.resolve("warm"))
    writeCorpus(dir.resolve("warm").resolve("corpus.jsonl"),
      docs(rng(seed, 9), Size.WarmDocs, Size.WarmFamilies))
    val keepers = ds.indices.groupBy(i => normalize(ds(i).text)).values.map(_.min).toSeq.sorted
    Json.writeFile(dir.resolve("ops.json"), Map("input_docs" -> ds.size))
    Json.writeFile(dir.resolve("expected.json"), Map(
      "docs" -> ds.size,
      "exact_keepers" -> keepers,
      "family" -> ds.map(_.family)))
  }
}
