package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{AttrParser, QueryConfig, Scan}
import graft.dedup.{Corpus, Dedup}
import graft.filter.Krill
import graft.index.Index
import graft.sources.Sources
import graft.streaming.StreamScan

/** CPU seconds this JVM has used, all threads (JIT and GC included). */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Double = os.getProcessCpuTime / 1e9
}

/**
 * The measured run: `Bench <workload> <data dir> <work dir> <seconds>
 * <trace 0|1> <result file>`. Starts one local[nproc] session, warms it
 * with one whole round on small inputs of the same layout, then repeats
 * whole rounds of the workload's op sequence until `seconds` have passed. Every call into a
 * graft layer is timed from outside; the first round's answers go to
 * `actual.json` for the checker, and later rounds must reproduce them.
 * The result file carries counts and metrics; stdout is left to Spark.
 */
object Bench {

  final class Run(val data: Path, val work: Path, val trace: Option[Trace]) {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    var inconsistent = List.empty[String]

    /** JVM CPU seconds since `c0` (a [[Cpu.now]] reading). */
    def cpu(name: String, c0: Double): Unit = add(s"$name.cpu", Cpu.now() - c0)

    def add(name: String, v: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    def count(name: String, v: Double): Unit =
      counts(name) = counts.getOrElse(name, 0.0) + v

    /** Time one call into a layer; the span name also tags its Spark jobs
      * in a traced round. Returns the value and the seconds it took. */
    def span[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = trace match {
        case Some(t) => t.inSpan(name)(body)
        case None => body
      }
      val s = (System.nanoTime() - t0) / 1e9
      add(name, s)
      (v, s)
    }

    /** One operation of the round; a thrown exception counts as failed. */
    def op[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[graftbench] op $name failed: $e")
        e.printStackTrace()
        None
      }
    }
  }

  /** A result row as plain JSON values (Long, Double, String). */
  def plain(r: Row): Seq[Any] = r.toSeq.map {
    case i: java.lang.Integer => i.toLong
    case t: java.sql.Timestamp => t.getTime / 1000L
    case x => x
  }

  /** A query of ops.json as graft's config; `time` is the time field. */
  def cfgOf(q: com.fasterxml.jackson.databind.JsonNode): QueryConfig = {
    def opt(k: String) = Option(q.get(k)).filterNot(_.isNull).map(_.asText)
    QueryConfig(
      filter = opt("filter").map(Krill.parse),
      breakdowns = opt("breakdowns").filter(_.nonEmpty).map(AttrParser.parse).getOrElse(Nil),
      timeField = Some("time"),
      after = opt("after").map(java.time.Instant.parse),
      before = opt("before").map(java.time.Instant.parse))
  }

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** A workload: its set-up (timed into setup_s: one round on the small
    * inputs under `warm/`, so the measured rounds do not carry the JVM's
    * first-use costs of any op) and one round. */
  trait Workload {
    def setUp(spark: SparkSession, warm: Run): Unit = round(spark, warm)
    /** Runs the round; returns its answers (for the first-round dump and
      * the consistency check of later rounds). */
    def round(spark: SparkSession, run: Run): Map[String, Any]
    def endToEnd(run: Run): Seq[(String, Double)]
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-round samples without the first measured round, when there are
    * later ones: it still carries the first use of the per-record code
    * paths at full input size. */
  def steady(xs: Iterable[Double]): Iterable[Double] = if (xs.size > 1) xs.drop(1) else xs

  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
  }

  // ---- the scan queries (part of logs) --------------------------------

  final class LogsScan(ops: com.fasterxml.jackson.databind.JsonNode) {
    val queries = ops.get("queries").elements().asScala.toVector

    /** Bytes and lines under each selected day directory. */
    private val sizes = mutable.HashMap.empty[String, (Long, Long)]
    private def selected(dirs: Seq[String]): (Long, Long) = {
      val per = dirs.map(d => sizes.getOrElseUpdate(d, {
        val files = Files.walk(Paths.get(new java.net.URI(d).getPath)).iterator().asScala
          .filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum,
         files.map(f => scala.util.Using.resource(Files.lines(f))(_.count())).sum)
      }))
      (per.map(_._1).sum, per.map(_._2).sum)
    }

    def round(spark: SparkSession, run: Run): Map[String, Any] = {
      val root = run.data.resolve("logs").toUri.toString
      val dirs = mutable.ArrayBuffer.empty[String]
      val c0 = Cpu.now()
      val answers = queries.map { q =>
        val cfg = cfgOf(q)
        val kind = q.get("kind").asText
        run.op(s"scan.$kind") {
          val c1 = Cpu.now()
          val (ds, tList) = run.span("sources.list") {
            Sources.dateLayoutDirs(spark, root, cfg.after, cfg.before) }
          val (df, tFrame) = run.span("sources.frame") {
            Sources.dateLayout(spark, root, cfg.after, cfg.before) }
          val (out, tPlan) = run.span("scan.plan") { Scan.scan(df, cfg) }
          val (rows, tExec) = run.span("scan.exec") { out.collect() }
          run.add(s"query.$kind", tList + tFrame + tPlan + tExec)
          run.cpu("query", c1)
          dirs ++= ds.map(_._2)
          run.count("dirs_selected", ds.size)
          run.count("queries", 1)
          run.count("output_rows", rows.length)
          rows.map(plain).toSeq
        }
      }
      run.cpu("scan", c0)
      // what the scans selected, counted outside the timed window
      val (bytes, lines) = selected(dirs.toSeq)
      run.count("selected_bytes", bytes.toDouble)
      run.count("selected_lines", lines.toDouble)
      Map("queries" -> answers)
    }
  }

  // ---- the batch index (part of logs) --------------------------------

  /** `Index.build` of the tree at day and hour, queries, `Index.update`
    * with the appended day, the queries again. */
  final class LogsIndex(ops: com.fasterxml.jackson.databind.JsonNode) {
    val metrics = ops.get("metrics").elements().asScala.toVector.map(m =>
      Index.Metric(m.get("name").asText, AttrParser.parse(m.get("breakdowns").asText)))
    val queries = ops.get("queries").elements().asScala.toVector

    private def queryAll(spark: SparkSession, run: Run, idx: String)
        : Seq[Option[Seq[Seq[Any]]]] = queries.map { q =>
      val cfg = cfgOf(q)
      run.op("index.query") {
        val (df, tPlan) = run.span("index.query.plan") {
          Index.query(spark, idx, metrics, cfg, q.get("interval").asText) }
        val (rows, tExec) = run.span("index.query.exec") { df.collect() }
        run.add("query", tPlan + tExec)
        if (run.trace.isDefined) run.count("files_read", filesRead(df))
        rows.map(plain).toSeq
      }
    }

    def round(spark: SparkSession, run: Run): Map[String, Any] = {
      val logs = run.data.resolve("logs")
      val idx = run.work.resolve("index")
      rmrf(idx)
      val idxS = idx.toUri.toString
      run.op("index.build") {
        val (df, _) = run.span("sources.frame") { Sources.dateLayout(spark, logs.toUri.toString) }
        run.span("index.build.day") { Index.build(df, metrics, idxS, "time", "day") }
        run.span("index.build.hour") { Index.build(df, metrics, idxS, "time", "hour") }
      }
      val before = queryAll(spark, run, idxS)
      run.op("index.update") {
        val (df, tFrame) = run.span("index.update.frame") {
          Sources.dateLayout(spark, run.data.resolve("logs-new").toUri.toString) }
        val (_, tUpd) = run.span("index.update") {
          Index.update(df, metrics, idxS, "time", "day") }
        run.add("update", tFrame + tUpd)
      }
      val after = queryAll(spark, run, idxS)
      run.count("selected_bytes", dirBytes(logs).toDouble)
      run.count("index_files", Files.walk(idx).iterator().asScala
        .count(p => p.getFileName.toString.startsWith("part-")).toDouble)
      Map("before_update" -> before, "after_update" -> after)
    }
  }

  /** Files the scans of an executed query read (`numFiles` of its file
    * scans, adaptive stages included). */
  def filesRead(df: DataFrame): Double = {
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    H.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
  }

  // ---- the streaming index build (part of logs) ------------------------

  /** A log tree replayed as a file stream (explicit schema, a fixed
    * number of files per trigger, AvailableNow) through
    * `StreamScan.scanStream` with hourly windows into
    * `StreamScan.indexSink`, then served with `Index.query`. */
  final class StreamIndex(ops: com.fasterxml.jackson.databind.JsonNode) {
    val schema = StructType(Seq(
      StructField("time", TimestampType),
      StructField("req", StructType(Seq(StructField("method", StringType),
        StructField("caller", StringType)))),
      StructField("res", StructType(Seq(StructField("statusCode", LongType)))),
      StructField("latency", LongType),
      StructField("host", StringType),
      StructField("operation", StringType)))
    val cfg = QueryConfig(filter = Some(Krill.parse(ops.get("filter").asText)),
      breakdowns = AttrParser.parse(ops.get("breakdowns").asText))
    val metric = Index.Metric("stream",
      ("window_start" +: cfg.breakdowns.map(_.name)).map(graft.FieldSpec.plain))
    val served = ops.get("queries").elements().asScala.toVector

    def round(spark: SparkSession, run: Run): Map[String, Any] = {
      val idx = run.work.resolve("stream-index")
      val ckpt = run.work.resolve("stream-ckpt")
      rmrf(idx); rmrf(ckpt)
      val idxS = idx.toUri.toString
      val sink = Index.metricPath(idxS, "day", metric.name)
      val progress = run.op("stream") {
        val (q, _) = run.span("streaming.run") {
          val input = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", ops.get("files_per_trigger").asText)
            .option("mode", "DROPMALFORMED")
            .json(run.data.resolve("stream").toUri.toString + "/*/*/*.log")
          val agg = StreamScan.scanStream(input, cfg, "time", "1 hour", "10 minutes")
          val q = StreamScan.indexSink(agg, sink, ckpt.toUri.toString, Trigger.AvailableNow())
          q.awaitTermination()
          q
        }
        q.recentProgress.toSeq
      }.getOrElse(Nil)
      val answers = served.map { q =>
        run.op("stream.served") {
          val (df, _) = run.span("stream.query.plan") {
            Index.query(spark, idxS, Seq(metric), cfgOf(q)) }
          val (rows, _) = run.span("stream.query.exec") { df.collect() }
          rows.map(plain).toSeq
        }
      }
      // the check's view of the sink; not timed
      val sinkRows = run.op("stream.sink") {
        spark.read.parquet(sink)
          .select(unix_seconds(col("window_start")) +: cfg.breakdowns.map(fs => col(s"`${fs.name}`")) :+
            col("value"): _*).collect().map(plain).toSeq
      }
      run.count("sink_files", Files.walk(idx).iterator().asScala
        .count(p => p.getFileName.toString.startsWith("part-")).toDouble)
      run.count("state_rows", progress.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal.toDouble).getOrElse(0.0))
      val watermark = progress.lastOption.map(p => java.time.Instant.parse(
        p.eventTime.getOrDefault("watermark", "1970-01-01T00:00:00Z")).toEpochMilli).getOrElse(0L)
      Map("watermark_ms" -> watermark,
        "input_rows" -> progress.map(_.numInputRows).sum,
        "sink" -> sinkRows, "served" -> answers)
    }

  }

  // ---- logs ------------------------------------------------------------

  /** One log tree scanned (sources + scan) and indexed (index), and a
    * second one replayed as a stream (streaming): one JVM's first-use
    * costs are paid once for all four layers. */
  final class Logs(ops: com.fasterxml.jackson.databind.JsonNode) extends Workload {
    val scan = new LogsScan(ops.get("scan"))
    val index = new LogsIndex(ops.get("index"))
    val stream = new StreamIndex(ops.get("stream"))

    def round(spark: SparkSession, run: Run): Map[String, Any] = Map(
      "scan" -> scan.round(spark, run),
      "index" -> index.round(spark, run),
      "stream" -> stream.round(spark, run))

    /** headline op: a scan query; items: lines in the directories the
      * scans of one round selected, per CPU second of those scans (the
      * median round) */
    def endToEnd(run: Run): Seq[(String, Double)] = Seq(
      "op_cpu_ms" -> 1000 * median(run.samples("query.cpu")),
      "op_ms" -> 1000 * median(run.samples("query.full") ++ run.samples("query.pruned")),
      "items_per_cpu_s" -> run.counts("selected_lines") / run.samples("scan.cpu").size /
        median(steady(run.samples("scan.cpu"))))
  }

  // ---- corpus-clean ----------------------------------------------------

  final class CorpusClean(ops: com.fasterxml.jackson.databind.JsonNode, data: Path)
      extends Workload {
    private var docs: DataFrame = _

    private def load(spark: SparkSession, p: Path): DataFrame = {
      val df = spark.read.schema("doc_id LONG, text STRING").json(p.toUri.toString)
        .repartition(spark.sparkContext.defaultParallelism).cache()
      df.count()
      df
    }

    def round(spark: SparkSession, run: Run): Map[String, Any] = {
      val d = docs
      def ids(rows: Array[Row]) = rows.map(_.getLong(0)).sorted.toSeq
      val exact = run.op("dedup.exact") {
        ids(run.span("dedup.exact") { Dedup.exactKeepers(d).collect() }._1)
      }
      val cands = run.op("dedup.candidates") {
        run.span("dedup.candidates") { Dedup.minhashCandidates(d).collect() }._1
          .map(plain).toSeq.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      }
      val verified = run.op("dedup.verify") {
        val c0 = Cpu.now()
        val (rows, _) = run.span("dedup.verify") { Dedup.jaccardVerified(d).collect() }
        run.cpu("verify", c0)
        rows.map(plain).toSeq.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      }
      val survivors = run.op("corpus.clean") {
        val c0 = Cpu.now()
        val (rows, _) = run.span("corpus.clean") {
          Corpus.clean(d).select("doc_id").collect() }
        run.cpu("clean", c0)
        ids(rows)
      }
      run.count("candidate_pairs", cands.map(_.size).getOrElse(0).toDouble)
      run.count("verified_pairs", verified.map(_.size).getOrElse(0).toDouble)
      Map("exact_keepers" -> exact, "candidates" -> cands, "verified" -> verified,
        "survivors" -> survivors)
    }

    /** a round over the small corpus; then the corpus, once, into memory */
    override def setUp(spark: SparkSession, warm: Run): Unit = {
      docs = load(spark, warm.data.resolve("corpus.jsonl"))
      round(spark, warm)
      docs.unpersist(blocking = true)
      docs = load(spark, data.resolve("corpus.jsonl"))
    }

    def endToEnd(run: Run): Seq[(String, Double)] = Seq(
      "op_cpu_ms" -> 1000 * median(run.samples("verify.cpu")),
      "op_ms" -> 1000 * median(run.samples("dedup.verify")),
      "items_per_cpu_s" -> ops.get("input_docs").asDouble / median(steady(run.samples("clean.cpu"))))
  }

  // ---- main ------------------------------------------------------------


  /** (steal, total) jiffies of the whole machine, from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally f.close()
  }

  /** CPU seconds per thread name (digits dropped) of this JVM's live
    * threads, from /proc/self/task; a diagnostic for the log. */
  def threadCpu(): Map[String, Double] = {
    val tick = 100.0
    val per = mutable.HashMap.empty[String, Double]
    Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty).foreach { t =>
      try {
        val st = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')')).replaceAll("[0-9]+", "#")
        val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
        per(name) = per.getOrElse(name, 0.0) + (f(11).toLong + f(12).toLong) / tick
      } catch { case _: Exception => () }
    }
    per.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataS, workS, secondsS, traceS, resultS) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val data = Paths.get(dataS).toAbsolutePath
    val work = Paths.get(workS).toAbsolutePath
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    rmrf(work)
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors
    // the dn CLI's session: local[nproc], one shuffle partition per core,
    // UTC; scratch space stays inside the work directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ops = Json.read(data.resolve("ops.json"))
    val w: Workload = workload match {
      case "logs" => new Logs(ops)
      case "corpus-clean" => new CorpusClean(ops, data)
    }
    val warm = new Run(data.resolve("warm"), work.resolve("warm"), None)
    w.setUp(spark, warm)
    // set-up in CPU seconds of the whole JVM since its start; its wall
    // time followed host CPU steal (README) and is a per-layer metric
    val setupCpuS = Cpu.now()
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setupThreads = threadCpu()

    // A measured run repeats whole rounds until `seconds` have passed, two
    // at least; the end-to-end metrics are medians over the rounds after
    // the first (see `steady`). A traced run does two: an untraced one,
    // whose answers are checked like any run's, and the traced one; the
    // pair gives the tracing overhead.
    val trace = if (traced) Some(new Trace(spark)) else None
    val plainRun = new Run(data, work, None)
    val tracedRun = new Run(data, work, trace)
    var first: Option[Map[String, Any]] = None
    val cpu0 = cpuJiffies()
    val t0 = System.nanoTime()
    var i = 0
    def next(): Option[Run] =
      if (traced) Seq(plainRun, tracedRun).lift(i)
      else if (i < 2 || (System.nanoTime() - t0) / 1e9 < seconds) Some(plainRun)
      else None
    var run = next()
    while (run.isDefined) {
      val r = run.get
      if (r eq tracedRun) trace.get.attach()
      System.gc() // each round starts on an emptied heap
      val r0 = System.nanoTime()
      val c0 = Cpu.now()
      val answers = w.round(spark, r)
      r.add("round", (System.nanoTime() - r0) / 1e9)
      r.cpu("round", c0)
      first match {
        case None =>
          first = Some(answers)
          Json.writeFile(work.resolve("actual.json"), answers)
        case Some(a) =>
          if (Json.render(a) != Json.render(answers))
            plainRun.inconsistent ::= s"round $i answers differ from round 0"
      }
      i += 1
      run = next()
    }
    trace.foreach(_.detach())
    val cpu1 = cpuJiffies()
    val stealPct = 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)
    System.err.println(f"[graftbench] set-up $setupWallS%.2f s wall, $setupCpuS%.2f s cpu; " +
      f"cpu steal over the measured rounds: $stealPct%.2f%%")
    val roundThreads = threadCpu().map { case (k, v) => k -> (v - setupThreads.getOrElse(k, 0.0)) }
    roundThreads.toSeq.sortBy(-_._2).take(12).foreach { case (k, v) =>
      System.err.println(f"[graftbench] rounds' thread cpu $k%-32s $v%.2f s") }
    for ((label, r) <- Seq("warm" -> warm, "plain" -> plainRun, "traced" -> tracedRun);
         (k, v) <- r.samples)
      System.err.println(f"[graftbench] $label%-6s $k%-24s n=${v.size}%4d median=${median(v)}%.4f sum=${v.sum}%.3f" +
        (if (k.startsWith("round")) v.map(x => f"$x%.2f").mkString(" [", " ", "]") else ""))

    val runs = Seq(plainRun, tracedRun)
    val e2e = w.endToEnd(plainRun).toMap
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupCpuS, "s"),
        ("cpu_s", median(steady(plainRun.samples("round.cpu"))), "s"),
        ("items_per_cpu_s", e2e("items_per_cpu_s"), "1/s"))
      else {
        def one(r: Run, k: String) = median(r.samples(k))
        Layers.metrics(tracedRun, trace.get, cpus) ++ Seq(
          ("wall.setup_s", setupWallS, "s"),
          ("wall.run_s", one(plainRun, "round"), "s"),
          ("wall.op_ms", e2e("op_ms"), "ms"),
          ("cpu.op_ms", e2e("op_cpu_ms"), "ms"),
          ("trace.overhead_pct", 100 * (one(tracedRun, "round") / one(plainRun, "round") - 1), "%"),
          ("trace.cpu_overhead_pct", 100 * (one(tracedRun, "round.cpu") / one(plainRun, "round.cpu") - 1), "%"),
          ("host.steal_pct", stealPct, "%"))
      }
    Json.writeFile(Paths.get(resultS), Map(
      "attempted" -> runs.map(_.attempted).sum,
      "failed" -> runs.map(_.failed).sum,
      "rounds" -> i,
      "inconsistent" -> plainRun.inconsistent,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
        .to(scala.collection.immutable.ListMap)))
    spark.stop()
  }
}
