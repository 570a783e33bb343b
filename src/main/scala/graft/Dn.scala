package graft

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.filter.Krill
import graft.index.Index
import graft.index.Index.Metric
import graft.sources.Sources

/**
 * CLI parity with the reference's `dn` tool (bin/dn, share/usage.txt):
 * the full subcommand surface — datasource / metric configuration CRUD
 * persisted to [[DnConfig]] (`~/.graftrc`, the analog of `~/.dragnetrc`),
 * index-config / index-read / index-scan, and the scan / build / query
 * data commands, which accept either direct `--data=`/`--index=` paths
 * or a configured DATASOURCE name as the positional argument.
 *
 *   dn datasource-add    --path=P [--backend=B] [--index-path=P]
 *                        [--filter=F] [--time-field=F] [--time-format=T]
 *                        [--data-format=json|json-skinner|parquet] DS
 *   dn datasource-update [same flags] DS
 *   dn datasource-list   [-v]          dn datasource-show [-v] DS
 *   dn datasource-remove DS
 *   dn metric-add        [--breakdowns=B] [--filter=F] DS METRIC
 *   dn metric-list       [-v] DS        dn metric-remove DS METRIC
 *   dn index-config      DS
 *   dn index-read        [--metric=M] [--interval=I] DS
 *   dn index-scan        [--metric=M] [--interval=I] [--after/--before] DS
 *   dn scan  [--data=PATH | DS] --breakdowns=SPECS [--filter=KRILL_JSON]
 *            [--time-field=F] [--after=ISO] [--before=ISO] [--points]
 *            [--counters] [--raw] [--gnuplot]
 *   dn build [--data=PATH --index=PATH | DS] [--breakdowns=SPECS]
 *            [--filter=…] [--time-field=F] [--interval=day|hour|all]
 *   dn query [--index=PATH | DS] --breakdowns=SPECS [--filter=…]
 *            [--time-field=F] [--after=ISO] [--before=ISO]
 *
 * `--data` reads parquet when the path ends in .parquet, a `%Y/%m-%d`
 * ndjson tree when the directory looks date-laid-out (file pruning by
 * --after/--before, like the reference), plain ndjson otherwise.
 * `run(...)` is the testable surface; `main` prints the result (with
 * dragnet-style histograms for trailing aggr columns via [[Format]],
 * `--raw` JSON lines, or a `--gnuplot` script).
 */
object Dn {

  /** `dn` usage block (reference: share/usage.txt, printed by bin/dn's
    * usage() on a missing/unknown subcommand) — adapted to graft's flag
    * surface: `--data`/`--index` direct paths coexist with configured
    * DATASOURCE names, `parquet` joins the data formats, and the manta
    * backend / assetroot options have no analog here (Hadoop FS is the
    * pluggable backend). */
  val usageText: String =
    """usage: dn [-t] SUBCOMMAND [OPTIONS] ARGS
      |
      |dn datasource-add    [--backend=NAME] --path=DATA_PATH
      |                     [--index-path=INDEX_PATH] [--filter=FILTER]
      |                     [--time-field=FIELD] [--time-format=TIME_FORMAT]
      |                     [--data-format=json|json-skinner|parquet] DATASOURCE
      |dn datasource-update [--backend=NAME] [--path=DATA_PATH]
      |                     [--index-path=INDEX_PATH] [--filter=FILTER]
      |                     [--time-field=FIELD] [--time-format=TIME_FORMAT]
      |                     [--data-format=json|json-skinner|parquet] DATASOURCE
      |dn datasource-list   [-v]
      |dn datasource-remove DATASOURCE
      |dn datasource-show   [-v] DATASOURCE
      |
      |dn metric-add        [--breakdowns=BREAKDOWN[,...]] [--filter=FILTER]
      |                     DATASOURCE METRIC
      |dn metric-list       [-v] DATASOURCE
      |dn metric-remove     DATASOURCE METRIC
      |
      |dn build             [--after=START_TIME] [--before=END_TIME]
      |                     [--interval=hour|day|all] [--index-config=CONFIG_FILE]
      |                     [--breakdowns=BREAKDOWN[,...]] [--filter=FILTER]
      |                     [--time-field=FIELD] [--dry-run] [--counters]
      |                     DATASOURCE | --data=PATH --index=PATH
      |
      |dn query             [--after=START_TIME] [--before=END_TIME] [--filter=FILTER]
      |                     [--breakdowns=BREAKDOWN[,...]] [--interval=hour|day|all]
      |                     [--metric=NAME] [--metric-breakdowns=BREAKDOWN[,...]]
      |                     [--raw] [--points] [--counters] [--gnuplot] [--dry-run]
      |                     DATASOURCE | --index=PATH
      |
      |dn scan              [--after=START_TIME] [--before=END_TIME] [--filter=FILTER]
      |                     [--breakdowns=BREAKDOWN[,...]] [--time-field=FIELD]
      |                     [--time-format=TIME_FORMAT] [--data-format=FORMAT]
      |                     [--raw] [--points] [--counters] [--warnings] [--gnuplot]
      |                     [--dry-run] DATASOURCE | --data=PATH
      |
      |dn compact           [--interval=hour|day] [--metric=NAME]
      |                     DATASOURCE | --index=PATH
      |
      |dn curate-add        --docs=PATH --embeddings=PATH [--out=PATH]
      |                     [--domain-floor-milli=N] [--quotas=SRC:CAP[,...]]
      |                     [--weights=SRC:W[,...] [--budget=N/D]]
      |                     [--lang-quotas=LANG:CAP[,...]]
      |                     [--from-html=true|false] [--eval-mod=N]
      |                     [--seq-len=N] [--shards=N]
      |                     [--shuffle-seed=N] [--ledger-out=PATH] CURATION
      |dn curate-list       [-v]
      |dn curate-remove     CURATION
      |dn curate            [--dry-run] CURATION
      |
      |dn index-config      DATASOURCE
      |dn index-read        [--index-config=INDEX_CONFIG_FILE] [--metric=NAME]
      |                     [--interval=hour|day|all] DATASOURCE
      |dn index-scan        [--index-config=INDEX_CONFIG_FILE] [--metric=NAME]
      |                     [--interval=hour|day|all]
      |                     [--after=START_TIME] [--before=END_TIME] [--filter=FILTER]
      |                     [--breakdowns=BREAKDOWN[,...]] [--counters] [--warnings]
      |                     DATASOURCE
      |""".stripMargin

  final case class DnArgs(
      mode: String,
      flags: Map[String, String],
      positional: Seq[String],
      points: Boolean,
      counters: Boolean,
      warnings: Boolean,
      verbose: Boolean,
      raw: Boolean,
      gnuplot: Boolean,
      dryRun: Boolean)

  private val configModes = Set("datasource-add", "datasource-update",
    "datasource-list", "datasource-remove", "datasource-show",
    "metric-add", "metric-list", "metric-remove", "index-config",
    "curate-add", "curate-remove", "curate-list")
  private val dataModes = Set("scan", "build", "query", "index-read",
    "index-scan", "compact", "curate")

  private val knownFlags = Set("data", "breakdowns", "filter", "time-field",
    "after", "before", "index", "interval", "metric-breakdowns",
    "data-format", "backend", "path", "index-path", "time-format", "metric",
    "index-config", "docs", "embeddings", "out", "domain-floor-milli",
    "quotas", "from-html", "eval-mod", "seq-len", "shards", "weights",
    "budget", "decontam", "lang-quotas", "shuffle-seed", "ledger-out")

  def parseArgs(argv0: Seq[String]): DnArgs = {
    // leading -t (reference: bin/dn dnTrackTime) = print wall time to
    // stderr; consumed before the subcommand
    val argv = if (argv0.headOption.contains("-t")) argv0.tail else argv0
    // reference parity (bin/dn usage()): a missing or unknown subcommand
    // prints the error followed by the full usage block
    if (argv.isEmpty)
      throw new GraftException(s"no command specified\n$usageText")
    val mode = argv.head
    if (!configModes.contains(mode) && !dataModes.contains(mode))
      throw new GraftException(s"no such command: \"$mode\"\n$usageText")
    var points = false
    var counters = false
    var warnings = false
    var verbose = false
    var raw = false
    var gnuplot = false
    var dryRun = false
    val positional = Seq.newBuilder[String]
    // reference parity: -b/-f short flags take their value from the
    // NEXT argv slot (bin/dn option tables), and -b is repeatable —
    // `-b a -b b` means `-b a,b` (README.md:94-99)
    val shortMap = Map("-b" -> "breakdowns", "-f" -> "filter")
    val expanded = {
      val out = Seq.newBuilder[String]
      var rest = argv.tail.toList
      while (rest.nonEmpty) rest match {
        case s :: v :: tl if shortMap.contains(s) =>
          out += s"--${shortMap(s)}=$v"; rest = tl
        case s :: Nil if shortMap.contains(s) =>
          throw new GraftException(s"$s requires a value")
        case a :: tl => out += a; rest = tl
        case Nil => ()
      }
      out.result()
    }
    val flagPairs = expanded.flatMap {
      case "--points" => points = true; None
      case "--counters" => counters = true; None
      // NOT an alias for --counters: normal output plus per-record drop
      // diagnostics on stderr (reference: bin/dn:899-907 warn listeners)
      case "--warnings" => warnings = true; None
      case "-v" | "--verbose" => verbose = true; None
      case "--raw" => raw = true; None
      case "--gnuplot" => gnuplot = true; None
      case "--dry-run" => dryRun = true; None
      case f if f.startsWith("--") && f.contains("=") =>
        val i = f.indexOf('=')
        val key = f.substring(2, i)
        // reject typos instead of silently computing the wrong answer
        if (!knownFlags.contains(key))
          throw new GraftException(s"unknown flag: --$key")
        Some(key -> f.substring(i + 1))
      case p if !p.startsWith("-") => positional += p; None
      case other => throw new GraftException(s"bad argument: $other")
    }
    // repeated --breakdowns/-b append in order; any other repeated flag
    // keeps the last occurrence (Map semantics, as before)
    val flags = flagPairs.groupBy(_._1).map { case (k, vs) =>
      k -> (if (k == "breakdowns") vs.map(_._2).mkString(",")
            else vs.last._2)
    }
    if (counters && !Set("scan", "index-scan", "query").contains(mode))
      throw new GraftException(
        "--counters is only meaningful with scan, query, or index-scan")
    if (counters && points)
      throw new GraftException("--counters and --points are mutually exclusive")
    if (warnings && !Set("scan", "index-scan").contains(mode))
      throw new GraftException(
        "--warnings is only meaningful with scan or index-scan")
    // reference parity: only the index-building/reading commands accept a
    // metric-config file (bin/dn option tables for build/index-read/index-scan)
    if (flags.contains("index-config") &&
        !Set("build", "index-read", "index-scan").contains(mode))
      throw new GraftException(
        "--index-config applies to build, index-read, and index-scan only")
    DnArgs(mode, flags, positional.result(), points, counters, warnings,
      verbose, raw, gnuplot, dryRun)
  }

  private def cfgOf(a: DnArgs): QueryConfig = QueryConfig(
    filter = a.flags.get("filter").map(Krill.parse),
    breakdowns = a.flags.get("breakdowns").map(AttrParser.parse).getOrElse(Nil),
    timeField = a.flags.get("time-field"),
    after = a.flags.get("after").map(Instant.parse),
    before = a.flags.get("before").map(Instant.parse))

  private def need(a: DnArgs, n: Int): Seq[String] = {
    if (a.positional.length < n) throw new GraftException("missing arguments")
    if (a.positional.length > n) throw new GraftException("extra arguments")
    a.positional
  }

  // ---------------------------------------------------------------- config

  /** Run a configuration subcommand against the config file; returns the
    * text to print (possibly empty). Pure of Spark. */
  def runConfig(argv: Seq[String],
      path: Path = DnConfig.defaultPath): String = {
    val a = parseArgs(argv)
    require(configModes.contains(a.mode), s"${a.mode} is not a config command")
    val cfg = DnConfig.load(path)

    def dsFromFlags(name: String, base: Option[DnConfig.Datasource]) =
      DnConfig.Datasource(
        name,
        a.flags.get("backend").orElse(base.map(_.backend)).getOrElse("file"),
        a.flags.get("path").orElse(base.map(_.path)).getOrElse(""),
        a.flags.get("index-path").orElse(base.flatMap(_.indexPath)),
        a.flags.get("time-field").orElse(base.flatMap(_.timeField)),
        a.flags.get("time-format").orElse(base.flatMap(_.timeFormat)),
        a.flags.get("data-format").orElse(base.flatMap(_.dataFormat)),
        a.flags.get("filter").orElse(base.flatMap(_.filter)))

    def show(d: DnConfig.Datasource): String = {
      val loc = s"${d.backend}:/${d.path}"
      val head = f"${d.name}%-20s $loc"
      if (!a.verbose) head
      else head + d.filter.map(f => s"\n    filter:     $f").getOrElse("") +
        d.dataFormat.map(f => s"\n    dataFormat: $f").getOrElse("") +
        d.indexPath.map(p => s"\n    indexPath:  $p").getOrElse("") +
        d.timeField.map(t => s"\n    timeField:  $t").getOrElse("") +
        d.timeFormat.map(t => s"\n    timeFormat: $t").getOrElse("")
    }

    a.mode match {
      case "datasource-add" =>
        if (!a.flags.contains("path"))
          throw new GraftException("\"path\" option is required")
        val Seq(name) = need(a, 1)
        DnConfig.save(cfg.datasourceAdd(dsFromFlags(name, None)), path)
        ""
      case "datasource-update" =>
        val Seq(name) = need(a, 1)
        DnConfig.save(
          cfg.datasourceUpdate(name, old => dsFromFlags(name, Some(old))), path)
        ""
      case "datasource-remove" =>
        val Seq(name) = need(a, 1)
        DnConfig.save(cfg.datasourceRemove(name), path)
        ""
      case "datasource-list" =>
        need(a, 0)
        cfg.datasources.map(show).mkString("\n")
      case "datasource-show" =>
        val Seq(name) = need(a, 1)
        show(cfg.datasource(name).getOrElse(
          throw new GraftException(s"unknown datasource: \"$name\"")))
      case "metric-add" =>
        val Seq(ds, m) = need(a, 2)
        DnConfig.save(cfg.metricAdd(DnConfig.Metric(m, ds,
          a.flags.getOrElse("breakdowns", ""), a.flags.get("filter"))), path)
        ""
      case "metric-remove" =>
        val Seq(ds, m) = need(a, 2)
        DnConfig.save(cfg.metricRemove(ds, m), path)
        ""
      case "metric-list" =>
        val Seq(ds) = need(a, 1)
        cfg.metricsFor(ds).map { m =>
          val head = f"${m.name}%-20s ${m.breakdowns}"
          if (a.verbose && m.filter.isDefined)
            head + s"\n    filter: ${m.filter.get}" else head
        }.mkString("\n")
      case "index-config" =>
        val Seq(ds) = need(a, 1)
        indexConfigJson(cfg, ds)
      case "curate-add" =>
        val Seq(name) = need(a, 1)
        def intFlag(k: String, dflt: Int) = a.flags.get(k)
          .map(v => v.toIntOption.getOrElse(
            throw new GraftException(s"bad --$k: \"$v\""))).getOrElse(dflt)
        // --budget scales the water-filling solve, which only runs for
        // a WEIGHTED profile — accepting it alone would persist a knob
        // nothing consults (the weights/quotas exclusivity discipline)
        if (a.flags.contains("budget") && !a.flags.contains("weights"))
          throw new GraftException(
            "--budget requires --weights (it is the weighted solve's " +
              "budget fraction; quotas/no-weights profiles never read it)")
        val (budNum, budDen) = budgetOf(a)
        val cur = DnConfig.Curation(name,
          a.flags.getOrElse("docs",
            throw new GraftException("\"docs\" option is required")),
          a.flags.getOrElse("embeddings",
            throw new GraftException("\"embeddings\" option is required")),
          a.flags.get("out"),
          a.flags.get("domain-floor-milli").map(v => v.toLongOption
            .getOrElse(throw new GraftException(
              s"bad --domain-floor-milli: \"$v\""))),
          a.flags.get("quotas"),
          a.flags.get("from-html").contains("true"),
          intFlag("eval-mod", 97), intFlag("seq-len", 256),
          intFlag("shards", 8),
          a.flags.get("weights"),
          budNum, budDen,
          a.flags.getOrElse("decontam", "doc"),
          a.flags.get("lang-quotas"),
          a.flags.get("shuffle-seed").map(v => v.toLongOption.getOrElse(
            throw new GraftException(s"bad --shuffle-seed: \"$v\""))),
          a.flags.get("ledger-out"))
        DnConfig.save(cfg.curationAdd(cur), path)
        ""
      case "curate-remove" =>
        val Seq(name) = need(a, 1)
        DnConfig.save(cfg.curationRemove(name), path)
        ""
      case "curate-list" =>
        need(a, 0)
        cfg.curations.map { c =>
          val head = f"${c.name}%-20s ${c.docs}"
          if (a.verbose)
            head + s"\n    embeddings: ${c.embeddings}" +
              c.out.map(o => s"\n    out:        $o").getOrElse("") +
              c.domainFloorMilli.map(f =>
                s"\n    domainFloorMilli: $f").getOrElse("") +
              c.quotas.map(q => s"\n    quotas:     $q").getOrElse("") +
              c.langQuotas.map(q =>
                s"\n    langQuotas: $q").getOrElse("") +
              c.weights.map(w => s"\n    weights:    $w " +
                s"(budget ${c.budgetNum}/${c.budgetDen})").getOrElse("") +
              s"\n    fromHtml:   ${c.fromHtml}  evalMod: ${c.evalMod}" +
              s"  seqLen: ${c.seqLen}  shards: ${c.shards}" +
              s"  decontam: ${c.decontam}" +
              c.shuffleSeed.map(s => s"  shuffleSeed: $s").getOrElse("")
          else head
        }.mkString("\n")
    }
  }

  /** The index configuration (dn index-config): the datasource and the
    * metrics that builds of it materialize, as JSON (reference:
    * dragnet-impl.js indexConfig — the datasource rides along so
    * `index-scan --index-config=FILE` can replay its standing filter on
    * another machine; provenance fields user/mtime are omitted, the
    * engine never reads them). */
  def indexConfigJson(cfg: DnConfig.Config, ds: String): String = {
    val d = cfg.datasource(ds).getOrElse(
      throw new GraftException(s"unknown datasource: \"$ds\""))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val dn = root.putObject("datasource")
    dn.put("name", d.name)
    dn.put("backend", d.backend)
    dn.put("path", d.path)
    d.indexPath.foreach(dn.put("indexPath", _))
    d.timeField.foreach(dn.put("timeField", _))
    d.timeFormat.foreach(dn.put("timeFormat", _))
    d.dataFormat.foreach(dn.put("dataFormat", _))
    d.filter.foreach(f =>
      dn.set[com.fasterxml.jackson.databind.JsonNode](
        "filter", mapper.readTree(f)))
    val arr = root.putArray("metrics")
    cfg.metricsFor(ds).foreach { m =>
      val n = arr.addObject()
      n.put("name", m.name)
      val bs = n.putArray("breakdowns")
      AttrParser.parse(m.breakdowns).foreach { fs =>
        val b = bs.addObject()
        b.put("name", fs.name)
        b.put("field", fs.field)
        fs.aggr.foreach(b.put("aggr", _))
        fs.step.foreach(s => b.put("step", s))
        if (fs.isDate) b.put("date", true)
      }
      // explicit type arg: jackson's set() infers scala Nothing otherwise
      m.filter.foreach(f =>
        n.set[com.fasterxml.jackson.databind.JsonNode](
          "filter", mapper.readTree(f)))
    }
    mapper.writeValueAsString(root)
  }

  /**
   * Parse a `--index-config=CONFIG_FILE` metric config — the JSON that
   * `dn index-config DS` emits (reference: bin/dn dnReadIndexConfig +
   * lib/dragnet.js metricsForIndex — a file of serialized metrics that
   * OVERRIDES the metrics stored in the configuration for build /
   * index-read / index-scan).
   */
  private def readIndexConfig(file: String): com.fasterxml.jackson.databind.JsonNode =
    try new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(file)))
    catch {
      // JacksonException extends IOException — match it first
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new GraftException(s"parse \"$file\": ${e.getMessage}")
      case e: java.io.IOException =>
        throw new GraftException(s"read \"$file\": ${e.getMessage}")
    }

  /** The config file's datasource standing filter, if it carries one —
    * on index-scan it REPLACES the locally configured datasource's
    * filter (reference: dragnet.js indexScan passes
    * `indexConfig.datasource.filter || null`, never the local one). */
  def indexConfigDsFilter(file: String): Option[String] =
    Option(readIndexConfig(file).get("datasource"))
      .flatMap(d => Option(d.get("filter")))
      .map(_.toString)

  def indexConfigMetrics(file: String): Seq[Metric] = {
    val root = readIndexConfig(file)
    val metricsNode = root.get("metrics")
    if (metricsNode == null || !metricsNode.isArray)
      throw new GraftException(s"parse \"$file\": no \"metrics\" array")
    import scala.jdk.CollectionConverters._
    metricsNode.elements().asScala.map { m =>
      val name = Option(m.get("name")).map(_.asText()).getOrElse(
        throw new GraftException(s"parse \"$file\": metric without a name"))
      val breakdowns = Option(m.get("breakdowns")).toSeq
        .flatMap(_.elements().asScala)
        .map { b =>
          val bname = Option(b.get("name")).map(_.asText()).getOrElse(
            throw new GraftException(
              s"parse \"$file\": breakdown without a name in metric $name"))
          FieldSpec(
            name = bname,
            field = Option(b.get("field")).map(_.asText()).getOrElse(bname),
            isDate = Option(b.get("date")).exists(_.asBoolean(false)),
            aggr = Option(b.get("aggr")).map(_.asText()),
            step = Option(b.get("step")).map(_.asDouble()))
        }
      Metric(name, breakdowns,
        Option(m.get("filter")).map(f => Krill.parse(f.toString)))
    }.toSeq
  }

  // ------------------------------------------------------------------ data

  /** AND a datasource standing filter onto the query's filter flag. */
  private def mergeFilter(flags: Map[String, String],
      dsf: String): Map[String, String] =
    flags + ("filter" -> (flags.get("filter") match {
      case Some(qf) => s"""{"and": [$dsf, $qf]}"""
      case None => dsf
    }))

  /** Materialize a configured datasource into the flags `run` consumes:
    * its path/format/time-field, with the datasource's standing filter
    * AND-ed onto the query's. `dsFilterOverride` (index-scan with
    * `--index-config`) REPLACES the configured standing filter with the
    * config file's: Some(None) means the file carries none, so no
    * standing filter applies at all (reference: dragnet.js indexScan
    * passes `indexConfig.datasource.filter || null`, never the local
    * one). */
  /** `--budget=N/D` → (N, D); default (9, 10). Validated eagerly —
    * N ≥ 0 and D > 0 — so a nonsense fraction fails at curate-add
    * time, not inside a later solve. */
  private def budgetOf(a: DnArgs): (Long, Long) =
    a.flags.get("budget") match {
      case None => (9L, 10L)
      case Some(b) => b.split("/") match {
        case Array(n, d) if n.toLongOption.exists(_ >= 0) &&
            d.toLongOption.exists(_ > 0) => (n.toLong, d.toLong)
        case _ => throw new GraftException(
          s"bad --budget: \"$b\" (want a fraction like 9/10 with " +
            "a non-negative numerator and positive denominator)")
      }
    }

  /** `dn curate PROFILE` — run the closed-loop curation pipeline
    * (corpus_pipeline_full's engine entry, Corpus.pipeline) from a
    * persisted profile: clean → chunk dedup → SemDeDup → decontam →
    * quality keep → budget fill → quota-aware pack → manifest, with
    * the profile choosing the HTML stage 0, the domain blocklist
    * floor, and the per-source quotas. The manifest lands at the
    * profile's `out` (skipped under --dry-run) and is returned for
    * display — exactly how `build`/`query` drive the dragnet side. */
  private def runCurate(spark: SparkSession, a: DnArgs,
      dnCfg: DnConfig.Config): DataFrame = {
    val Seq(name) = need(a, 1)
    val cur = dnCfg.curation(name).getOrElse(
      throw new GraftException(s"unknown curation: \"$name\""))
    val docs = spark.read.parquet(cur.docs)
    val embs = spark.read.parquet(cur.embeddings)
    // a weighted profile SOLVES its quotas first (row 104): the
    // water-filling allocation over the raw corpus's availability
    // becomes the pack-tail caps — a config-bounded collect (one row
    // per named source), the mixture contract made feasible
    val quotas = cur.weights match {
      case Some(_) =>
        graft.dedup.Corpus.mixSolve(docs,
            DnConfig.parseWeights(cur.weights),
            budgetNum = cur.budgetNum, budgetDen = cur.budgetDen)
          .select(col("source"), col("alloc"))
          .collect().toSeq.map(r => r.getString(0) -> r.getLong(1))
      case None => DnConfig.parseQuotas(cur.quotas)
    }
    val manifest = graft.dedup.Corpus.pipeline(docs, embs,
      evalMod = cur.evalMod, seqLen = cur.seqLen, shards = cur.shards,
      domainFloorMilli = cur.domainFloorMilli,
      quotas = quotas,
      fromHtml = cur.fromHtml,
      decontam = cur.decontam,
      langQuotas = DnConfig.parseQuotas(cur.langQuotas),
      shuffleSeed = cur.shuffleSeed)
    // row-120 audit artifact: the per-doc disposition ledger lands
    // next to the manifest, accounting for the SAME optional stages
    // (HTML extraction, domain blocklist, solved/explicit quotas,
    // language quotas) the manifest packed with.
    cur.ledgerOut.filter(_ => !a.dryRun).foreach { lo =>
      graft.dedup.Corpus.pipelineLedger(docs, embs,
        evalMod = cur.evalMod, decontam = cur.decontam,
        domainFloorMilli = cur.domainFloorMilli,
        quotas = quotas,
        langQuotas = DnConfig.parseQuotas(cur.langQuotas),
        fromHtml = cur.fromHtml)
        .write.mode("overwrite").parquet(lo)
    }
    cur.out match {
      case Some(o) if !a.dryRun =>
        manifest.write.mode("overwrite").parquet(o)
        spark.read.parquet(o) // serve the written artifact, no recompute
      case _ => manifest
    }
  }

  private def resolveDatasource(a: DnArgs, dnCfg: DnConfig.Config,
      dsFilterOverride: Option[Option[String]] = None): DnArgs = {
    if (a.positional.isEmpty) {
      // no configured datasource (direct --data): an index-config file's
      // standing filter still constrains the scan — the file IS the
      // datasource description in that invocation
      return dsFilterOverride.flatten match {
        case Some(f) if a.mode != "query" && a.mode != "index-read" =>
          a.copy(flags = mergeFilter(a.flags, f))
        case _ => a
      }
    }
    val Seq(name) = need(a, 1)
    val ds = dnCfg.datasource(name).getOrElse(
      throw new GraftException(s"unknown datasource: \"$name\""))
    var flags = a.flags
    if (!flags.contains("data")) flags += "data" -> ds.path
    ds.indexPath.foreach(p =>
      if (!flags.contains("index")) flags += "index" -> p)
    ds.timeField.foreach(t =>
      if (!flags.contains("time-field")) flags += "time-field" -> t)
    ds.timeFormat.foreach(t =>
      if (!flags.contains("time-format")) flags += "time-format" -> t)
    ds.dataFormat.foreach(f =>
      if (!flags.contains("data-format")) flags += "data-format" -> f)
    // The standing filter constrains what's SCANNED (scan/index-scan)
    // and what gets INDEXED (build). It must NOT be re-applied when
    // querying the index: build already baked it in, and its fields are
    // typically not indexed breakdowns — re-adding it would reject the
    // query as unservable.
    if (a.mode != "query" && a.mode != "index-read")
      dsFilterOverride.getOrElse(ds.filter).foreach { dsf =>
        flags = mergeFilter(flags, dsf)
      }
    a.copy(flags = flags, positional = Nil)
  }

  /** The configured metrics of the datasource named in argv (for build /
    * query / index-read / index-scan), as index-layer Metrics. */
  private def configuredMetrics(a: DnArgs, dnCfg: DnConfig.Config): Seq[Metric] =
    a.positional.headOption.toSeq.flatMap { name =>
      dnCfg.metricsFor(name).map(m =>
        Metric(m.name, AttrParser.parse(m.breakdowns),
          m.filter.map(Krill.parse)))
    }

  /** Skinner-format points: (fields struct of the breakdown columns,
    * value) — the reference's machine-readable output, shared by scan
    * and query `--points`. */
  private def pointsShape(out: DataFrame,
      bds: Seq[FieldSpec]): DataFrame =
    if (bds.isEmpty) out
    else out.select(org.apache.spark.sql.functions.struct(
      // backtick-quoted: a dotted breakdown name is a FLAT output column
      bds.map(fs => col(s"`${fs.name}`").as(fs.name)): _*)
        .as("fields"),
      col("value"))

  /** Resolve --data to a DataFrame (parquet / json-skinner /
    * date-layout ndjson / ndjson). */
  private val knownDataFormats = Set("json", "ndjson", "json-skinner", "parquet")

  /**
   * Field resolution against a CONCRETE frame: a dotted path absent from
   * the schema resolves to NULL instead of failing analysis — the
   * reference's semantics, where a record without the field is simply
   * dropped (tst.empty.sh scans/builds breakdowns over /dev/null; a
   * breakdown on a never-seen field yields an empty result, not an
   * error). Filters on a missing field compare against NULL → false →
   * row dropped; aggr breakdowns hit the base-null drop.
   */
  private def hasField(df: DataFrame, f: String): Boolean = {
    def exists(dt: org.apache.spark.sql.types.DataType,
        parts: List[String]): Boolean = (dt, parts) match {
      case (_, Nil) => true
      case (st: org.apache.spark.sql.types.StructType, p :: rest) =>
        // case-insensitive, like Spark's default resolution
        // (spark.sql.caseSensitive=false, never overridden here) — an
        // exact-case check would NULL out fields Spark itself resolves
        st.fields.find(_.name.equalsIgnoreCase(p))
          .exists(f => exists(f.dataType, rest))
      case _ => false
    }
    exists(df.schema, f.split("\\.").toList)
  }

  private def resolverFor(df: DataFrame): String => Column =
    f => if (hasField(df, f)) col(f) else lit(null)

  /** The leaf directories of --data's time layout, from one walk of the
    * tree: those of an explicit --time-format (empty when the tree is
    * absent, which [[readData]] reports), else those of a `%Y/%m-%d`
    * tree when --data holds one. None for parquet and json-skinner data
    * and for plain ndjson. */
  private def dataLayout(spark: SparkSession, a: DnArgs)
      : Option[Seq[(java.time.Instant, java.time.Instant, String)]] =
    a.flags.get("data").filter(p => !p.endsWith(".parquet") &&
        !a.flags.get("data-format").contains("json-skinner"))
      .flatMap { p =>
        a.flags.get("time-format").filter(_.nonEmpty) match {
          case Some(f) => Some(Sources.walkLayout(spark, p, f))
          case None =>
            Some(Sources.walkLayout(spark, p, "%Y/%m-%d")).filter(_.nonEmpty)
        }
      }

  /** Read --data, with `layout` from [[dataLayout]]. */
  def readData(spark: SparkSession, a: DnArgs,
      layout: => Option[Seq[(java.time.Instant, java.time.Instant, String)]])
      : DataFrame = {
    val path = a.flags.getOrElse("data",
      throw new GraftException("--data is required"))
    // reference parity (tst.badargs.sh): an unknown data-format is an
    // error at read time, not a silent fall-through to json
    a.flags.get("data-format").foreach(f =>
      if (!knownDataFormats.contains(f))
        throw new GraftException(s"unsupported data format: \"$f\""))
    val cfg = cfgOf(a)
    if (a.flags.get("data-format").contains("json-skinner"))
      Sources.skinnerPoints(spark, path)
    else if (path.endsWith(".parquet") ||
        a.flags.get("data-format").contains("parquet"))
      Sources.parquet(spark, path)
    else layout match {
      // an explicit time-format (reference: datasource --time-format,
      // any strftime pattern of %Y %m %d %H) asserts the layout — fail
      // loudly if the tree is absent rather than silently scanning
      // nothing
      case Some(leaves) if leaves.isEmpty => throw new GraftException(
        s"no ${a.flags("time-format")} tree under $path")
      case Some(leaves) => Sources.readLayout(spark, leaves, cfg.after, cfg.before)
      case None => Sources.ndjson(spark, path)
    }
  }

  /** Set by [[run]] when `--warnings`: the per-record diagnostics frame
    * for the scan it just planned (same data, resolver, and RESOLVED
    * config — datasource standing filter and time-bound stripping
    * included). `main` prints it after the results; tests read it
    * directly. One invocation per process, like the CLI it mirrors. */
  private[graft] var lastWarnings: Option[DataFrame] = None

  def run(spark: SparkSession, argv: Seq[String],
      cfgPath: Path = DnConfig.defaultPath): DataFrame = {
    lastWarnings = None
    val a0 = parseArgs(argv)
    if (configModes.contains(a0.mode))
      throw new GraftException(
        s"${a0.mode} is a configuration command (use runConfig)")
    // one config snapshot for the whole invocation; an --index-config
    // file overrides the configured metrics (reference: metricsForIndex)
    val dnCfg = DnConfig.load(cfgPath)
    // curate runs the curation pipeline from its named profile — it has
    // no datasource/metric machinery to resolve
    if (a0.mode == "curate") return runCurate(spark, a0, dnCfg)
    val fromConfig = a0.flags.get("index-config")
      .map(indexConfigMetrics)
      .getOrElse(configuredMetrics(a0, dnCfg))
    // the reference overrides the datasource filter from the config file
    // on index-scan ONLY (build/index-read take just the metrics)
    val dsFilterOverride =
      if (a0.mode == "index-scan") a0.flags.get("index-config")
        .map(indexConfigDsFilter)
      else None
    val a = resolveDatasource(a0, dnCfg, dsFilterOverride)
    val cfg0 = cfgOf(a)
    lazy val layout = dataLayout(spark, a)
    // A date-laid-out tree without --time-field is still boundable: the
    // path enumeration prunes to day granularity (exactly the reference's
    // behavior when only the path carries time). Record-level bounds
    // need --time-field. Only the modes that READ the data path qualify —
    // query/index-read serve from the index, where nothing would replace
    // the stripped bounds.
    val readsData = Set("scan", "build", "index-scan").contains(a.mode)
    def pathCarriesTime = a.flags.get("time-format").exists(_.nonEmpty) ||
      layout.nonEmpty
    val cfg =
      if (readsData && cfg0.timeField.isEmpty && pathCarriesTime)
        cfg0.copy(after = None, before = None)
      else cfg0
    val skinnerValue =
      if (a.flags.get("data-format").contains("json-skinner")) Some("value")
      else None

    /** The metric this command operates on: --metric by name, else the
      * single configured one, else a default built from --breakdowns. */
    def oneMetric(): Metric = a.flags.get("metric") match {
      case Some(name) => fromConfig.find(_.name == name).getOrElse(
        throw new GraftException(s"unknown metric: \"$name\""))
      case None => fromConfig match {
        case Seq(only) => only
        case Seq() => Metric("default", cfg.breakdowns, cfg.filter)
        case _ => throw new GraftException(
          "multiple metrics configured; pick one with --metric=NAME")
      }
    }

    a.mode match {
      case "scan" =>
        val base = cfg.copy(valueField = skinnerValue)
        val df = readData(spark, a, layout)
        val rs = resolverFor(df)
        if (a.warnings) lastWarnings = Some(Scan.warnings(df, base, rs))
        if (a.counters)
          return Scan.counters(df, base, rs)
        val out = Scan.scan(df, base, rs)
        // --points: emit skinner-format points (fields struct + weight),
        // the reference's machine-readable output mode
        if (a.points) pointsShape(out, base.breakdowns) else out
      case "build" =>
        val idx = a.flags.getOrElse("index",
          throw new GraftException("--index is required"))
        val tf = a.flags.getOrElse("time-field",
          throw new GraftException("build needs --time-field"))
        val metrics =
          if (fromConfig.nonEmpty) fromConfig
          else Seq(Metric("default", cfg.breakdowns, cfg.filter))
        // the datasource's standing filter (and any --before/--after)
        // constrains what gets indexed, like the reference's scan-side
        // filtering during build; metric filters apply per metric inside
        val raw = readData(spark, a, layout)
        // missing-field tolerance is for breakdowns/filters (record
        // without the field → row dropped); the TIME field is the
        // index's partitioning axis — a typo here would silently build
        // everything into the null partition. Stay loud. (Empty data
        // has no schema at all — the reference's /dev/null build must
        // still succeed, so only a NON-empty schema is checked.)
        if (raw.schema.nonEmpty && !hasField(raw, tf))
          throw new GraftException(s"--time-field $tf not found in data")
        val rs = resolverFor(raw)
        val input =
          if (fromConfig.nonEmpty)
            Scan.prefilter(raw, cfg.copy(breakdowns = Nil), rs)
          else raw
        // --dry-run: the tuples the first metric WOULD write, unexecuted
        // (main explains the plan) — nothing touches the index path
        if (a.dryRun)
          Index.scanRows(input, metrics.head, tf,
            a.flags.getOrElse("interval", "day"), rs,
            valueField = skinnerValue)
        else {
          Index.build(input, metrics, idx, tf,
            a.flags.getOrElse("interval", "day"), rs,
            valueField = skinnerValue)
          spark.emptyDataFrame
        }
      case "query" =>
        val idx = a.flags.getOrElse("index",
          throw new GraftException("--index is required"))
        val metrics =
          if (fromConfig.nonEmpty) fromConfig
          else Seq(Metric("default",
            a.flags.get("metric-breakdowns").orElse(a.flags.get("breakdowns"))
              .map(AttrParser.parse).getOrElse(Nil), None))
        val interval = a.flags.getOrElse("interval", "day")
        if (a.counters)
          return Index.counters(spark, idx, metrics, cfg, interval)
        val out = Index.query(spark, idx, metrics, cfg, interval)
        // --points on query: same skinner point shape as scan
        if (a.points) pointsShape(out, cfg.breakdowns) else out
      case "compact" =>
        // index maintenance (no reference analog: dragnet rewrites a whole
        // day's sqlite per build, so its layout never fragments; the
        // streaming sink's does — see Index.compact)
        val idx = a.flags.getOrElse("index",
          throw new GraftException("--index is required"))
        val fsRoot = new org.apache.hadoop.fs.Path(idx)
        val fs = fsRoot.getFileSystem(spark.sessionState.newHadoopConf())
        def trees: Seq[String] =
          if (!fs.exists(fsRoot)) Nil
          else fs.listStatus(fsRoot).filter(_.isDirectory)
            .map(_.getPath.getName).filter(_.startsWith("by_"))
            .map(_.stripPrefix("by_")).toSeq.sorted
        // --interval names a tree explicitly; without it, auto-detect
        // from the trees actually present (an hourly-only index under
        // the default "day" would otherwise be a silent no-op). An
        // explicit interval whose tree is absent fails loudly, naming
        // what IS there.
        val interval = a.flags.get("interval") match {
          case Some(iv) =>
            if (trees.nonEmpty && !trees.contains(iv))
              throw new GraftException(s"compact: no by_$iv tree under " +
                s"$idx (found: ${trees.map("by_" + _).mkString(", ")})")
            iv
          case None => trees match {
            case Seq(only) => only
            case ts if ts.contains("day") || ts.isEmpty => "day"
            case ts => throw new GraftException("compact: multiple index " +
              s"trees under $idx (${ts.map("by_" + _).mkString(", ")}) — " +
              "pick one with --interval")
          }
        }
        // --metric / configured metrics when present; else every metric
        // tree that exists under the interval dir — maintenance shouldn't
        // require the original metric definitions
        val names = a.flags.get("metric").map(Seq(_)).getOrElse {
          if (fromConfig.nonEmpty) fromConfig.map(_.name)
          else {
            val p = new org.apache.hadoop.fs.Path(s"$idx/by_$interval")
            if (fs.exists(p)) fs.listStatus(p).filter(_.isDirectory)
              .map(_.getPath.getName).toSeq.sorted
            else Nil
          }
        }
        import spark.implicits._
        names.flatMap(m => Index.compact(spark, idx, m, interval)
          .map(d => (m, d))).toDF("metric", "dn_date")
      case "index-read" =>
        val idx = a.flags.getOrElse("index",
          throw new GraftException("index-read needs a datasource with " +
            "an index path (or --index)"))
        spark.read.parquet(Index.metricPath(idx,
          a.flags.getOrElse("interval", "day"), oneMetric().name))
      case "index-scan" =>
        val tf = a.flags.getOrElse("time-field",
          throw new GraftException("index-scan needs --time-field"))
        val base = cfg.copy(valueField = skinnerValue)
        val df = readData(spark, a, layout)
        if (df.schema.nonEmpty && !hasField(df, tf))
          throw new GraftException(s"--time-field $tf not found in data")
        val rs = resolverFor(df)
        if (a.warnings) lastWarnings = Some(Scan.warnings(df, base, rs))
        if (a.counters)
          return Scan.counters(df, base, rs)
        Index.scanRows(
          Scan.prefilter(df, base, rs), oneMetric(), tf,
          a.flags.getOrElse("interval", "day"), rs,
          valueField = skinnerValue)
    }
  }

  def main(argv0: Array[String]): Unit = {
    val trackTime = argv0.headOption.contains("-t")
    val t0 = System.nanoTime()
    val argv = if (trackTime) argv0.tail else argv0
    val a = parseArgs(argv.toSeq)
    if (configModes.contains(a.mode)) {
      val out = runConfig(argv.toSeq)
      if (out.nonEmpty) println(out)
      return
    }
    val spark = Session.builder(sys.env.getOrElse("SPARK_MASTER", "local[8]"),
      sys.env.get("SPARK_GRAFT_CPUS").fold(8)(_.trim.toInt))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = run(spark, argv.toSeq)
    display(df, a)
    lastWarnings.foreach(printWarnings(_))
    if (trackTime)
      System.err.println(f"time: ${(System.nanoTime() - t0) / 1e9}%.3fs")
    spark.stop()
  }

  /** `warn:`-prefixed stderr lines, reference-shaped (bin/dn:139-142
    * prints `warn: <message>` per record). CAPPED: the reference streams
    * every warning past the console, which at cluster scale is a
    * driver-melting firehose — we print the first `cap` and say how to
    * get exact totals. */
  private[graft] def printWarnings(wdf: DataFrame, cap: Int = 20): Unit = {
    val head = wdf.limit(cap + 1).collect()
    head.take(cap).foreach(r => Console.err.println(s"warn: ${r.getString(0)}"))
    if (head.length > cap)
      Console.err.println(
        "warn: (more warnings suppressed; --counters has exact drop totals)")
  }

  /** Render a result the way `main` would (factored out for tests). */
  private[graft] def display(df: org.apache.spark.sql.DataFrame,
      a: DnArgs): Unit = {
    val bds = a.flags.get("breakdowns").map(AttrParser.parse).getOrElse(Nil)
    val lastAggr = bds.lastOption.exists(_.aggr.isDefined)
    if (df.schema.nonEmpty) {
      if (a.dryRun) df.explain("formatted") // plan only, nothing executes
      else if (a.gnuplot) print(Format.gnuplot(df, bds))
      // --raw is the machine-readable mode users pipe LARGE results
      // through: stream partitions to stdout one at a time instead of
      // materializing the whole result on the driver (toLocalIterator
      // holds at most one partition in memory)
      else if (a.raw) df.toJSON.toLocalIterator().forEachRemaining(println(_))
      else if (lastAggr && !a.points && !a.counters)
        print(Format.histogram(df, bds.last))
      else if (!a.points && !a.counters) print(Format.table(df, bds))
      else df.show(1000, truncate = false)
    }
  }
}
