package graft

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.filter.Cmp
import graft.index.Index
import graft.index.Index.Metric
import graft.sources.Sources

/**
 * SURVEY.md §2 rows 13-15: dn build / dn query. Indexes are built once per
 * (sfDir, interval) into /tmp and reused — they are derived artifacts, the
 * analog of dragnet's per-day sqlite files under my_index/by_day/.
 *
 * Each index-served query's oracle is the corresponding RAW-DATA scan SQL:
 * the index must be a lossless rollup (dragnet's core guarantee — query ==
 * scan when the metric covers the query).
 */
object IndexQueries {

  /** minute-grain time + type + user: covers every query below */
  private val metrics = Seq(
    Metric("by_minute", Seq(
      FieldSpec("ts_min", "ts", isDate = true,
        aggr = Some("lquantize"), step = Some(60)),
      FieldSpec.plain("event_type"),
      FieldSpec.plain("user_id"))))

  /** The index trees derive from the events table only; one tree per
    * interval (the tag), all under one fingerprint. */
  private val Events = Seq("events.parquet")

  /** TWO metrics under one index root — dragnet's index configs carry
    * several metrics and the query planner picks the cheapest covering
    * one (lib/dragnet-impl.js metric selection). `by_type` is the
    * narrow rollup (event_type only — tiny); `by_minute` the wide one.
    * Declaration order is the preference order, narrow first. */
  private val multiMetrics = Seq(
    Metric("by_type", Seq(FieldSpec.plain("event_type")))) ++ metrics

  /** Build the two-metric index once per sfDir (both rollups written
    * in ONE input pass — Index.build caches the scan for multi-metric
    * builds). */
  private def ensureMulti(spark: SparkSession, sfDir: String): String =
    graft.tools.LocalFs.cached("index", sfDir, Events, "day-multi") { p =>
      Index.build(Sources.events(spark, sfDir), multiMetrics, p,
        timeField = "ts", interval = "day")
    }

  /** Build once per (sfDir, interval). */
  private def ensureBuilt(spark: SparkSession, sfDir: String,
                          interval: String): String =
    graft.tools.LocalFs.cached("index", sfDir, Events, interval) { p =>
      Index.build(Sources.events(spark, sfDir), metrics, p,
        timeField = "ts", interval = interval)
    }

  private def serve(interval: String, cfg: QueryConfig)
      : (SparkSession, String) => DataFrame =
    (s, dir) => Index.query(s, ensureBuilt(s, dir, interval), metrics, cfg,
      interval)

  private val rq: String => String = identity

  def all: Seq[Q] = Seq(
    // #13 build + query == scan (lossless rollup round trip)
    Q("index_roundtrip",
      serve("day", QueryConfig(breakdowns = AttrParser.parse("event_type"))),
      Some(Scan.scanSql("events",
        QueryConfig(breakdowns = AttrParser.parse("event_type")), rq))),

    // #13c metric SELECTION among several rollups under one root (the
    // dragnet index-config shape): the event_type-only query must be
    // served by the NARROW by_type rollup while a user_id query falls
    // through to by_minute — IndexSpec pins which files each plan
    // reads; this gate pins that the narrow-served answer still equals
    // the raw scan.
    Q("index_metric_select",
      (s, dir) => Index.query(s, ensureMulti(s, dir), multiMetrics,
        QueryConfig(breakdowns = AttrParser.parse("event_type"))),
      Some(Scan.scanSql("events",
        QueryConfig(breakdowns = AttrParser.parse("event_type")), rq))),

    // #14 filter on indexed columns + coarser re-bucketing of indexed time
    Q("index_filtered",
      serve("day", QueryConfig(
        filter = Some(Cmp("eq", "event_type", "error")),
        breakdowns = Seq(
          FieldSpec("day", "ts_min", aggr = Some("lquantize"), step = Some(86400)),
          FieldSpec.plain("event_type")))),
      Some(Scan.scanSql("events",
        QueryConfig(
          filter = Some(Cmp("eq", "event_type", "error")),
          breakdowns = Seq(
            FieldSpec("day", "ts", isDate = true,
              aggr = Some("lquantize"), step = Some(86400)),
            FieldSpec.plain("event_type"))), rq))),

    // #13b incremental maintenance: build the first half of the month,
    // Index.update the second half (dynamic partition overwrite replaces
    // only the new dn_date partitions), query == a full raw scan
    Q("index_update",
      (s, dir) => {
        val cutoff = java.time.Instant.parse("2024-01-16T00:00:00Z")
        // fixed per-sf path, rebuilt in place (the POINT is to exercise
        // build+update) — a fresh temp dir per run would litter /tmp
        val path = graft.tools.LocalFs.path("index", dir, Events, "update")
        val ev = Sources.events(s, dir)
        val cutCol = graft.functions.epochSecs(
          org.apache.spark.sql.functions.col("ts"))
        // build/update run EAGERLY here; the served read executes at the
        // caller's action — phase-timed so the bench detail can
        // attribute a regression to the build half vs the serve half
        // (serve = the query's total minus these phases)
        graft.tools.Phases.time("index_update.build") {
          Index.build(ev.where(cutCol < cutoff.getEpochSecond), metrics, path,
            timeField = "ts", interval = "day")
        }
        graft.tools.Phases.time("index_update.update") {
          Index.update(ev.where(cutCol >= cutoff.getEpochSecond), metrics, path,
            timeField = "ts")
        }
        Index.query(s, path, metrics,
          QueryConfig(breakdowns = AttrParser.parse("event_type")))
      },
      Some(Scan.scanSql("events",
        QueryConfig(breakdowns = AttrParser.parse("event_type")), rq))),

    // #11b day-aligned bounds served by dn_date pruning ALONE — no
    // timeField in the query, so the per-second refine is unavailable and
    // the partition prune must answer exactly (before is exclusive: the
    // 2024-01-05 partition stays out). Oracle = the bounded raw scan.
    Q("index_bounds_day",
      serve("day", QueryConfig(
        breakdowns = AttrParser.parse("event_type"),
        after = Some(Instant.parse("2024-01-02T00:00:00Z")),
        before = Some(Instant.parse("2024-01-05T00:00:00Z")))),
      Some(Scan.scanSql("events",
        QueryConfig(
          breakdowns = AttrParser.parse("event_type"),
          timeField = Some("ts"),
          after = Some(Instant.parse("2024-01-02T00:00:00Z")),
          before = Some(Instant.parse("2024-01-05T00:00:00Z"))), rq))),

    // #15b hour-aligned bounds served WITHOUT an indexed time column:
    // interior days by dn_date pruning, boundary days trimmed by the
    // dn_hour row-group predicate (Index.pruned hourServed) — the sub-day
    // analog of index_bounds_day. Oracle = the bounded raw scan.
    Q("index_bounds_hour",
      serve("hour", QueryConfig(
        breakdowns = AttrParser.parse("event_type"),
        after = Some(Instant.parse("2024-01-02T06:00:00Z")),
        before = Some(Instant.parse("2024-01-04T18:00:00Z")))),
      Some(Scan.scanSql("events",
        QueryConfig(
          breakdowns = AttrParser.parse("event_type"),
          timeField = Some("ts"),
          after = Some(Instant.parse("2024-01-02T06:00:00Z")),
          before = Some(Instant.parse("2024-01-04T18:00:00Z"))), rq))),

    // #48 dn compact round trip: fragment a day tree with ONE
    // partitioned write that skips Index.build's repartition(dn_date) —
    // every shuffle partition drops its own part file into every day
    // directory it touches, exactly the layout a naive writer (or many
    // small update batches) leaves behind — compact back to one file
    // per day, then query == the raw scan. The file-count invariant is
    // asserted INSIDE the query (fragmented before, exactly one part
    // file per day after), so the gate enforces both the layout and the
    // losslessness.
    Q("compact_roundtrip",
      (s, dir) => {
        // fresh tree per run: compaction mutates in place
        val tmp = graft.tools.LocalFs.scratchDir("compact-rt").toString
        val mp = Index.metricPath(tmp, "day", metrics.head.name)
        Index.scanRows(Sources.events(s, dir), metrics.head, "ts", "day")
          // round-robin, deliberately NOT by dn_date: each of the 8
          // write tasks holds rows of every day (AQE would otherwise
          // coalesce this small aggregate to one task and defeat the
          // fragmentation setup)
          .repartition(8)
          .write.partitionBy("dn_date").parquet(mp)
        def filesPerDay: Seq[Int] = {
          val root = new org.apache.hadoop.fs.Path(mp)
          val fs = root.getFileSystem(s.sessionState.newHadoopConf())
          fs.listStatus(root)
            .filter(d => d.isDirectory && d.getPath.getName.startsWith("dn_date="))
            .map(d => fs.listStatus(d.getPath).count(f =>
              f.isFile && f.getPath.getName.startsWith("part-"))).toSeq
        }
        require(filesPerDay.nonEmpty && filesPerDay.exists(_ > 1),
          s"precondition: fragmented layout expected, got $filesPerDay")
        val compacted = Index.compact(s, tmp, metrics.head.name, "day")
        require(compacted.nonEmpty && filesPerDay.forall(_ == 1),
          s"compact left $filesPerDay files per day")
        Index.query(s, tmp, metrics,
          QueryConfig(breakdowns = AttrParser.parse("event_type")))
      },
      Some(Scan.scanSql("events",
        QueryConfig(breakdowns = AttrParser.parse("event_type")), rq))),

    // #15 hourly interval + minute-aligned time bounds → partition pruning
    Q("index_hourly",
      serve("hour", QueryConfig(
        breakdowns = AttrParser.parse("event_type"),
        timeField = Some("ts_min"),
        after = Some(Instant.parse("2024-01-02T00:00:00Z")),
        before = Some(Instant.parse("2024-01-05T00:00:00Z")))),
      Some(Scan.scanSql("events",
        QueryConfig(
          breakdowns = AttrParser.parse("event_type"),
          timeField = Some("ts"),
          after = Some(Instant.parse("2024-01-02T00:00:00Z")),
          before = Some(Instant.parse("2024-01-05T00:00:00Z"))), rq)))
  )
}
