package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Datasource layer. Dragnet reads newline-separated JSON from local files or
 * Manta and prunes input files by a %Y/%m-%d path layout (reference:
 * lib/datasource-file.js, lib/fs-find.js, lib/path-enum.js). On Spark the
 * same roles are played by `spark.read.json` (nested structs ≡ dotted field
 * paths), parquet, and partition pruning on a date-derived column.
 *
 * Schema memo. Spark infers a JSON or parquet schema with a job of its own
 * that reads every selected ndjson byte (or every parquet footer) before
 * the query reads them again. Every read here goes through [[memoRead]],
 * which infers each selection's schema once and hands it to the reader
 * afterwards:
 *  - Key: the format and the selected path list, qualified.
 *  - Stamp: a digest of (path, length, mtime) of every file under those
 *    paths, listed recursively with the Hadoop FS API, so it works on
 *    every scheme and is metadata only.
 *  - One generation per key: a changed stamp (a file appended in place,
 *    added, removed or rewritten) re-infers and replaces the entry.
 *  - The memoized schema is what inference over that same selection
 *    returns, so a frame, its answers and its DROPMALFORMED drops are
 *    those of a plain read. A pruned selection keeps its own types; no
 *    schema is widened over the whole root.
 *  - An FS probe failure falls back to plain inference.
 *  - The memo lives in this JVM: a long-lived process (dashboards, a
 *    Spark application that scans and builds over one tree) gains; a
 *    one-shot `dn` CLI process still infers once per selection.
 *  - Known gap: a rewrite that keeps a file's length within the
 *    filesystem's mtime granularity keeps its stamp, so the old schema is
 *    served until the stamp moves.
 * Only schemas are memoized, never rows or file listings: every query
 * still reads its data from the files.
 */
object Sources {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.DataFrameReader
  import org.apache.spark.sql.types.StructType

  /** (format, qualified paths) → (stamp, schema). */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]),
      (String, StructType)]()

  /** `load(reader)` over `paths`, given its schema from [[schemaMemo]]
    * on a hit; a miss returns the plain inferring read and memoizes its
    * schema (see the memo contract above). */
  private def memoRead(spark: SparkSession, format: String,
      paths: Seq[String], reader: DataFrameReader)(
      load: DataFrameReader => DataFrame): DataFrame = {
    val probe = try {
      val conf = spark.sessionState.newHadoopConf()
      val files = Seq.newBuilder[String]
      val keys = paths.map { s =>
        val p = new Path(s)
        val fs = p.getFileSystem(conf)
        // listStatus, not listFiles: a LocatedFileStatus reads each
        // file's permissions, which the local FS without the native
        // Hadoop library does by forking a process per file (~100 ms
        // for a 24-file day directory, against ~2 ms here)
        def walk(q: Path): Unit = fs.listStatus(q).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else files += s"${st.getPath}\t${st.getLen}\t${st.getModificationTime}"
        }
        walk(p)
        fs.makeQualified(p).toString
      }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.result().sorted.foreach(f =>
        md.update((f + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      Some(((format, keys), java.util.HexFormat.of().formatHex(md.digest())))
    } catch { case _: java.io.IOException => None }
    probe match {
      case Some((key, stamp)) =>
        val hit = schemaMemo.get(key)
        if (hit != null && hit._1 == stamp) load(reader.schema(hit._2))
        else {
          val df = load(reader)
          // a selection with no inferred column keeps plain inference
          if (df.schema.nonEmpty) schemaMemo.put(key, (stamp, df.schema))
          df
        }
      case None => load(reader)
    }
  }

  /** `spark.read.parquet(path)` with its schema memoized. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    memoRead(spark, "parquet", Seq(path), spark.read)(_.parquet(path))

  /** Read a testdata star-schema table. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /**
   * The events table with its `props` JSON string parsed to a struct so that
   * dragnet-style dotted paths (`props.k`) resolve naturally.
   */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which vanilla Spark 4 rejects;
    // read it as raw nanos and rebuild a (microsecond) TimestampType column.
    // Tables from other producers (e.g. a MakeScale derivation) may carry
    // ts as a plain long of nanos or an ordinary timestamp already — only
    // the long form needs the rebuild.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // json_tuple, not from_json: a Generator is a predicate-pushdown
    // barrier, so each record's JSON is parsed exactly once no matter how
    // many filters/breakdowns reference props.* — from_json gets inlined
    // into every pushed predicate (one parse per reference per row).
    val raw = table(spark, sfDir, "events")
    val tsIsNanos =
      raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    raw
      .withColumn("ts", if (tsIsNanos)
        timestamp_micros((col("ts") / 1000L).cast("long")) else col("ts"))
      .select(col("*"), json_tuple(col("props"), "k").as("k_json"))
      .withColumn("props", struct(col("k_json").try_cast("int").as("k")))
      .drop("k_json")
  }

  /** Options mirroring the reference reader's behavior (lib/fs-find.js
    * + bin/dn warn-and-skip): walk the datasource tree RECURSIVELY (a
    * path-only datasource-add scans nested `%Y/%m-%d` layouts without
    * declaring them) and DROP malformed lines (tests/data plants an
    * "intentionally invalid line"; the reference warns and skips it —
    * counting it would put 2253 where the README prints 2252). */
  private val NdjsonOpts =
    Map("recursiveFileLookup" -> "true", "mode" -> "DROPMALFORMED")

  /** The one ndjson reader: every JSON read of the datasource layer. */
  private def readNdjson(spark: SparkSession, paths: Seq[String]): DataFrame =
    memoRead(spark, "json", paths, spark.read.options(NdjsonOpts))(
      _.json(paths: _*))

  /**
   * Newline-separated JSON datasource — dragnet's native format
   * (README.md:33). Schema inference handles nested objects; dotted paths
   * (`req.method`) then resolve as struct field access.
   */
  def ndjson(spark: SparkSession, path: String): DataFrame =
    readNdjson(spark, Seq(path))

  /**
   * Read dragnet's json-skinner point format — ndjson of
   * `{"fields": {…record…}, "value": N}` (reference:
   * lib/format-json.js SkinnerAdapterStream, lib/dragnet-impl.js
   * parserFor) — flattened to record columns plus the `value` weight.
   * Scan with `valueField = Some("value")` re-aggregates losslessly.
   */
  def skinnerPoints(spark: SparkSession, path: String): DataFrame =
    readNdjson(spark, Seq(path)).select(col("fields.*"), col("value"))

  /**
   * General strftime path layout (reference: lib/path-enum.js supports
   * any pattern built from %Y %m %d %H, e.g. `%Y/%m/%d/%H` or
   * `%Y/%m-%d`): walk the FS tree level by level matching each pattern
   * segment, parse the time of every matched leaf directory, and keep
   * those whose [start, start+granularity) interval overlaps
   * [after, before). Metadata-only (Hadoop FS listings — works on any
   * scheme), conservative to the pattern's finest unit like the
   * reference; exact record-level bounds still apply in the scan.
   * Returns (interval start, path) sorted by time.
   */
  def timeFormatDirs(spark: SparkSession, root: String, pattern: String,
      after: Option[java.time.Instant], before: Option[java.time.Instant])
      : Seq[(java.time.Instant, String)] =
    walkLayout(spark, root, pattern).filter(overlaps(after, before))
      .map { case (start, _, p) => (start, p) }

  /** Every leaf directory of `pattern` under `root` as (interval start,
    * interval end, path), sorted by time. */
  private def walkLayout(spark: SparkSession, root: String, pattern: String)
      : Seq[(java.time.Instant, java.time.Instant, String)] = {
    val segSpecs: Seq[(scala.util.matching.Regex, Seq[Char])] =
      pattern.split("/").toSeq.map { seg =>
        val sb = new StringBuilder
        val specs = Seq.newBuilder[Char]
        var i = 0
        while (i < seg.length) {
          if (seg.charAt(i) == '%' && i + 1 < seg.length) {
            seg.charAt(i + 1) match {
              case 'Y' => sb.append("(\\d{4})"); specs += 'Y'
              case c @ ('m' | 'd' | 'H') => sb.append("(\\d{2})"); specs += c
              case other => throw new graft.GraftException(
                s"unsupported time-format specifier %$other in $pattern")
            }
            i += 2
          } else {
            sb.append(java.util.regex.Pattern.quote(seg.charAt(i).toString))
            i += 1
          }
        }
        (sb.toString.r, specs.result())
      }
    val allSpecs = segSpecs.flatMap(_._2)
    if (!allSpecs.contains('Y'))
      throw new graft.GraftException(s"time-format needs %Y: $pattern")
    val granularity: java.time.temporal.TemporalAmount =
      if (allSpecs.contains('H')) java.time.Duration.ofHours(1)
      else if (allSpecs.contains('d')) java.time.Duration.ofDays(1)
      else if (allSpecs.contains('m')) java.time.Period.ofMonths(1)
      else java.time.Period.ofYears(1)

    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var frontier: Seq[(Path, Map[Char, Int])] = Seq((rootPath, Map.empty))
    for ((re, specs) <- segSpecs) {
      frontier = frontier.flatMap { case (p, vals) =>
        fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
          re.unapplySeq(st.getPath.getName) match {
            case Some(groups) =>
              Some((st.getPath, vals ++ specs.zip(groups.map(_.toInt))))
            case None => None
          }
        }
      }
    }
    frontier.flatMap { case (p, v) =>
      try {
        val start = java.time.LocalDateTime.of(
          v('Y'), v.getOrElse('m', 1), v.getOrElse('d', 1),
          v.getOrElse('H', 0), 0)
          .toInstant(java.time.ZoneOffset.UTC)
        val end = start.atZone(java.time.ZoneOffset.UTC).plus(granularity)
          .toInstant
        Some((start, end, p.toString))
      } catch { case _: java.time.DateTimeException => None } // e.g. month 13
    }.sortBy(_._1)
  }

  private def overlaps(after: Option[java.time.Instant],
      before: Option[java.time.Instant])(
      d: (java.time.Instant, java.time.Instant, String)): Boolean =
    after.forall(a => d._2.isAfter(a)) && before.forall(b => d._1.isBefore(b))

  /**
   * Read any strftime-pattern ndjson layout, scanning ONLY directories
   * that overlap [after, before). The tree is walked once. When every
   * directory is pruned, the frame is empty but keeps the schema of the
   * earliest directory (limit 0), so downstream scans still resolve their
   * columns and return zero rows instead of failing analysis.
   */
  def timeFormatLayout(spark: SparkSession, root: String, pattern: String,
      after: Option[java.time.Instant] = None,
      before: Option[java.time.Instant] = None): DataFrame = {
    val all = walkLayout(spark, root, pattern)
    all.filter(overlaps(after, before)).map(_._3) match {
      case dirs if dirs.nonEmpty => readNdjson(spark, dirs)
      case _ if all.nonEmpty => readNdjson(spark, Seq(all.head._3)).limit(0)
      case _ => spark.emptyDataFrame
    }
  }

  /**
   * Enumerate the day directories of a dragnet-style `%Y/%m-%d` layout
   * that can contain records in [after, before) — the default layout's
   * autodetect path, expressed through the general [[timeFormatDirs]].
   */
  def dateLayoutDirs(spark: SparkSession, root: String,
      after: Option[java.time.Instant], before: Option[java.time.Instant])
      : Seq[(java.time.LocalDate, String)] =
    timeFormatDirs(spark, root, "%Y/%m-%d", after, before).map { case (t, p) =>
      (t.atZone(java.time.ZoneOffset.UTC).toLocalDate, p)
    }

  /** A `%Y/%m-%d` ndjson dataset through [[timeFormatLayout]]. */
  def dateLayout(spark: SparkSession, root: String,
      after: Option[java.time.Instant] = None,
      before: Option[java.time.Instant] = None): DataFrame =
    timeFormatLayout(spark, root, "%Y/%m-%d", after, before)
}
