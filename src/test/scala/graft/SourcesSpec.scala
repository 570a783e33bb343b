package graft

import java.nio.file.{Files, Path, StandardOpenOption}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.filter.Cmp
import graft.sources.Sources

/** ndjson + %Y/%m-%d path-layout pruning — the reference's native storage
  * model (lib/datasource-file.js, lib/path-enum.js, lib/fs-find.js). */
class SourcesSpec extends SparkSpec {

  private def put(root: Path, day: String, lines: Seq[String]): Unit = {
    val dir = root.resolve(day)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("data.ndjson"), lines.mkString("\n") + "\n")
  }

  /** day dir → records; nested objects exercise dotted paths. */
  private def writeTree(): Path = {
    val root = tempDir("graft-ndjson")
    put(root, "2014/05-01", Seq(
      """{"time":"2014-05-01T10:00:00Z","req":{"method":"GET"},"latency":3}""",
      """{"time":"2014-05-01T11:00:00Z","req":{"method":"PUT"},"latency":9}"""))
    put(root, "2014/05-02", Seq(
      """{"time":"2014-05-02T00:30:00Z","req":{"method":"GET"},"latency":17}"""))
    put(root, "2014/06-01", Seq(
      """{"time":"2014-06-01T08:00:00Z","req":{"method":"GET"},"latency":40}"""))
    // junk that must be ignored by the layout walk
    Files.createDirectories(root.resolve("not-a-year/05-01"))
    Files.createDirectories(root.resolve("2014/junk"))
    root
  }

  private lazy val root = writeTree().toString

  test("day-directory pruning matches the requested range, conservatively") {
    val all = Sources.dateLayoutDirs(spark, root, None, None)
    assert(all.map(_._1.toString) == Seq("2014-05-01", "2014-05-02", "2014-06-01"))
    // [May 1 12:00, May 2 00:10) touches both May days but not June
    val some = Sources.dateLayoutDirs(spark, root,
      Some(Instant.parse("2014-05-01T12:00:00Z")),
      Some(Instant.parse("2014-05-02T00:10:00Z")))
    assert(some.map(_._1.toString) == Seq("2014-05-01", "2014-05-02"))
    val none = Sources.dateLayoutDirs(spark, root,
      Some(Instant.parse("2015-01-01T00:00:00Z")), None)
    assert(none.isEmpty)
  }

  test("scan over the pruned layout: dotted paths + exact record bounds") {
    val df = Sources.dateLayout(spark, root,
      before = Some(Instant.parse("2014-06-01T00:00:00Z")))
    // only the two May directories were read
    assert(df.count() == 3)
    val cfg = QueryConfig(
      filter = Some(Cmp("eq", "req.method", "GET")),
      breakdowns = Seq(FieldSpec.plain("req.method")),
      timeField = Some("time"),
      before = Some(Instant.parse("2014-05-02T00:00:00Z")))
    // record-level bound drops the 05-02 row even though its dir was read
    assert(Scan.scan(df, cfg).collect().toSeq == Seq(Row("GET", 1L)))
  }

  test("empty selection yields an empty frame, not an error") {
    assert(Sources.dateLayout(spark, root,
      Some(Instant.parse("2020-01-01T00:00:00Z")), None).count() == 0)
  }

  test("fully-pruned selection keeps the schema so scans return zero rows") {
    val df = Sources.dateLayout(spark, root,
      Some(Instant.parse("2020-01-01T00:00:00Z")), None)
    // columns still resolve — a scan yields 0, not UNRESOLVED_COLUMN
    val cfg = QueryConfig(breakdowns = Seq(FieldSpec.plain("req.method")))
    assert(Scan.scan(df, cfg).count() == 0)
    assert(Scan.scan(df, QueryConfig()).collect().toSeq == Seq(Row(0L)))
  }

  test("a flat directory of many ndjson files scans as one dataset") {
    // reference tst.scan_fileset.sh: --path pointing at a directory
    // reads every file in it
    val dir = tempDir("graft-fileset")
    Files.writeString(dir.resolve("a.ndjson"),
      """{"req":{"method":"GET"},"latency":3}""" + "\n")
    Files.writeString(dir.resolve("b.ndjson"),
      """{"req":{"method":"PUT"},"latency":9}""" + "\n")
    val cfg = QueryConfig(breakdowns = Seq(FieldSpec.plain("req.method")))
    assert(Scan.scan(Sources.ndjson(spark, dir.toString), cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("GET" -> 1L, "PUT" -> 1L))
  }

  test("schema cache serves the current bytes and invalidates on rewrite") {
    import spark.implicits._
    val dir = tempDir("graft-schemacache").toString
    val p = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(p)
    val first = Sources.parquet(spark, p)
    assert(first.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(first.count() == 2)
    // same mtime → cached schema, same rows
    assert(Sources.parquet(spark, p).count() == 2)
    // REWRITE with a different schema — the cache must re-infer (mtime
    // moved). Local FS mtime granularity can be 1s; nudge it explicitly
    // so the test never races the clock.
    Seq((1L, "a", 9L)).toDF("id", "v", "extra")
      .write.mode("overwrite").parquet(p)
    val f = new java.io.File(p)
    f.setLastModified(f.lastModified() + 2000)
    val again = Sources.parquet(spark, p)
    assert(again.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(again.count() == 1)
  }

  test("gzipped ndjson reads transparently (manta-parity: compressed objects)") {
    // the reference's manta datasource gunzips objects in flight
    // (datasource-manta.js); here the Hadoop codec layer does it — same
    // records whether the file is plain or .gz
    val dir = tempDir("graft-gz")
    val lines = Seq(
      """{"time":"2014-05-01T10:00:00Z","req":{"method":"GET"},"latency":3}""",
      """{"time":"2014-05-01T11:00:00Z","req":{"method":"PUT"},"latency":9}""")
    val gz = dir.resolve("data.ndjson.gz")
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(gz))
    out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    val df = Sources.ndjson(spark, gz.toString)
    val cfg = QueryConfig(breakdowns = Seq(FieldSpec.plain("req.method")))
    assert(Scan.scan(df, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("GET" -> 1L, "PUT" -> 1L))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a second dateLayout over an unchanged tree runs no Spark job before its action") {
    val r = writeTree().toString
    val (first, inferJobs) = jobsDuring(Sources.dateLayout(spark, r))
    assert(inferJobs > 0, "the first read of a selection infers its schema")
    val (second, jobs) = jobsDuring(Sources.dateLayout(spark, r))
    assert(jobs == 0)
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first) && rows(second).size == 4)
    // the fully-pruned branch reads through the same memo
    val late = Some(Instant.parse("2020-01-01T00:00:00Z"))
    val empty = Sources.dateLayout(spark, r, late, None)
    val (again, prunedJobs) = jobsDuring(Sources.dateLayout(spark, r, late, None))
    assert(prunedJobs == 0 && again.schema == empty.schema && again.count() == 0)
  }

  test("a line appended in place with a new field re-infers, and the field resolves") {
    val r = writeTree()
    assert(!Sources.dateLayout(spark, r.toString).columns.contains("zone"))
    Files.writeString(r.resolve("2014/05-02/data.ndjson"),
      """{"time":"2014-05-02T01:00:00Z","req":{"method":"GET"},"latency":5,"zone":"z1"}""" + "\n",
      StandardOpenOption.APPEND)
    val df = Sources.dateLayout(spark, r.toString)
    assert(df.where(col("zone") === "z1").count() == 1)
    assert(df.count() == 5)
  }

  test("a new file in an existing day directory re-infers") {
    val r = writeTree()
    // the day-dir selection and the recursive read of the whole root
    val reads = Seq[String => DataFrame](Sources.dateLayout(spark, _), Sources.ndjson(spark, _))
    reads.foreach(read => assert(!read(r.toString).columns.contains("host")))
    Files.writeString(r.resolve("2014/05-01/more.ndjson"),
      """{"time":"2014-05-01T12:00:00Z","req":{"method":"PUT"},"latency":1,"host":"h9"}""" + "\n")
    reads.foreach { read =>
      val df = read(r.toString)
      assert(df.where(col("host") === "h9").count() == 1)
      assert(df.count() == 5)
    }
  }

  test("a pruned selection keeps its own inferred types, not the root's") {
    val r = tempDir("graft-ndjson-types")
    put(r, "2014/05-01", Seq("""{"time":"2014-05-01T10:00:00Z","latency":3}"""))
    put(r, "2014/06-01", Seq("""{"time":"2014-06-01T10:00:00Z","latency":2.5}"""))
    val june = Some(Instant.parse("2014-06-01T00:00:00Z"))
    def may() = Sources.dateLayout(spark, r.toString, None, june)
    assert(Sources.dateLayout(spark, r.toString).schema("latency").dataType == DoubleType)
    assert(may().schema("latency").dataType == LongType)
    assert(may().schema("latency").dataType == LongType, "a memo hit keeps the type")
    assert(rows(may()) == Seq("[3,2014-05-01T10:00:00Z]"))
  }

  test("every JSON read in src/main goes through the one memoized reader in Sources") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getCanonicalPath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val pat = java.util.regex.Pattern.compile("""\.json\s*\(""")
    val sites: Seq[(String, String)] = walk(root).flatMap { f =>
      val rel = f.getPath.stripPrefix("src/main/scala/graft/")
      scala.io.Source.fromFile(f, "UTF-8").getLines()
        .map(_.trim)
        // call sites only: prose in comments and JSON writers don't count
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.contains(".write"))
        .filter(l => pat.matcher(l).find())
        .map(l => rel -> l)
        .toList
    }
    // the one site is the loader that Sources.readNdjson hands to memoRead
    assert(sites.map(_._1) == Seq("sources/Sources.scala") &&
      sites.forall(_._2.startsWith("_.json(")),
      s"JSON read sites outside the memoized reader: ${sites.mkString("; ")}\n" +
        "Read ndjson through Sources.ndjson / dateLayout / timeFormatLayout, " +
        "so its schema is inferred once per selection.")
  }
}
