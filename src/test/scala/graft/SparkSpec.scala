package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.LocalFs

/** Shared local SparkSession for all suites (getOrCreate → one JVM-wide
  * session, tests stay fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf001 = "/root/testdata/sf0.001"

  private val tempDirs = scala.collection.mutable.ArrayBuffer[Path]()

  /** A fresh temp dir, deleted with its contents after the suite. */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  /** `body`'s result and the Spark jobs started while it ran. Listener
    * events arrive in order, so once a marker job run after `body` is
    * seen, every job `body` started has been counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val Marker = "graft-spec-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker))
          marked.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(marked.await(1, java.util.concurrent.TimeUnit.MINUTES))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Best effort: a dir that cannot be removed never fails the suite.
    * The artifacts cached from a temp dir or its subdirs go with it:
    * their key is new each run, so no later build would sweep them. */
  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach { d =>
      val key = LocalFs.dirKey(d.toString)
      val artifacts = Option(new java.io.File(LocalFs.TmpRoot).listFiles).toSeq.flatten
        .filter(_.getName.startsWith("graft-"))
        .flatMap(kind => Option(kind.listFiles).toSeq.flatten)
        .filter(a => a.getName.startsWith(s"$key-") || a.getName.startsWith(s"${key}_"))
      (d +: artifacts.map(_.toPath)).foreach { p =>
        try LocalFs.deleteRec(p)
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      }
    })
    finally super.afterAll()
}

object SparkSpec {

  /** One match of a source gate's pattern: the file's path under the
    * scanned root, the 1-based line the match starts on, and the text. */
  case class SourceMatch(file: String, line: Int, text: String)

  /** Every match of `pattern` in the `.scala` files under `root`. Each
    * file is read whole, comments blanked out, so a call wrapped across
    * lines is found and prose about it is not. */
  def sourceMatches(root: String, pattern: String): Seq[SourceMatch] = {
    val dir = new java.io.File(root)
    assert(dir.isDirectory,
      s"source root $root not found from ${new java.io.File(".").getCanonicalPath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val pat = java.util.regex.Pattern.compile(pattern)
    walk(dir).flatMap { f =>
      val code = stripComments(
        scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.mkString))
      val found = pat.matcher(code)
      Iterator.continually(found).takeWhile(_.find()).map { m =>
        SourceMatch(f.getPath.stripPrefix(s"$root/"),
          code.substring(0, m.start).count(_ == '\n') + 1, m.group())
      }.toList
    }
  }

  /** `src` with every `//` and (nested) `/* */` comment replaced by
    * spaces, newlines kept. String and char literals are skipped over,
    * so a `//` inside a string is not read as a comment. */
  def stripComments(src: String): String = {
    val out = new StringBuilder(src)
    def blank(from: Int, to: Int): Unit =
      (from until to).foreach(k => if (out(k) != '\n') out(k) = ' ')
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i) match { case -1 => src.length; case e => e }
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (depth > 0 && j < src.length) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        i = if (end < 0) src.length else end + 3
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        i = j + 1
      } else if (src.startsWith("'\\", i) && src.startsWith("'", i + 3)) i += 4
      else if (src(i) == '\'' && src.startsWith("'", i + 2)) i += 3
      else i += 1
    }
    out.toString
  }

  lazy val session: SparkSession = {
    // per-group warehouse: suites run in concurrently forked JVM groups
    // (build.sbt Test/testGrouping), each with its own graft.tmp.root
    val s = Session.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
