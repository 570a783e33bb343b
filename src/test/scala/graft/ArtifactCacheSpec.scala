package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.text.Bm25
import graft.tools.LocalFs

/** The one artifact cache of the query layer ([[LocalFs.cached]]): a
  * build is served only once committed, a changed input rebuilds and
  * sweeps only its own stale generation, and one key builds once under
  * concurrent callers. */
class ArtifactCacheSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = tempDir(s"graft-cache-$tag").toString

  /** A fresh source dir holding one input file `src.bin`. */
  private def sourceDir(tag: String): String = {
    val dir = tmpDir(tag)
    Files.write(Paths.get(dir, "src.bin"), Array[Byte](1, 2, 3))
    dir
  }

  override def afterAll(): Unit = {
    Seq("spec", "spec-lexicon")
      .foreach(k => LocalFs.deleteRec(Paths.get(s"${LocalFs.TmpRoot}/graft-$k")))
    super.afterAll()
  }

  private val In = Seq("src.bin")

  private def writeMark(dir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), Array[Byte](0))
  }

  private def names(p: Path): Set[String] =
    Option(p.toFile.list()).toSet.flatten

  test("a build that throws after a partial write is never served; the next call builds once") {
    val dir = sourceDir("throw")
    val builds = new AtomicInteger(0)
    intercept[IllegalStateException] {
      LocalFs.cached("spec", dir, In) { p =>
        writeMark(p, "partial")
        throw new IllegalStateException("crash mid-build")
      }
    }
    val path = LocalFs.path("spec", dir, In)
    assert(!Files.exists(Paths.get(path)), "an uncommitted build must not be served")
    def probe() = LocalFs.cached("spec", dir, In) { p =>
      builds.incrementAndGet(); writeMark(p, "whole")
    }
    assert(probe() == path && builds.get == 1)
    assert(names(Paths.get(path)).contains("whole"))
    assert(!names(Paths.get(path)).contains("partial"),
      "the crashed build's bytes must not leak into the committed artifact")
    assert(probe() == path && builds.get == 1, "a committed artifact is a hit")
  }

  test("a changed input rebuilds and drops its stale generation, not its day/hour siblings") {
    val dir = sourceDir("sweep")
    def build(tag: String) = LocalFs.cached("spec", dir, In, tag)(writeMark(_, tag))
    val day1 = build("day")
    val hour1 = build("hour")
    assert(Files.exists(Paths.get(day1)), "an hour build must not sweep the day tree")
    // regenerate the input: a new length is a new fingerprint
    Files.write(Paths.get(dir, "src.bin"), Array[Byte](1, 2, 3, 4, 5))
    val day2 = build("day")
    assert(day2 != day1)
    assert(!Files.exists(Paths.get(day1)) && !Files.exists(Paths.get(hour1)),
      "the superseded generation must be dropped")
    val hour2 = build("hour")
    assert(Files.exists(Paths.get(day2)) && Files.exists(Paths.get(hour2)),
      "siblings that share the fingerprint must survive each other's builds")
  }

  test("two threads asking for one key build it once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = sourceDir("race")
    val builds = new AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(1)
    def ask() = Future {
      latch.await()
      LocalFs.cached("spec", dir, In) { p =>
        builds.incrementAndGet(); Thread.sleep(200); writeMark(p, "x")
      }
    }
    val calls = Seq(ask(), ask())
    latch.countDown()
    val paths = Await.result(Future.sequence(calls), 1.minute)
    assert(paths.distinct.size == 1 && builds.get == 1)
  }

  test("a lexicon over an all-whitespace corpus commits, and a second probe is a hit") {
    val dir = tmpDir("ws")
    Seq((1L, "   "), (2L, "\t\n"), (3L, ""))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val builds = new AtomicInteger(0)
    def probe() = LocalFs.cached("spec-lexicon", dir, Seq("documents.parquet")) { p =>
      builds.incrementAndGet(); Bm25.buildLexicon(docs, p)
    }
    val root = probe()
    assert(probe() == root && builds.get == 1, "the zero-token lexicon must commit")
    val st = spark.read.parquet(Bm25.summaryPath(spark, root, "stats")).head()
    assert((st.getAs[Long]("n"), st.getAs[Long]("sumdl")) == ((3L, 0L)))
    assert(spark.read.parquet(Bm25.summaryPath(spark, root, "df")).count() == 0L)
  }

  test("an artifact path for an absolute source dir is not hidden from Spark") {
    def name(dir: String) = Paths.get(LocalFs.path("spec", dir, Nil)).getFileName.toString
    for (dir <- Seq("/abs/dir", "./rel", "_x")) {
      assert(!name(dir).startsWith("_") && !name(dir).startsWith("."), name(dir))
    }
    // the sweep reads `<dirKey>-<fp>`: a `-` in the source dir stays out of the key
    assert(name("/abs/my-dir").count(_ == '-') == 1, name("/abs/my-dir"))
  }
}
