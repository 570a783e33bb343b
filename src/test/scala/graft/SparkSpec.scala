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
  lazy val session: SparkSession = {
    // per-group warehouse: suites run in concurrently forked JVM groups
    // (build.sbt Test/testGrouping), each with its own graft.tmp.root
    val s = Session.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
