package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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

  /** Best effort: a dir that cannot be removed never fails the suite. */
  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach { d =>
      try graft.tools.LocalFs.deleteRec(d)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    })
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // per-group warehouse: suites run in concurrently forked JVM
      // groups (build.sbt Test/testGrouping), each with its own
      // graft.tmp.root, so bucketed-table writes from two groups never
      // collide, and a group reuses its one directory run after run
      .config("spark.sql.warehouse.dir",
        s"${graft.tools.LocalFs.TmpRoot}/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
