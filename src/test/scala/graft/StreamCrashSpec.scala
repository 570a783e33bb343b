package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

/**
 * The streaming crash-recovery drill (r18 verdict item 1): launch
 * [[graft.tools.StreamCrashDrill]] as a separate JVM, SIGKILL it after
 * ≥2 committed micro-batches of a stateful RocksDB stream, restart from
 * the SAME checkpoint, and assert both directions:
 *
 *   - the restarted stream drains to completion and its sink equals the
 *     batch aggregate over all input (exit 0, `RECOVERED`) — recovery
 *     restored the per-key state the pre-crash batches built;
 *   - the same restart over a checkpoint whose state files were
 *     garbage-filled FAILS loudly (exit 3, `RESUME FAILED`) — corrupt
 *     state is an error, never a silent empty-state wrong answer.
 *
 * The `startBatches=k endBatches=n` line proves the kill landed mid-run
 * (0 < k < n): pre-crash batches were committed AND post-crash batches
 * remained, so the green verdict genuinely crossed a crash boundary.
 */
class StreamCrashSpec extends SparkSpec {

  private def launch(args: String*): Process = {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val pb = new ProcessBuilder((Seq(javaBin,
      "-Xmx1g",
      "-cp", sys.props("java.class.path")) ++
      Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
        .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED") ++
      Seq("graft.tools.StreamCrashDrill") ++ args): _*)
    pb.redirectErrorStream(true)
    pb.start()
  }

  private def drain(p: Process, minutes: Int = 6): (Int, String) = {
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val done = p.waitFor(minutes, java.util.concurrent.TimeUnit.MINUTES)
    if (!done) { p.destroyForcibly(); fail(s"drill timed out:\n$out") }
    (p.exitValue(), out)
  }

  private def copyDir(src: Path, dst: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def commits(ckpt: String): Int =
    Option(new java.io.File(s"$ckpt/commits").listFiles())
      .map(_.count(f => f.getName.forall(_.isDigit))).getOrElse(0)

  test("stateful RocksDB stream SIGKILLed mid-run recovers from its " +
      "checkpoint to the batch answer; a corrupted checkpoint fails " +
      "loudly, never an empty-state wrong answer") {
    assume(new java.io.File(sf001).isDirectory, "driver testdata not present")
    val work = tempDir("graft-stream-crash").toString
    // input: (user_id, sec) split into 24 files → 24 micro-batches
    // under maxFilesPerTrigger=1; users recur across files, so per-key
    // state genuinely carries across the crash boundary
    val in = s"$work/in"
    graft.sources.Sources.events(spark, sf001)
      .select(col("user_id"),
        col("ts").cast("timestamp").cast("long").as("sec"))
      .repartition(24)
      .write.mode("overwrite").parquet(in)

    // phase 1: the victim — SIGKILL once ≥2 micro-batches committed
    val ckptA = s"$work/ckptA"; val outA = s"$work/outA"
    val victim = launch("victim", in, ckptA, outA)
    val deadline = System.nanoTime() + 4L * 60 * 1000 * 1000 * 1000
    while (commits(ckptA) < 2 && victim.isAlive &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
    if (!victim.isAlive) {
      val (code, out) = drain(victim)
      fail(s"victim exited (code $code) before the kill landed — " +
        s"drill vacuous:\n${out.linesIterator.toSeq.takeRight(10).mkString("\n")}")
    }
    assert(commits(ckptA) >= 2,
      s"no 2 committed batches within the deadline (saw ${commits(ckptA)})")
    victim.destroyForcibly() // SIGKILL on Linux
    victim.waitFor()
    val committedAtKill = commits(ckptA)
    assert(committedAtKill < 24,
      s"all 24 batches committed before the kill — drill vacuous")

    // snapshot the crashed checkpoint + sink for the red direction
    // BEFORE recovery completes the green one
    val ckptB = s"$work/ckptB"; val outB = s"$work/outB"
    copyDir(Paths.get(ckptA), Paths.get(ckptB))
    copyDir(Paths.get(outA), Paths.get(outB))

    // phase 2 (green): restart from the same checkpoint → must drain
    // and match the batch aggregate over ALL input
    val (code, out) = drain(launch("resume", in, ckptA, outA))
    assert(code == 0 && out.contains("RECOVERED"),
      s"recovery failed (exit $code):\n" +
        out.linesIterator.toSeq.takeRight(10).mkString("\n"))
    val bat = """startBatches=(\d+) endBatches=(\d+)""".r
    val (k, n) = bat.findFirstMatchIn(out)
      .map(m => (m.group(1).toInt, m.group(2).toInt))
      .getOrElse(fail(s"no batch accounting in:\n$out"))
    assert(k >= 2 && k < n,
      s"kill did not land mid-run: startBatches=$k endBatches=$n")

    // phase 3 (red): garbage-fill every state file in the snapshot and
    // restart — the state store load must FAIL the query, loudly
    import scala.jdk.CollectionConverters._
    val garbage = "GRAFT-CORRUPTED-STATE".getBytes("UTF-8")
    val stateFiles = Files.walk(Paths.get(s"$ckptB/state")).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(stateFiles.nonEmpty, "no state files to corrupt — drill vacuous")
    stateFiles.foreach(p => Files.write(p, garbage))
    val (code2, out2) = drain(launch("resume", in, ckptB, outB))
    assert(code2 == 3 && out2.contains("RESUME FAILED"),
      s"corrupted checkpoint should fail the restart (exit $code2):\n" +
        out2.linesIterator.toSeq.takeRight(10).mkString("\n"))
  }
}
