package graft.tools

/**
 * Executor-loss drill for the lineage knob (r17 verdict item 4).
 * [[graft.plans.Lineage]] claims: `local` mode (localCheckpoint) is
 * fast but a lost executor makes the query unrecoverable mid-run;
 * `reliable` mode (checkpoint to a fault-tolerant FS) survives it.
 * Nothing killed an executor until now — this main turns the claim
 * into evidence.
 *
 * It runs under `local-cluster[2,1,1024]` — real standalone
 * scheduling, TWO separate executor JVMs — computes
 * [[graft.dedup.Corpus.sourceRank]] (the iterative path whose PageRank
 * states are Lineage-cut), then SIGKILLs the executor PROCESSES (a
 * real loss, not a graceful decommission; all of them, so the drill is
 * deterministic — see the phase-2 note) and re-executes the plan,
 * which must re-read the cut frames from respawned executors:
 *
 *   - mode=local: the localCheckpoint blocks on the dead executor are
 *     gone and lineage is truncated → the re-read MUST fail
 *     (exit 3, after printing the exception class) — the documented
 *     hazard, demonstrated;
 *   - mode=reliable: the cut frames live in the checkpoint dir's FS →
 *     the re-read recomputes from files and returns IDENTICAL rows
 *     (exit 0) — the knob's promise, demonstrated.
 *
 * ExecutorLossSpec launches this main twice as a separate JVM (a
 * second SparkContext can't share the test JVM) and asserts both
 * verdicts. Exit codes: 0 = survived with identical results,
 * 3 = re-read failed (expected for local), anything else = drill
 * harness problem.
 */
object ExecutorLossDrill {

  private def executorPids(appId: String): Seq[Long] = {
    // /proc scan, not ProcessHandle.info().commandLine(): the executor
    // launch command carries every jar on -cp and the JDK truncates /
    // omits oversized command lines in ProcessHandle.Info. Candidates
    // are filtered to THIS drill's executors via the --app-id argument
    // on the executor launch command (r18 advice: a concurrent Spark
    // job on the same host would otherwise trip the 2-executor check).
    val self = ProcessHandle.current().pid()
    val procDir = new java.io.File("/proc")
    Option(procDir.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName.toLongOption)
      .filter(_ != self)
      .filter { pid =>
        try {
          val cmd = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"/proc/$pid/cmdline")), "UTF-8")
          cmd.contains("CoarseGrainedExecutorBackend") &&
            cmd.contains(appId)
        } catch { case _: java.io.IOException => false }
      }
      .sorted
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0) // local | reliable
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val ck = java.nio.file.Files.createTempDirectory("graft-drill-ck")
    val spark = graft.Session.builder("local-cluster[2,1,1024]", 8)
      .appName(s"graft-executor-loss-$mode")
      .config("spark.graft.lineage", mode)
      .config("spark.graft.checkpointDir", ck.toString)
      // the executor JVMs need the graft classes the driver was
      // launched with
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(8)
      // phase 1: materialize the iterative paths — their states are
      // Lineage-cut under the session's policy
      val ranked = graft.dedup.Corpus.sourceRank(docs)
      val before = ranked.collect().map(_.toSeq).toSet
      val appId = spark.sparkContext.applicationId
      val pids = executorPids(appId)
      require(pids.size == 2, s"expected 2 executor JVMs, saw $pids")
      // phase 2: a REAL executor loss — SIGKILL every executor process.
      // Killing ALL of them makes the drill deterministic: the tiny
      // final frame can coalesce (AQE) to one block whose placement is
      // scheduler-chosen, so killing one executor only SOMETIMES hits
      // it. Total loss hits it always; the standalone worker respawns
      // fresh executors, which can serve the re-read only from the
      // reliable checkpoint files, never from the dead JVMs' blocks.
      pids.foreach(pid => Runtime.getRuntime
        .exec(Array("kill", "-9", pid.toString)).waitFor())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (executorPids(appId).exists(pids.contains) &&
          System.nanoTime() < deadline)
        Thread.sleep(200)
      require(!executorPids(appId).exists(pids.contains),
        "executors did not die")
      // phase 3: the successor job re-reads the cut frames
      val after =
        try Right(ranked.collect().map(_.toSeq).toSet)
        catch { case e: Throwable => Left(e) }
      after match {
        case Right(rows) =>
          if (rows == before) {
            println(s"DRILL SURVIVED mode=$mode rows=${rows.size}")
            System.exit(0)
          } else {
            println(s"DRILL WRONG-ANSWER mode=$mode " +
              s"(${rows.size} vs ${before.size} rows)")
            System.exit(4)
          }
        case Left(e) =>
          println(s"DRILL FAILED mode=$mode: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
          System.exit(3)
      }
    } finally spark.stop()
  }
}
