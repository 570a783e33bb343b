package graft

/**
 * Cross-JVM correctness gate (r18 verdict item 2), the continuous arm:
 * run a HEAVY-SHUFFLE subset of the registry under
 * `local-cluster[2,4,2048]` — two real executor PROCESSES — and
 * DuckDB-compare, via [[graft.tools.LocalClusterVerify]] in a separate
 * JVM (a second SparkContext cannot share the test JVM). Every other
 * correctness gate runs one JVM, where a non-serializable closure, a
 * driver-only broadcast assumption, or a kryo/encoder gap passes
 * silently; this crosses the process boundary every `sbt test`.
 *
 * The full 222-query registry runs once per round through the same
 * tool → LOCALCLUSTER_r{N}.json (r19: 222/222 DuckDB-green, 543 s);
 * the subset here picks the heaviest shuffle/stateful shapes so the
 * continuous gate stays ~3 min.
 */
class LocalClusterSpec extends SparkSpec {

  /** Shuffle-heavy, state-heavy, artifact-heavy representatives: big
    * aggs + joins, window functions, LSH self-join, IVF+PQ artifact
    * (kryo/broadcast of codebooks), BM25 lexicon round-trip,
    * streaming RocksDB state, CDC chunking, curation pipeline. */
  private val Subset = Seq(
    "q1_pricing", "q5_local", "q_sessionize", "q_salted_join",
    "dedup_minhash", "dedup_exact", "dedup_chunks_cdc",
    "ann_ivfpq", "ann_filtered", "retrieval_index_bm25",
    "retrieval_phrase", "corpus_pipeline", "corpus_mix",
    "stream_window_counts", "stream_sessionize", "text_heavy_hitters",
    "url_domain_rollup", "index_roundtrip", "scan_nested_json",
    "points_reagg")

  test("heavy-shuffle registry subset is DuckDB-green under " +
      "local-cluster (two executor JVMs)") {
    assume(new java.io.File("/opt/spark/bin").isDirectory,
      "no Spark distribution for local-cluster")
    assume(new java.io.File(sf001).isDirectory, "driver testdata not present")
    val probe = try {
      val p = new ProcessBuilder("python3", "-c",
        "import duckdb, pyarrow, pandas").start()
      p.waitFor(); p.exitValue() == 0
    } catch { case _: java.io.IOException => false }
    assume(probe, "python3 + duckdb not available")
    val checker = new java.io.File("tools/check.py")
    assume(checker.exists(), "tools/check.py not found")

    val out = tempDir("graft-lc-spec").toString
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val pb = new ProcessBuilder((Seq(javaBin,
      "-Xmx2g",
      "-cp", sys.props("java.class.path")) ++
      Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
        .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED") ++
      Seq("graft.tools.LocalClusterVerify", sf001, out,
        Subset.mkString(","))): _*)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val log = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val done = p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
    if (!done) { p.destroyForcibly(); fail(s"local-cluster verify timed out:\n" +
      log.linesIterator.toSeq.takeRight(15).mkString("\n")) }
    assert(p.exitValue() == 0,
      s"local-cluster verify failed (exit ${p.exitValue()}):\n" +
        log.linesIterator.toSeq.takeRight(15).mkString("\n"))

    val chk = new ProcessBuilder("python3", checker.getAbsolutePath,
      sf001, out).redirectErrorStream(true).start()
    val chkOut = scala.io.Source.fromInputStream(chk.getInputStream).mkString
    chk.waitFor()
    val fails = chkOut.linesIterator.filter(_.startsWith("FAIL")).toSeq
    assert(chk.exitValue() == 0 && fails.isEmpty,
      s"cross-JVM divergences:\n${fails.mkString("\n")}")
  }
}
