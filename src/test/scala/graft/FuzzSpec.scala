package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * The adversarial-corpus gate (r16 verdict item 4): generate
 * [[graft.tools.FuzzCorpus]]'s hostile documents/embeddings (empty,
 * letterless, astral-plane unicode, 1-token, 8k-char, exact/near/
 * shifted duplicates, NBSP and \x0B whitespace, regex metacharacters,
 * zero vectors, 1e18 coordinates…), run the FULL registered query
 * surface over it, and DuckDB-compare every oracle — the same
 * correctness gate the driver runs, pointed at the trap classes the
 * synthetic corpus never exercises.
 *
 * What it has already caught (each now a pinned contract):
 * truncating-vs-floor `//` on empty token arrays, DuckDB's
 * unicode-space `trim()` vs Spark's ASCII one, Java `\s` vs RE2 `\s`
 * at \x0B, `array_to_string([])` = NULL poisoning md5-derived hashes,
 * `sequence(0,-1)` descending into phantom chunk indexes, zero-norm
 * vectors 0/0-ing the whole ANN family, a 1e18 coordinate overflowing
 * the permutation quantizer, non-UTF-8-locale crashes on raw-term
 * partition directories, and FP-summation-order drift scrambling
 * PageRank's output sort.
 *
 * Heavy (runs all 200+ queries + oracles) but self-contained; skips
 * when python3/duckdb aren't present (they're gate scaffolding, not a
 * library dependency).
 */
class FuzzSpec extends SparkSpec {

  private def run(cmd: String*): Option[(Int, String)] =
    try {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
      p.waitFor()
      Some((p.exitValue(), out))
    } catch { case _: java.io.IOException => None }

  test("adversarial corpus: the full registry matches DuckDB " +
      "(empty/unicode/dup/zero-vector trap classes)") {
    val probe = run("python3", "-c", "import duckdb, pyarrow, pandas")
    assume(probe.exists(_._1 == 0),
      "python3 + duckdb + pyarrow not available — oracle gate " +
        "untestable here")
    val checker = new java.io.File("tools/check.py")
    assume(checker.exists(),
      "tools/check.py not found — test JVM not rooted at the repo")
    val base = new java.io.File(sf001)
    assume(base.isDirectory, "driver testdata not present")
    val dir = tempDir("graft-fuzzspec").toString
    graft.tools.FuzzCorpus.generate(spark, sf001, s"$dir/corpus")
    // per-query store artifacts under /tmp are keyed by (dir,
    // fingerprint) — the fresh temp dir never collides with a stale
    // binary's artifacts
    val failed = Verify.run(spark, s"$dir/corpus", s"$dir/out")
    assert(failed.isEmpty,
      s"queries threw on the adversarial corpus: ${failed.mkString(", ")}")
    val res = run("python3", checker.getAbsolutePath,
      s"$dir/corpus", s"$dir/out")
    assert(res.isDefined, "could not launch python3")
    val (code, out) = res.get
    val fails = out.linesIterator.filter(_.startsWith("FAIL")).toSeq
    assert(code == 0 && fails.isEmpty,
      s"adversarial-corpus divergences:\n${fails.mkString("\n")}\n" +
        out.linesIterator.toSeq.takeRight(1).mkString)
  }
}
