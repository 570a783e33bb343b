package graft

import org.apache.spark.sql.functions._

/**
 * The skewed-corpus gate (r17 verdict item 6): generate
 * [[graft.tools.MakeSkew]]'s profile — one source holding >50% of all
 * documents, a crawl-wide boilerplate sentence in 80% of base docs, and
 * a 560-doc near-dup block that lands in ONE LSH band bucket — then run
 * the FULL registered query surface over it and DuckDB-compare every
 * oracle. MakeScale's corpora are uniform-ish; 100 TB crawls are not,
 * and this is the gate that proves the engine's answers stay correct
 * when the data looks like a real crawl: bucketPairs' heavy regime
 * (sort-merge self-join past HeavyBucket=512) EXECUTES here, the
 * df-bounded ground-truth paths see shingles with df ≈ 0.8·N, the
 * source-quota/mixture/source-rank family sees a 50%-of-corpus source.
 *
 * Heavy (runs all 200+ queries + oracles, like FuzzSpec) but
 * self-contained; skips when python3/duckdb aren't present.
 */
class SkewSpec extends SparkSpec {

  private def run(cmd: String*): Option[(Int, String)] =
    try {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
      p.waitFor()
      Some((p.exitValue(), out))
    } catch { case _: java.io.IOException => None }

  test("skewed corpus: heavy LSH bucket engages and the full registry " +
      "matches DuckDB") {
    val probe = run("python3", "-c", "import duckdb, pyarrow, pandas")
    assume(probe.exists(_._1 == 0),
      "python3 + duckdb + pyarrow not available — oracle gate " +
        "untestable here")
    val checker = new java.io.File("tools/check.py")
    assume(checker.exists(),
      "tools/check.py not found — test JVM not rooted at the repo")
    assume(new java.io.File(sf001).isDirectory, "driver testdata not present")
    val dir = tempDir("graft-skewspec").toString
    graft.tools.MakeSkew.generate(spark, sf001, s"$dir/corpus")

    // skew anatomy: the profile actually skews
    val docs = spark.read.parquet(s"$dir/corpus/documents.parquet")
    val n = docs.count()
    val src0 = docs.where(col("source") === "src0").count()
    assert(src0 * 2 >= n, s"src0 holds $src0/$n — expected >= 50%")

    // the heavy-bucket regime is ENGAGED in this gate: the 560-doc
    // near-dup block shares band buckets past Dedup.HeavyBucket, so
    // bucketPairs takes the sort-merge self-join path, not the array
    val maxBucket = graft.dedup.Dedup.bucketStats(docs)
      .agg(max(col("bucket_size"))).head().getLong(0)
    assert(maxBucket > graft.dedup.Dedup.HeavyBucket,
      s"max LSH bucket $maxBucket does not cross " +
        s"HeavyBucket=${graft.dedup.Dedup.HeavyBucket} — the heavy " +
        "regime would not execute")

    // the same correctness gate the driver runs, over the skew profile
    val failed = Verify.run(spark, s"$dir/corpus", s"$dir/out")
    assert(failed.isEmpty,
      s"queries threw on the skewed corpus: ${failed.mkString(", ")}")
    val res = run("python3", checker.getAbsolutePath,
      s"$dir/corpus", s"$dir/out")
    assert(res.isDefined, "could not launch python3")
    val (code, out) = res.get
    val fails = out.linesIterator.filter(_.startsWith("FAIL")).toSeq
    assert(code == 0 && fails.isEmpty,
      s"skewed-corpus divergences:\n${fails.mkString("\n")}\n" +
        out.linesIterator.toSeq.takeRight(1).mkString)
  }
}
