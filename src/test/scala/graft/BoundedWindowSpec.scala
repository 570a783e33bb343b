package graft

import org.apache.spark.sql.functions._

/** Bounded-frame audit for every PARTITIONLESS window in the query
  * library (r19 verdict item: the `WindowExec: No Partition Defined`
  * warnings are benign ONLY while every such window runs over a
  * provably bounded frame — one unbounded slip is a silent
  * scale-killer, so the sites are enumerated HERE, each with its
  * boundedness proof, and the static scan fails the build when a new
  * site appears without being added to this registry).
  *
  * Registry: source file → number of partitionless window
  * constructors (`Window.orderBy(...)` / `Window.partitionBy()`), with
  * the per-site bound:
  *
  *  - plans/Quantiles.scala (1): walkQuantileBuckets' cum/total sums
  *    run over histogram BUCKET counts — the caller's bucket layout
  *    (lquantize step / power-of-two ladder), never corpus rows.
  *  - dedup/Corpus.scala (3): dsirSelect's nt/nr normalizers ride the
  *    ≤`buckets`-row feature-bucket model (871); tokenBudget's
  *    cum/tot ride the ≤201-row quality-score histogram (kc ∈ 0..200
  *    by construction, asserted dynamically below).
  *  - RetrievalQueries.scala (8): rrfFuse ranks two lists ALREADY cut
  *    to k rows by TakeOrdered (375/379); the six recall gates'
  *    per-mille floors aggregate kiRankOf output — one row per target
  *    query, ≤ TargetCap (collect-capped at RetrievalQueries
  *    targetSample).
  *  - AnalyticsQueries.scala (1): q_rolling_7d's 7-day range frame
  *    runs over one row PER CALENDAR DAY (post-groupBy), bounded by
  *    the dataset's date span, not its row count.
  *  - TextQueries.scala (1): text_token_hist's cumulative sum rides
  *    the same ≤201-row kc histogram as tokenBudget.
  *  - ann/Permute.scala (1): permutation's energy rank runs over one
  *    row per embedding COORDINATE (post-groupBy(pos)), ≤ Dim = 64.
  *  - AnnQueries.scala (3): recallGate's and recallGate2's batch hit
  *    totals run over one row per query id of the gate's fixed query
  *    batch (queryBatch's nq lowest-id vectors); rotatedBalance's
  *    max shares run over 4 rows, one per PQ subspace.
  *
  * The scan reads whole files, so a constructor wrapped across lines
  * (`...Window` then `.partitionBy()` on the next line) counts.
  */
class BoundedWindowSpec extends SparkSpec {

  private val registry: Map[String, Int] = Map(
    "plans/Quantiles.scala" -> 1,
    "dedup/Corpus.scala" -> 3,
    "RetrievalQueries.scala" -> 8,
    "AnalyticsQueries.scala" -> 1,
    "TextQueries.scala" -> 1,
    "ann/Permute.scala" -> 1,
    "AnnQueries.scala" -> 3)

  test("every partitionless window site is registered with a bound") {
    // whole-file match: a constructor wrapped as `Window\n  .orderBy(`
    // is a site too; prose mentions in comments are not
    val found: Map[String, Int] = SparkSpec.sourceMatches("src/main/scala/graft",
        """Window\s*\.\s*(orderBy\s*\(|partitionBy\s*\(\s*\))""")
      .groupBy(_.file).map { case (k, v) => k -> v.size }
    assert(found == registry,
      s"partitionless Window sites drifted from the audited registry.\n" +
        s"found:    ${found.toSeq.sorted}\nexpected: ${registry.toSeq.sorted}\n" +
        "New sites must state a boundedness proof in BoundedWindowSpec's scaladoc.")
  }

  test("quality-score histogram frame is <= 201 buckets (kc in 0..200)") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val m = graft.text.Text.qualityModelRaw(docs)
      .select(col("doc_id"), col("n_tokens"),
        expr("(num + 1000 * n_tokens) * 100 div (1000 * n_tokens)").as("kc"))
    val mm = m.agg(min("kc"), max("kc"), count(lit(1))).head
    assert(!mm.isNullAt(2) && mm.getLong(2) > 0, "model must be non-empty")
    assert(mm.getLong(0) >= 0 && mm.getLong(1) <= 200,
      s"kc out of the documented 0..200 range: min=${mm.getLong(0)} max=${mm.getLong(1)}")
    val buckets = m.select("kc").distinct().count()
    assert(buckets <= 201, s"histogram frame exceeded 201 buckets: $buckets")
  }
}
