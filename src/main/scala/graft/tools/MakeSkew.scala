package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Skewed-corpus generator (r17 verdict item 6): MakeScale's copies are
 * uniform-ish, but 100 TB crawls are not — one domain can hold half the
 * corpus and one boilerplate template can appear in most of its pages.
 * This tool derives a SKEW profile from a driver-generated sf dir:
 *
 *  - **source skew**: every even doc_id is reassigned to `src0`, so one
 *    source holds ≥50% of documents (plus all of the heavy block below)
 *    — the regime source quotas, the mixture solver, and
 *    corpus_source_rank's co-duplication graph must survive;
 *  - **boilerplate shingle**: 80% of base docs (doc_id % 5 != 0) get a
 *    shared 12-token template sentence appended — a crawl-wide
 *    boilerplate span whose shingles have df ≈ 0.8·N (the TruthDfCap /
 *    df-bounding paths' worst case);
 *  - **heavy LSH block**: `extra` (default 560 > Dedup.HeavyBucket=512)
 *    NEW docs whose text is one 60-token boilerplate plus a distinct
 *    tail token — near-dups that land ~93% of the block in the SAME
 *    band bucket, so bucketPairs' heavy regime (sort-merge self-join,
 *    not the in-memory array) demonstrably executes in the gate;
 *  - embeddings gain matching rows for the new ids (base vector of
 *    id mod N with small deterministic noise, the MakeScale discipline)
 *    so doc↔vector joins keep total coverage;
 *  - every other table is byte-copied (their queries aren't
 *    text-sensitive; raw copy sidesteps events' TIMESTAMP(NANOS)).
 *
 * Deterministic: no RNG, no wall clock — everything keyed on ids.
 * SkewSpec runs the FULL registry over the result and diffs against
 * DuckDB via tools/check.py — correctness under skew, the same gate
 * the driver runs over the uniform corpus.
 */
object MakeSkew {

  private val CopiedTables = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")

  /** The crawl-wide template sentence planted in 80% of base docs. */
  val BoilerSentence: String =
    "subscribe to our newsletter for updates terms of service apply here"

  /** The heavy block's 60-token boilerplate (same shape as
    * DedupQueries.SkewBoiler but a distinct vocabulary, so the two skew
    * fixtures can't mask each other). */
  val HeavyBoiler: String =
    (0 until 60).map(i => s"tmpl$i").mkString(" ")

  def generate(spark: SparkSession, baseDir: String, outDir: String,
      extra: Int = 560): Unit = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    CopiedTables.foreach { t =>
      val src = Paths.get(s"$baseDir/$t.parquet")
      require(Files.isRegularFile(src),
        s"MakeSkew expects single-file base tables, got $src")
      Files.copy(src, out.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val base = docs.select(col("doc_id"),
      when(col("doc_id") % 5 =!= 0,
        concat(col("text"), lit(" " + BoilerSentence)))
        .otherwise(col("text")).as("text"),
      col("lang"),
      when(col("doc_id") % 2 === 0, lit("src0"))
        .otherwise(col("source")).as("source"))
    val heavy = spark.range(extra.toLong)
      .select((col("id") + maxId + 1).as("doc_id"),
        concat(lit(HeavyBoiler + " xt"), (col("id") + maxId + 1)
          .cast("string")).as("text"),
        lit("en").as("lang"), lit("src0").as("source"))
    base.unionByName(heavy)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val baseN = embs.count()
    val extraEmbs = spark.range(extra.toLong)
      .select((col("id") + maxId + 1).as("new_id"),
        (col("id") % baseN).as("vec_id"))
      .join(embs, Seq("vec_id"))
      .select(col("new_id").as("vec_id"),
        // small deterministic per-id noise: collisions break, clusters
        // survive (the MakeScale embedding discipline)
        transform(col("embedding"), (x, i) =>
          (x + (pmod(hash(col("new_id"), i), lit(1000)) - lit(500))
            .cast("float") / lit(50000.0f)).cast("float")).as("embedding"),
        col("label"))
    // the id % baseN join key assumes base vec_ids are contiguous
    // 0..baseN-1; on a sparse-id corpus the inner join would silently
    // drop rows and break the claimed doc↔vector coverage — fail loudly
    // instead (r18 advice)
    val extraN = extraEmbs.count()
    require(extraN == extra.toLong,
      s"heavy-doc embedding extension produced $extraN rows, expected " +
        s"$extra — base embeddings do not carry contiguous vec_ids " +
        s"0..${baseN - 1}")
    embs.unionByName(extraEmbs)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    println(s"[make-skew] wrote skew profile to $outDir " +
      s"(base+$extra heavy docs)")
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outd = if (args.length > 1) args(1) else "/tmp/graft-skew"
    val extra = if (args.length > 2) args(2).toInt else 560
    val spark = graft.Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, base, outd, extra)
    spark.stop()
  }
}
