package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Derive an N×-scale copy of a driver-generated sf directory, for
 * scale-cliff hunting beyond the largest provided SF (the round-3 verdict
 * asks for a 10× gate run: "surface cliffs sf0.1 hides").
 *
 * `MakeScale <baseDir> <outDir> [copies=10]` unions `copies` key-remapped
 * images of each table:
 *
 *  - every int64 key gets `copy * 1e10` added — the SAME constant on both
 *    sides of every FK (o_orderkey/l_orderkey, c_custkey/o_custkey, …),
 *    so join fan-out and key cardinality scale together, the way a real
 *    N× corpus behaves;
 *  - `region`/`nation` stay fixed (TPC-H dims don't scale);
 *  - `events` timestamps are UNCHANGED: the day span stays the same and
 *    rows-per-day grow N× (a bigger deployment, not a longer history), so
 *    date-bounded queries keep their selectivity;
 *  - `documents.text` is perturbed per copy (every 3rd word tagged) —
 *    a shingle survives only if none of its 5 words was touched, so
 *    copies are NOT near-duplicates of each other and candidate-pair
 *    volume scales like a real corpus instead of exploding into
 *    10-member clusters of every base doc;
 *  - `embeddings.embedding` gets small deterministic per-copy noise
 *    (±0.01, hash-seeded) — cluster structure survives, exact collisions
 *    don't.
 *
 * Copy 0 is byte-value-identical to the base, so whatever duplicate/
 * near-duplicate structure the base corpus has is preserved.
 * Deterministic: no RNG, everything keyed on (id, position, copy).
 */
object MakeScale {
  private val KeyStride = 10000000000L // beyond any base key

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = graft.Session.cpus
    val spark = graft.Session.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // events.ts is TIMESTAMP(NANOS) — read as raw nanos; the events remap
    // below rebuilds it as a proper micros TIMESTAMP on write
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def scaled(table: String)(remap: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val df = spark.read.parquet(s"$base/$table.parquet")
      val exploded = df.crossJoin(
        spark.range(copies.toLong).select(col("id").as("dn_copy")))
      val off = col("dn_copy") * lit(KeyStride)
      remap(exploded, off).drop("dn_copy")
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[make-scale] $table x$copies done")
    }
    def addKeys(keys: String*)(df: DataFrame, off: org.apache.spark.sql.Column): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + off))

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    scaled("customer")(addKeys("c_custkey"))
    scaled("supplier")(addKeys("s_suppkey"))
    scaled("part")(addKeys("p_partkey"))
    scaled("orders")(addKeys("o_orderkey", "o_custkey"))
    scaled("lineitem")(addKeys("l_orderkey", "l_partkey", "l_suppkey"))
    scaled("events") { (df, off) =>
      val keyed = addKeys("event_id", "user_id")(df, off)
      // rebuild ts as a real TIMESTAMP column (microseconds — the
      // engine-side semantics Sources.events normalizes to). Base dirs
      // have carried nanos (→ raw long under nanosAsLong; exact
      // integral div, not /1000.0, so no double-rounding at nanos
      // magnitude) and naive micros (→ TIMESTAMP_NTZ; exact wall-clock
      // relabel under the session's UTC timezone). Writing the raw
      // encoding back made scaled dirs bench-only: the DuckDB oracle
      // SQL reads epoch_ns(ts) off a TIMESTAMP column and failed
      // loudly on an INT64. A scaled dir now passes the correctness
      // gate too.
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          keyed.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          keyed.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => keyed
      }
    }
    scaled("documents") { (df, off) =>
      addKeys("doc_id")(df, off)
        .withColumn("text", when(col("dn_copy") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            (w, i) => when(i % 3 === 2,
              concat(w, lit("x"), col("dn_copy"))).otherwise(w)), " ")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    scaled("embeddings") { (df, off) =>
      addKeys("vec_id")(df, off)
        .withColumn("embedding", when(col("dn_copy") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            (x + (pmod(hash(col("vec_id"), i, col("dn_copy")), lit(1000))
              - lit(500)).cast("float") / lit(50000.0f)).cast("float"))))
    }
    spark.stop()
  }
}
