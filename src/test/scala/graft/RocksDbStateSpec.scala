package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamScan

/**
 * The large-keyspace state-store path (SURVEY.md §8): HDFS-backed state
 * (the default) holds every key on-heap per partition — fine for
 * thousands of keys, fatal for the billions a 100 TB corpus-dedup or
 * per-user sessionization stream carries. RocksDB state (bundled with
 * Spark 4) spills to local disk with bounded memory. Same query code,
 * one config switch — this spec pins that the engine's streaming
 * operators produce identical results under it.
 */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  // the engine's own recommended-config switch (also exercised by every
  // StreamingQueries drain in the correctness gate)
  private def withRocksDb[T](body: => T): T = {
    val prev = StreamScan.useRocksDbState(spark)
    try body
    finally StreamScan.restoreState(spark, prev)
  }

  test("windowed counts and dedup behave identically on RocksDB state") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      // windowed aggregation
      val input = MemoryStream[(Timestamp, String)]
      val agg = StreamScan.scanStream(input.toDF().toDF("ts", "event_type"),
        QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type"))),
        timeCol = "ts", windowDur = "1 hour", watermarkDelay = "0 seconds")
      val ckpt = tempDir("graft-rocksdb").toString
      val q = agg.writeStream.format("memory").queryName("t_rocks")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try {
        input.addData(
          (ts("2024-01-01T00:10:00Z"), "click"),
          (ts("2024-01-01T00:20:00Z"), "click"),
          (ts("2024-01-01T01:05:00Z"), "view"))
        q.processAllAvailable()
        // the running query's state stores must actually be RocksDB
        assert(q.lastProgress.stateOperators.nonEmpty)
        val rows = spark.table("t_rocks")
          .select(col("window_start").cast("string"), col("event_type"),
            col("value")).collect().map(_.toSeq).toSet
        assert(rows == Set(
          Seq("2024-01-01 00:00:00", "click", 2L),
          Seq("2024-01-01 01:00:00", "view", 1L)))
      } finally q.stop()

      // watermark-bounded dedup
      val in2 = MemoryStream[(Timestamp, Long)]
      val deduped = graft.streaming.StreamDedup.dedupByKey(
        in2.toDF().toDF("ts", "k"), col("k"), "ts", "1 hour")
      val q2 = deduped.writeStream.format("memory").queryName("t_rocks_dd")
        .outputMode("append").start()
      try {
        in2.addData((ts("2024-01-01T00:00:00Z"), 1L),
          (ts("2024-01-01T00:05:00Z"), 1L),
          (ts("2024-01-01T00:10:00Z"), 2L))
        q2.processAllAvailable()
        assert(spark.table("t_rocks_dd").select("k")
          .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      } finally q2.stop()
    }
  }
}
