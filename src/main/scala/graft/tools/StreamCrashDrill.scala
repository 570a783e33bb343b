package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/**
 * Streaming crash-recovery drill (r18 verdict item 1) — the untested
 * half of the Structured Streaming contract: a stateful RocksDB stream
 * SIGKILLed mid-run after committed micro-batches must, when restarted
 * from the SAME checkpoint, restore its state and finish with the batch
 * oracle's answer. ExecutorLossSpec drilled batch lineage; this drills
 * streaming state.
 *
 * The streamed operator is a per-user mapGroupsWithState fold carrying
 * (events seen, Σsec) — custom state like StreamSessionize, but
 * ORDER-INSENSITIVE across micro-batches (counts and sums commute), so
 * the drill's verdict cannot depend on which files land in which batch.
 * Both state fields are emitted every batch a user appears in; per-user
 * counts are monotone, so the final answer is each user's max-count row
 * — which also makes the parquet sink idempotent under the one-batch
 * replay a sink-committed-but-checkpoint-uncommitted crash produces.
 * The Σsec riding along gates state CONTENT, not just row counts: a
 * recovery that resurrected the wrong state would show in the sum.
 *
 * Modes (StreamCrashSpec launches each as a separate JVM — a second
 * SparkContext cannot share the test JVM):
 *
 *   victim <in> <ckpt> <out>  — run the stream (maxFilesPerTrigger=1 →
 *     one micro-batch per input file, RocksDB state + changelog
 *     checkpointing). The spec SIGKILLs this JVM once ≥2 batches have
 *     committed. If it finishes unkilled, exit 2 (drill vacuous).
 *   resume <in> <ckpt> <out>  — restart the SAME stream from the same
 *     checkpoint, drain to completion, then compare the sink's per-user
 *     answer against the batch aggregate over ALL input. Prints
 *     `startBatches=<k> endBatches=<n>` so the spec can prove the kill
 *     was mid-run (k < n). Exit 0 = RECOVERED (rows match), 3 = the
 *     restart itself failed (EXPECTED when the spec corrupted the
 *     checkpoint's state files first), 4 = wrong answer.
 */
object StreamCrashDrill {

  case class FoldState(n: Long, sum: Long)
  case class UserFold(user_id: Long, n: Long, sum: Long)

  private def committedBatches(ckpt: String): Int =
    Option(new java.io.File(s"$ckpt/commits").listFiles())
      .map(_.count(f => f.getName.forall(_.isDigit))).getOrElse(0)

  def main(args: Array[String]): Unit = {
    val Array(mode, in, ckpt, out) = args.take(4)
    val spark = graft.Session.builder("local[4]", 4)
      .appName(s"graft-stream-crash-$mode")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    graft.streaming.StreamScan.useRocksDbState(spark)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sec",
        org.apache.spark.sql.types.LongType)))
    val startBatches = committedBatches(ckpt)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[FoldState, UserFold](
        GroupStateTimeout.NoTimeout()) {
        case (user, it, state: GroupState[FoldState]) =>
          var st = state.getOption.getOrElse(FoldState(0L, 0L))
          it.foreach { case (_, sec) => st = FoldState(st.n + 1, st.sum + sec) }
          state.update(st)
          UserFold(user, st.n, st.sum)
      }

    val q =
      try {
        val query = stream.toDF().writeStream
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            // pace the victim so the spec's kill lands mid-run; the
            // resume pays the same pacing, which keeps the two runs
            // comparable in the spec's timeout budget
            Thread.sleep(150)
            df.write.mode("append").parquet(out)
          }
          .start()
        query.awaitTermination()
        Right(query)
      } catch { case e: Throwable => Left(e) }

    q match {
      case Left(e) =>
        // a corrupted checkpoint surfaces here (state store load fails
        // inside the restarted query) — the drill's RED direction
        println(s"RESUME FAILED: ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString)
        spark.stop()
        System.exit(3)
      case Right(_) if mode == "victim" =>
        println("VICTIM FINISHED (drill vacuous — kill did not land)")
        spark.stop()
        System.exit(2)
      case Right(_) =>
        val endBatches = committedBatches(ckpt)
        println(s"startBatches=$startBatches endBatches=$endBatches")
        // final answer per user: the max-count emission (monotone per
        // user; idempotent under sink-side batch replay)
        val got = spark.read.parquet(out)
          .groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("sum"))).as("s"))
          .select(col("user_id"), col("s.n"), col("s.sum"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        val want = spark.read.parquet(in)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("sec")).as("sum"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        if (got == want) {
          println(s"RECOVERED rows=${got.size}")
          spark.stop()
          System.exit(0)
        } else {
          println(s"WRONG ANSWER: got ${got.size} users, want ${want.size}; " +
            s"diff=${(got.diff(want) ++ want.diff(got)).take(3)}")
          spark.stop()
          System.exit(4)
        }
    }
  }
}
