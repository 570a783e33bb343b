package graft.plans

import org.apache.spark.sql.DataFrame

/**
 * Cluster-safe lineage policy for the iterative paths (VERDICT r16
 * item 3). Several multi-consumer / iterative plans cut lineage
 * eagerly — [[graft.dedup.Corpus.sourceRank]]'s PageRank states,
 * `Corpus.pipelineStages`'s stage frames, and
 * [[graft.streaming.Admission]]'s drained probe frames — because each
 * state is referenced more than once by its successor and a lazy
 * persist chain replans the whole history under AQE (measured 1.6×
 * slower on sourceRank).
 *
 * `localCheckpoint()` is the fast mode: blocks live in executor
 * storage with lineage TRUNCATED, so on a real cluster a lost executor
 * makes the query unrecoverable mid-run. `checkpoint()` writes the
 * blocks to the checkpoint directory's fault-tolerant FS — an executor
 * loss recomputes from the checkpoint files — at the cost of an FS
 * round-trip per cut. Single-node (local[n]) has no executor to lose,
 * so local is the right default there; a cluster profile flips ONE
 * session conf instead of hunting call sites:
 *
 *   spark.graft.lineage = local (default) | reliable
 *   spark.graft.checkpointDir = <fs path>   (reliable mode, if the
 *     SparkContext checkpoint dir is not already set)
 *
 * Both modes produce identical results (PlanShapeSpec pins it on
 * sourceRank + the admission chain); the knob trades wall-clock for
 * mid-query fault tolerance only.
 */
object Lineage {
  val ModeKey = "spark.graft.lineage"
  val DirKey = "spark.graft.checkpointDir"

  private[graft] def isReliable(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "local" => false
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(spark.conf.getOption(DirKey).getOrElse(
            throw new IllegalStateException(
              s"$ModeKey=reliable needs a checkpoint directory: call " +
                s"sparkContext.setCheckpointDir or set $DirKey")))
        true
      case other => throw new IllegalArgumentException(
        s"bad $ModeKey: \"$other\" (want local or reliable)")
    }
  }

  /** Eagerly materialize `df` and cut its lineage under the session's
    * lineage policy — the one switch; no caller overrides it. */
  def cut(df: DataFrame): DataFrame =
    if (isReliable(df)) df.checkpoint() else df.localCheckpoint()

  /** Postfix form: `df.lineageCut` == `Lineage.cut(df)`. */
  implicit class LineageOps(private val df: DataFrame) extends AnyVal {
    def lineageCut: DataFrame = cut(df)
  }
}
