package graft

import org.apache.spark.sql.SparkSession

/**
 * The session policy of every graft entry point: the mains, the CLI and
 * the test base trait build their `SparkSession` here and nowhere else.
 *
 *  - `spark.sql.session.timeZone=UTC`: the `%Y/%m-%d` layouts, the date
 *    synthetic field and `--after`/`--before` are UTC days. Under the
 *    JVM's own zone the same data and bounds give other answers.
 *  - `spark.ui.enabled=false`: no entry point serves the web UI.
 *  - `spark.sql.warehouse.dir` under [[graft.tools.LocalFs.TmpRoot]]: the
 *    bucketed tables never land in the working directory, and concurrent
 *    test groups, each with its own root, never share one.
 *  - `spark.sql.codegen.cache.maxEntries=1000`: the registry's query
 *    plans share scan and tokenize subtrees, and Spark's default 100-entry
 *    class cache thrashes across them.
 *
 * A caller names its master and shuffle-partition count, chains its own
 * confs on the returned builder and calls `getOrCreate()`.
 */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core this JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${graft.tools.LocalFs.TmpRoot}/graft-warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
}
