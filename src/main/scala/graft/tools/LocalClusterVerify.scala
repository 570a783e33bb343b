package graft.tools

/**
 * The cross-JVM correctness gate (r18 verdict item 2): run the driver's
 * Verify dump under `local-cluster[2,4,2048]` — real standalone
 * scheduling with TWO separate executor JVMs — so every query's
 * serialization/codegen boundary (encoders, broadcast values, kryo,
 * task binaries) is crossed for real. All other gates run local[*]
 * (one JVM), where a non-serializable closure or a broadcast that only
 * works driver-local can pass silently; this main converts "planned
 * for a cluster" into "proven across process boundaries".
 *
 * Usage: LocalClusterVerify <sfDir> <outDir> [names-csv]
 * Dumps the same parquet + oracle_sql.json as [[graft.Verify]];
 * tools/check.py then DuckDB-compares. LocalClusterSpec runs a
 * heavy-shuffle subset continuously; the full registry runs once per
 * round → LOCALCLUSTER_r{N}.json.
 */
object LocalClusterVerify {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = if (args.length > 2 && args(2).nonEmpty)
      Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = graft.Session.builder("local-cluster[2,4,2048]", 8)
      .appName("graft-local-cluster-verify")
      // the executor JVMs need the graft classes the driver holds
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val failed = graft.Verify.run(spark, sfDir, outDir, only)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"LOCALCLUSTER ran=${only.map(_.size).getOrElse(
      graft.SparkEntry.queries.size)} failed=${failed.size} " +
      f"secs=$secs%.1f ${failed.mkString(",")}")
    spark.stop()
    System.exit(if (failed.isEmpty) 0 else 1)
  }
}
