package org.apache.spark.graftbench

/** The listener bus drain is Spark-internal; this shim is the only place
  * the harness reaches past the public API, and only in traced runs. */
object Bus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
