package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters of the Spark work one span caused. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    gcMs += o.gcMs; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/**
 * The traced run's recorder: spans around each call into a graft layer,
 * and Spark work attributed to the span that was open when its job
 * started (the span name rides the job's local properties, which a
 * stream's execution thread inherits when it is started inside the
 * span). Only public listener APIs; nothing inside graft changes.
 */
final class Trace(spark: SparkSession) extends SparkListener {
  val SpanKey = "graftbench.span"
  private val stageSpan = mutable.HashMap.empty[Int, String]
  val work = mutable.LinkedHashMap.empty[String, Work]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def of(span: String): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse("other")
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageSpan.getOrElse(e.stageId, "other"))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized(progress += e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }

  def inSpan[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Sum of the work of every span whose name starts with `prefix`. */
  def total(prefix: String): Work = synchronized {
    val t = new Work
    work.foreach { case (k, w) => if (k.startsWith(prefix)) t += w }
    t
  }
}
