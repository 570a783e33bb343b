package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution

import graft.{Session, SparkEntry}

/**
 * Per-query diagnostic: `runMain graft.tools.Explain <sfDir> <query>[,query…]`
 * prints, for each query, its formatted physical plan, the row count and
 * wall time of one run of that plan, each Spark job the run started (wall
 * ms and call site) with job/stage/task totals, and the AQE-final plan
 * the run settled on — the feedback loop for shuffle/pushdown/codegen
 * review (SURVEY.md §7 step 7).
 */
object Explain {
  private val Marker = "graft-explain-marker"

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.builder(s"local[${Session.cpus}]", Session.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    val markerStages = ConcurrentHashMap.newKeySet[Int]()
    @volatile var marked = new CountDownLatch(1)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty("spark.job.description") == Marker)) {
          js.stageIds.foreach(markerStages.add)
          marked.countDown()
        } else {
          // the stage name and the first library frame of its call site
          val site = js.stageInfos.lastOption.map(si =>
            si.name.take(60) + si.details.linesIterator
              .find(l => l.contains("graft") && !l.contains("tools."))
              .fold("")(" @ " + _.trim.take(80))).getOrElse("")
          starts.put(js.jobId, (System.nanoTime(), site))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          jobs.add(f"[job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1fms  $site")
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!markerStages.contains(e.stageInfo.stageId)) {
          stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
        }
    })
    /** Run a marker job and wait for its start. Listener events arrive
      * in order, so by then every earlier job's events are recorded. */
    def drain(): Unit = {
      marked = new CountDownLatch(1)
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      marked.await(1, TimeUnit.MINUTES)
    }

    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      drain()
      jobs.clear(); stages.set(0); tasks.set(0)
      // the query's own plan, not count()'s aggregate over it: AQE then
      // finalizes the very plan printed below
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      val n = SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.count())
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      drain()
      jobs.forEach(l => println(l))
      println(s"jobs=${jobs.size} stages=${stages.get} tasks=${tasks.get}")
      // post-execution adaptive plan: shows what AQE actually ran
      // (ReusedExchange/ReusedQueryStage, join strategy changes)
      println("---- executed (AQE final) ----")
      println(qe.executedPlan.toString.linesIterator
        .take(40).mkString("\n"))
    }
    spark.stop()
  }
}
