package graftbench

import graftbench.Bench.{median, percentile, Run}

/**
 * Per-layer metrics of a traced run. Every workload reports the whole
 * list; a layer the workload does not use reads 0. Times are medians of
 * the spans around each call, work counters are per round (or per query
 * where the name says so). The README maps each to the end-to-end
 * metric it should move.
 */
object Layers {
  private val MB = 1024.0 * 1024.0

  def metrics(run: Run, trace: Trace, cores: Int): Seq[(String, Double, String)] = {
    val rounds = math.max(1, run.samples.get("round").map(_.size).getOrElse(1)).toDouble
    def spans(n: String): Seq[Double] = run.samples.get(n).map(_.toSeq).getOrElse(Nil)
    def med(n: String): Double = median(spans(n))
    def calls(n: String): Double = math.max(1, spans(n).size).toDouble
    def c(n: String): Double = run.counts.getOrElse(n, 0.0)
    val queries = math.max(1.0, c("queries"))
    val frame = trace.total("sources.frame")
    val scan = trace.total("scan.")
    val build = trace.total("index.build")
    val update = trace.total("index.update")
    val iq = trace.total("index.query")
    val dedup = trace.total("dedup.")
    val corpus = trace.total("corpus.")
    dedup += corpus
    val all = trace.total("")
    val progress = trace.synchronized(trace.progress.toSeq.map(_.progress))
    def phase(k: String): Double =
      median(progress.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
    val nQueries = spans("index.query.plan").size.toDouble
    val roundS = med("round")
    val selected = c("selected_bytes")

    Seq(
      ("sources.list_ms", 1000 * med("sources.list"), "ms"),
      ("sources.dirs_selected", c("dirs_selected") / queries, "count"),
      ("sources.frame_s", med("sources.frame"), "s"),
      ("sources.frame_jobs", frame.jobs / calls("sources.frame"), "count"),
      ("sources.frame_input_mb", frame.inputBytes / MB / calls("sources.frame"), "MB"),
      ("sources.bytes_read_per_input_byte",
        if (selected > 0) (frame.inputBytes + scan.inputBytes + build.inputBytes) / selected
        else 0.0, "ratio"),
      ("scan.full_s", med("query.full"), "s"),
      ("scan.pruned_s", med("query.pruned"), "s"),
      ("scan.exec_s", med("scan.exec"), "s"),
      ("scan.jobs_per_query", if (c("queries") > 0) scan.jobs / queries else 0.0, "count"),
      ("scan.tasks_per_query", if (c("queries") > 0) scan.tasks / queries else 0.0, "count"),
      ("scan.shuffle_write_mb", scan.shuffleWriteBytes / MB / rounds, "MB"),
      ("scan.output_rows", c("output_rows") / rounds, "count"),
      // per build of one metric at one interval: 3 metrics x (day, hour)
      ("index.build_s", (med("index.build.day") + med("index.build.hour")) / 6, "s"),
      ("index.build_input_mb", build.inputBytes / MB / rounds, "MB"),
      ("index.files_written", c("index_files") / rounds, "count"),
      ("index.bytes_written", build.outputBytes / MB / rounds, "MB"),
      ("index.update_s", med("update"), "s"),
      ("index.update_bytes_written", update.outputBytes / MB / rounds, "MB"),
      ("index.query_plan_ms", 1000 * med("index.query.plan"), "ms"),
      ("index.query_exec_ms", 1000 * med("index.query.exec"), "ms"),
      ("index.query_p90_ms", 1000 * percentile(spans("query"), 0.9), "ms"),
      ("index.jobs_per_query", if (nQueries > 0) iq.jobs / nQueries else 0.0, "count"),
      ("index.files_read_per_query", if (nQueries > 0) c("files_read") / nQueries else 0.0, "count"),
      ("streaming.batches", progress.size / rounds, "count"),
      ("streaming.batch_ms", phase("triggerExecution"), "ms"),
      ("streaming.add_batch_ms", phase("addBatch"), "ms"),
      ("streaming.query_planning_ms", phase("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms", phase("walCommit"), "ms"),
      ("streaming.latest_offset_ms", phase("latestOffset"), "ms"),
      ("streaming.commit_offsets_ms", phase("commitOffsets"), "ms"),
      ("streaming.state_rows", c("state_rows") / rounds, "count"),
      ("streaming.sink_files", c("sink_files") / rounds, "count"),
      ("dedup.exact_s", med("dedup.exact"), "s"),
      ("dedup.candidates_s", med("dedup.candidates"), "s"),
      ("dedup.verify_s", med("dedup.verify"), "s"),
      ("corpus.clean_s", med("corpus.clean"), "s"),
      ("dedup.candidate_pairs", c("candidate_pairs") / rounds, "count"),
      ("dedup.verified_pairs", c("verified_pairs") / rounds, "count"),
      ("dedup.verify_yield",
        if (c("candidate_pairs") > 0) c("verified_pairs") / c("candidate_pairs") else 0.0, "ratio"),
      ("corpus.shuffle_write_mb", dedup.shuffleWriteBytes / MB / rounds, "MB"),
      ("corpus.spill_mb", dedup.spillBytes / MB / rounds, "MB"),
      ("corpus.gc_s", dedup.gcMs / 1000.0 / rounds, "s"),
      ("spark.jobs", all.jobs / rounds, "count"),
      ("spark.tasks", all.tasks / rounds, "count"),
      ("spark.executor_run_s", all.runMs / 1000.0 / rounds, "s"),
      ("spark.sched_gap_s", roundS - all.runMs / 1000.0 / rounds / cores, "s"))
  }
}
