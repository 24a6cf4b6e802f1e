package perfbench

/** Per-layer metrics of a traced run, derived from the spans, the Spark
  * counters attributed to them, and the workload's own Stats. A layer a
  * workload never calls reads 0. */
object Layers {

  /** Spans of the timed work only (warm-up and checks excluded). */
  private def spansOf(t: Tracer, name: String) =
    t.spans.filter(s => s.name == name && (s.phase == "op" || s.phase == "build"))

  private def secs(t: Tracer, name: String) = spansOf(t, name).map(_.seconds).sum

  /** Seconds per call of layer `name`. */
  private def perCall(t: Tracer, name: String): Double = {
    val ss = spansOf(t, name)
    if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.length
  }

  private def jobsPerCall(t: Tracer, name: String): Double = {
    val ss = spansOf(t, name)
    if (ss.isEmpty) 0.0 else ss.map(s => t.inclusive(s.id).jobs).sum.toDouble / ss.length
  }

  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  def metrics(t: Tracer, st: Stats, ops: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, ops).toDouble
    // the timed work: the one-off build (vector_index) and every op
    val roots = spansOf(t, "op") ++ spansOf(t, "build")
    val c = new Counters
    c.add(t.phaseCounters("op")); c.add(t.phaseCounters("build"))
    val fit = spansOf(t, "kmeans.fit")
    val iters = st("kmeans.iterations")
    Seq(
      ("sources.read_s", secs(t, "sources.read") / n, "s"),
      ("sources.write_s", secs(t, "sources.write") / n, "s"),
      ("sources.bytes_written", st("sources.bytes_written") / n, "bytes"),
      ("functions.assign_rows_per_s",
        ratio(st("functions.assign.rows"), secs(t, "functions.assign")), "rows/s"),
      ("functions.encode_rows_per_s",
        ratio(st("functions.encode.rows"), secs(t, "functions.encode")), "rows/s"),
      ("functions.minhash_docs_per_s",
        ratio(st("functions.minhash.rows"), secs(t, "functions.minhash")), "docs/s"),
      ("kmeans.fit_s", perCall(t, "kmeans.fit"), "s"),
      ("kmeans.iterations", ratio(iters, fit.length), "count"),
      ("kmeans.step_s", ratio(fit.map(_.seconds).sum, iters), "s"),
      ("kmeans.jobs_per_step", ratio(fit.map(s => t.inclusive(s.id).jobs).sum, iters), "count"),
      ("metrics.eval_s", perCall(t, "metrics.eval"), "s"),
      ("metrics.jobs", jobsPerCall(t, "metrics.eval"), "count"),
      ("pca.project_s", perCall(t, "pca.project"), "s"),
      ("ann.pq_train_s", perCall(t, "ann.pq_train"), "s"),
      ("ann.build_s", perCall(t, "ann.build"), "s"),
      ("ann.query_s", perCall(t, "ann.query"), "s"),
      ("ann.append_s", perCall(t, "ann.append"), "s"),
      ("ann.delete_s", perCall(t, "ann.delete"), "s"),
      ("ann.compact_s", perCall(t, "ann.compact"), "s"),
      ("ann.jobs_query", jobsPerCall(t, "ann.query"), "count"),
      ("ann.jobs_append", jobsPerCall(t, "ann.append"), "count"),
      ("ann.jobs_delete", jobsPerCall(t, "ann.delete"), "count"),
      ("ann.jobs_compact", jobsPerCall(t, "ann.compact"), "count"),
      ("ann.recall_at_10", ratio(st("ann.recall.hits"), st("ann.recall.total")), "ratio"),
      ("dedup.exact_s", perCall(t, "dedup.exact"), "s"),
      ("dedup.neardup_s", perCall(t, "dedup.neardup"), "s"),
      ("dedup.candidate_pairs", st("dedup.candidate_pairs"), "count"),
      ("dedup.pair_yield",
        ratio(st("dedup.verified_pairs"), st("dedup.candidate_pairs")), "ratio"),
      ("text.gate_s", perCall(t, "text.gate"), "s"),
      ("text.scrub_s", perCall(t, "text.scrub"), "s"),
      ("curation.pack_s", perCall(t, "curation.pack"), "s"),
      ("spark.jobs", c.jobs / n, "count"),
      ("spark.stages", c.stages / n, "count"),
      ("spark.tasks", c.tasks / n, "count"),
      ("spark.task_cpu_s", c.cpuNs / 1e9 / n, "s"),
      ("spark.task_run_s", c.runMs / 1e3 / n, "s"),
      ("spark.gc_s", c.gcMs / 1e3 / n, "s"),
      ("spark.scheduler_delay_s", c.schedDelayMs / 1e3 / n, "s"),
      ("spark.shuffle_write_kb", c.shuffleWrite / 1024.0 / n, "KB"),
      ("spark.shuffle_read_kb", c.shuffleRead / 1024.0 / n, "KB"),
      ("spark.spill_kb", c.spill / 1024.0 / n, "KB"),
      ("spark.no_job_s", roots.map(t.noJobSeconds).sum / n, "s"),
      ("spark.plan_s", roots.map(t.planSeconds).sum / n, "s"))
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def metricList(ms: Seq[(String, Double, String)]) =
    ms.map { case (n, v, u) => s"${q(n)}: {\"value\": $v, \"unit\": ${q(u)}}" }
      .mkString("{", ", ", "}")

  /** The trace file: every span with its self time and the Spark work
    * attributed to it, plus the traced run's end-to-end and per-layer
    * numbers (the former give the tracing overhead against untraced
    * runs). */
  def traceJson(t: Tracer, workload: String, seed: Long,
                e2e: Seq[(String, Double, String)],
                layers: Seq[(String, Double, String)]): String = {
    val spans = t.spans.map { s =>
      val c = t.inclusive(s.id)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "phase": ${q(s.phase)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_s": ${s.seconds}, """ +
        s""""self_s": ${t.selfSeconds(s)}, "no_job_s": ${t.noJobSeconds(s)}, """ +
        s""""plan_s": ${t.planSeconds(s)}, "jobs": ${c.jobs}, "stages": ${c.stages}, """ +
        s""""tasks": ${c.tasks}, "task_cpu_s": ${c.cpuNs / 1e9}, "gc_s": ${c.gcMs / 1e3}, """ +
        s""""shuffle_write_bytes": ${c.shuffleWrite}, "shuffle_read_bytes": ${c.shuffleRead}, """ +
        s""""spill_bytes": ${c.spill}}"""
    }
    s"""{"workload": ${q(workload)}, "seed": $seed,
       |"end_to_end": ${metricList(e2e)},
       |"per_layer": ${metricList(layers)},
       |"spans": [
       |${spans.mkString(",\n")}
       |]}
       |""".stripMargin
  }
}
