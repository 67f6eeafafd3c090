package perfbench

/** The per-layer metrics of a traced run. Every name is reported on
  * every workload (the result format asks for the full set); a layer a
  * workload never enters reads 0. Per-op values average over the traced,
  * successful timed ops; `*_s` of a named call is the median of its spans. */
object Layers {
  /** (name, unit) of every per-layer metric, in BENCHMARK.json order. */
  val Names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.task_s" -> "s/op", "spark.core_util" -> "ratio", "spark.driver_s" -> "s/op",
    "spark.planning_s" -> "s/op", "spark.shuffle_write_mb" -> "MB/op",
    "spark.shuffle_read_mb" -> "MB/op", "spark.spill_mb" -> "MB/op", "spark.gc_s" -> "s/op",
    "spark.cached_mb_peak" -> "MB",
    "graft.job_s" -> "s/op", "sources.job_s" -> "s/op", "operators.job_s" -> "s/op",
    "dedup.job_s" -> "s/op", "text.job_s" -> "s/op", "ann.job_s" -> "s/op",
    "functions.job_s" -> "s/op", "streaming.job_s" -> "s/op",
    "graft.medallion_run_s" -> "s", "graft.curation_serve_s" -> "s",
    "graft.curation_report_s" -> "s", "graft.report_jobs" -> "count",
    "sources.merge_s" -> "s/call", "sources.commit_s" -> "s/call",
    "sources.write_amp" -> "ratio", "sources.space_amp" -> "ratio",
    "sources.load_s" -> "s/call", "sources.bucketed_commit_s" -> "s/op",
    "operators.latest_by_key_s" -> "s/call", "operators.quality_rules_s" -> "s/call",
    "operators.pii_s" -> "s/call", "operators.rollup_s" -> "s/call",
    "dedup.lsh_pairs_s" -> "s/call", "dedup.decontam_s" -> "s/call",
    "dedup.candidate_pairs" -> "count", "dedup.verified_frac" -> "ratio",
    "dedup.band_probe_s" -> "s/batch",
    "text.gate_s" -> "s/call", "text.nb_score_s" -> "s/call", "text.dsir_score_s" -> "s/call",
    "text.bm25_probe_s" -> "s/op", "text.bm25_update_s" -> "s/op",
    "ann.probe_s" -> "s/op", "ann.filtered_probe_s" -> "s/op", "ann.update_s" -> "s/op",
    "ann.delete_s" -> "s/op", "ann.retrain_s" -> "s", "ann.occupancy_skew" -> "ratio",
    "ann.filtered_recall_at_10" -> "ratio",
    "functions.minhash_rows_per_task_s" -> "rows/task-s",
    "functions.langid_rows_per_task_s" -> "rows/task-s",
    "streaming.add_batch_s" -> "s/batch", "streaming.query_planning_s" -> "s/batch",
    "streaming.wal_commit_s" -> "s/batch", "streaming.state_rows" -> "rows",
    "setup.session_s" -> "s", "setup.build_s" -> "s", "setup.warmup_s" -> "s",
    "host.canary_s" -> "s", "jvm.peak_rss_mb" -> "MB", "trace.overhead_frac" -> "ratio",
    "failed_frac" -> "ratio", "backfill_s" -> "s", "op_s_tail" -> "s",
    "write_s_p50" -> "s", "recall_at_10" -> "ratio")

  private val Modules = Seq("graft") ++ Tracer.Modules.toSeq.sorted

  /** Spans whose median duration is the metric of the same name + `_s`. */
  private val CallSpans = Seq("graft.medallion_run", "graft.curation_serve",
    "graft.curation_report", "sources.merge", "sources.commit", "sources.load",
    "operators.latest_by_key", "operators.quality_rules", "operators.pii",
    "operators.rollup", "dedup.lsh_pairs", "dedup.decontam", "dedup.band_probe",
    "text.gate", "text.nb_score", "text.dsir_score", "text.bm25_probe",
    "text.bm25_update", "ann.probe", "ann.filtered_probe", "ann.update", "ann.delete")

  def apply(t: Tracer, wl: Workload, name: String, nproc: Int, opSpans: Seq[(Int, Span)],
            lat: Seq[Double], ok: Seq[Int], gc: Array[Double], n: Int, failed: Int,
            fixed: Map[String, Double]): Map[String, (Double, String)] = {
    import Workload.median
    val okSet = ok.toSet
    val traced = opSpans.filter(x => okSet(x._1))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOp(f: (Span, Seq[Job]) => Double) = mean(traced.map { case (_, s) => f(s, t.jobsOf(s)) })
    def clipped(s: Span, js: Seq[Job]) = js.map(j => (j.startMs max s.startMs, j.endMs min s.endMs))
    val mb = 1024.0 * 1024.0
    val m = collection.mutable.Map[String, Double]()
    m("spark.jobs") = perOp((_, js) => js.size)
    m("spark.stages") = perOp((_, js) => js.map(_.stages).sum)
    m("spark.tasks") = perOp((_, js) => js.map(_.tasks).sum)
    m("spark.task_s") = perOp((_, js) => js.map(_.taskMs).sum / 1000.0)
    m("spark.core_util") = perOp((s, js) =>
      js.map(_.taskMs).sum / 1000.0 / math.max(s.dur, 1e-3) / nproc)
    m("spark.driver_s") = perOp((s, js) => s.dur - Tracer.unionMs(clipped(s, js)) / 1000.0)
    m("spark.planning_s") = perOp((s, _) =>
      t.planning.filter(p => p._1 >= s.startMs && p._1 <= s.endMs).map(_._2).sum / 1000.0)
    m("spark.shuffle_write_mb") = perOp((_, js) => js.map(_.shuffleW).sum / mb)
    m("spark.shuffle_read_mb") = perOp((_, js) => js.map(_.shuffleR).sum / mb)
    m("spark.spill_mb") = perOp((_, js) => js.map(_.spill).sum / mb)
    m("spark.gc_s") = mean(traced.map(x => gc(x._1)))
    m("spark.cached_mb_peak") = t.blockPeak / mb
    Modules.foreach(mod => m(s"$mod.job_s") = perOp((s, js) =>
      Tracer.unionMs(clipped(s, js.filter(t.moduleOf(_) == mod))) / 1000.0))
    CallSpans.foreach { c =>
      m(s"${c}_s") = median(t.spans.filter(_.name == c).map(_.dur).toSeq)
    }
    def rowsPerTaskS(c: String) = {
      val ts = t.spans.filter(_.name == c).map(s => t.jobsUnder(s).map(_.taskMs).sum / 1000.0)
      val mt = median(ts.toSeq)
      if (mt > 0) wl.kernelRows / mt else 0.0
    }
    m("functions.minhash_rows_per_task_s") = rowsPerTaskS("functions.minhash")
    m("functions.langid_rows_per_task_s") = rowsPerTaskS("functions.langid")
    fixed.foreach { case (k, v) => m(k) = v }

    // traced vs untraced ops of the same run; the backfill op of the
    // incremental workload has no untraced twin
    val comparable = ok.filter(i => wl.isRead(i) && !(name == "medallion_incremental" && i == 0))
    val (on, off) = comparable.partition(Main.tracedOp)
    val offMed = median(off.map(lat))
    m("trace.overhead_frac") = if (offMed > 0) median(on.map(lat)) / offMed - 1 else 0.0
    m("failed_frac") = if (n == 0) 0.0 else failed.toDouble / n
    m("backfill_s") = if (name.startsWith("medallion") && okSet(0)) lat(0) else 0.0
    m("op_s_tail") = Main.tail(ok.filter(wl.isRead).map(lat)).map(_._1).getOrElse(0.0)
    m("write_s_p50") = median(ok.filterNot(wl.isRead).map(lat))
    wl.layerMetrics(traced).foreach { case (k, v) => m(k) = v }
    Names.map { case (k, u) => k -> ((m.getOrElse(k, 0.0), u)) }.toMap
  }
}
