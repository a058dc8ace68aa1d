package layerbench

/** The metric sets every run reports, with units; BENCHMARK.json lists the
  * same names (the self-test checks that). */
object Metrics {

  /** Measured with tracing off, on every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "items_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  /** The ROADMAP targets: the catalog's slowest or most shuffle-bound
    * entries. */
  val Targets: Seq[String] = Seq("q_kcore_peel", "q_triangle_count", "q_rollup_revenue",
    "q3_top_revenue", "dd_exact_substring", "dd_exact_substring_span", "dd_exact",
    "dd_paragraph_exact", "dd_url_dedup", "tr_prefix_dedup", "ta_tfidf_topk", "dd_cluster_cc")

  val Modules: Seq[String] = Seq("CoreQueries", "DocQueries", "PipelineQueries", "XQueries",
    "OpQueries", "TranscriptQueries", "SketchQueries", "SourceQueries", "OlapQueries",
    "GraphQueries")

  /** Measured by the traced run. A layer that a workload does not run
    * reports 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "table.scan_s" -> "s", "table.scan_bytes" -> "bytes",
    "table.append_s" -> "s", "table.append_files" -> "count",
    "job.decode_s" -> "s", "job.extract_encode_s" -> "s", "job.sort_s" -> "s",
    "job.tasks" -> "count", "job.task_run_s" -> "s", "job.task_cpu_s" -> "s",
    "job.task_wait_s" -> "s", "job.gc_s" -> "s", "job.task_skew" -> "ratio",
    "job.lineage_commit_s" -> "s", "job.jobs_per_snapshot" -> "count",
    "job.quarantined_turns" -> "turns", "job.turns_per_s_1core" -> "turns/s",
    "job.scaling_eff" -> "ratio",
    "extract.turn_ns_p50" -> "ns", "extract.turn_ns_p99" -> "ns", "extract.turn_ns_max" -> "ns",
    "extract.pure_turns_per_s" -> "turns/s", "extract.pure_turns_per_s_nproc" -> "turns/s",
    "extract.pure_scaling_eff" -> "ratio",
    "extract.extract_text_ns" -> "ns", "extract.segment_ns" -> "ns",
    "extract.classify_ns" -> "ns", "extract.kv_anchors_ns" -> "ns", "extract.bank_ns" -> "ns",
    "extract.signature_ns" -> "ns", "extract.json_ns" -> "ns",
    "sink.write_s" -> "s", "sink.output_bytes" -> "bytes", "sink.files" -> "count",
    "catalog.plan_s" -> "s", "catalog.exec_s" -> "s", "catalog.jobs" -> "count",
    "catalog.stages" -> "count", "catalog.tasks" -> "count",
    "catalog.shuffle_bytes" -> "bytes", "catalog.spill_bytes" -> "bytes",
    "catalog.gc_s" -> "s", "catalog.blockmgr_growth_bytes" -> "bytes") ++
    Modules.map(m => s"catalog.module.${m}_s" -> "s") ++
    Targets.flatMap(t => Seq(s"query.$t.s" -> "s", s"query.$t.shuffle_bytes" -> "bytes")) ++
    Seq("trace.ladder_top_s" -> "s", "trace.untraced_s" -> "s", "trace.overhead_share" -> "ratio")

  /** Every per-layer metric, in the declared order, with 0 for the layers
    * that the workload did not run. */
  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] =
    if (measured.isEmpty) Nil
    else {
      val byName = measured.map(m => m._1 -> m).toMap
      val unknown = byName.keySet -- perLayer.map(_._1)
      require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
      perLayer.map { case (n, u) => byName.getOrElse(n, (n, 0.0, u)) }
    }
}
