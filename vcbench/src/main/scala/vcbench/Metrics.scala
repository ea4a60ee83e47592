package vcbench

/** Metric names and units; BENCHMARK.json declares the same lists and
  * run.py refuses a result whose names or units differ from it. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "items_per_s" -> "1/s", "recall" -> "ratio")

  /** Layers are named after the engine's modules. A traced run reports
    * every name; a layer the workload's loop does not call reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "plans.plan_ms" -> "ms",
    "plans.jobs_per_query" -> "count",
    "plans.job_ms" -> "ms",
    "plans.driver_gap_ms" -> "ms",
    "plans.served_frac" -> "ratio",
    "plans.planning_jobs" -> "count",
    "exec.exec_ms" -> "ms",
    "exec.jobs_per_query" -> "count",
    "exec.tasks_per_query" -> "count",
    "exec.task_run_ms" -> "ms",
    "exec.scheduler_delay_ms" -> "ms",
    "exec.driver_gap_ms" -> "ms",
    "exec.input_records_per_result" -> "ratio",
    "index.searchmany_ms" -> "ms",
    "index.graph_search_ms" -> "ms",
    "index.bytes_read_per_query" -> "B",
    "index.shuffle_bytes_per_batch" -> "B",
    "index.range_delegations" -> "count",
    "index.range_scan_fallbacks" -> "count",
    "index.build_ms" -> "ms",
    "index.append_ms" -> "ms",
    "index.delete_ms" -> "ms",
    "index.compact_ms" -> "ms",
    "index.files" -> "count",
    "index.bytes_on_disk" -> "B",
    "kmeans.fit_ms" -> "ms",
    "core.quantize_ns_per_vec" -> "ns",
    "core.estimate_ns_per_code" -> "ns",
    "core.l2_ns_per_pair" -> "ns",
    "core.bytes_per_estimate" -> "B",
    "ops.maxsim_ms" -> "ms",
    "ops.dedup_pairs_ms" -> "ms",
    "ops.dedup_pairs" -> "count",
    "ops.components_ms" -> "ms",
    "ops.dedupe_ms" -> "ms",
    "functions.vec_l2_ns_per_row" -> "ns",
    "trace.overhead_frac" -> "ratio")
}

object Workloads {
  val byName: Map[String, Workload] = Map("point" -> new Point, "batch" -> new Batch)
  val names: Seq[String] = Seq("point", "batch")
}
