package perfbench

/** Every metric the benchmark emits, with its unit. BENCHMARK.json at
  * the repo root lists the same names (MetricsSpec checks both ways).
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "op_p50_s" -> "s",
    "op_p90_s" -> "s",
    "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "engine.analysis_s" -> "s",
    "engine.optimization_s" -> "s",
    "engine.planning_s" -> "s",
    "engine.codegen_compile_s" -> "s",
    "engine.codegen_classes" -> "count",
    "engine.jobs_per_op" -> "count",
    "engine.stages" -> "count",
    "engine.tasks" -> "count",
    "core.build_s" -> "s",
    "core.build_jobs" -> "count",
    "rel.op_s" -> "s",
    "zonal.op_s" -> "s",
    "llm.op_s" -> "s",
    "stream.op_s" -> "s",
    "ext.op_s" -> "s",
    "plans.op_s" -> "s",
    "engine.task_run_s" -> "s",
    "engine.task_cpu_s" -> "s",
    "engine.gc_s" -> "s",
    "engine.busy_ratio" -> "ratio",
    "engine.shuffle_write_bytes" -> "bytes",
    "engine.shuffle_read_bytes" -> "bytes",
    "engine.shuffle_fetch_wait_s" -> "s",
    "engine.spill_bytes" -> "bytes",
    "engine.input_bytes" -> "bytes",
    "engine.output_bytes" -> "bytes",
    "zonal.cells_per_s" -> "1/s",
    "zonal.decode_s" -> "s",
    "zonal.decode_cells_per_s" -> "1/s",
    "zonal.codec_mb_per_s" -> "MB/s",
    "zonal.rasterize_s" -> "s",
    "zonal.rasterize_rows" -> "count",
    "zonal.rows_per_cell" -> "ratio",
    "zonal.pip_pass_ratio" -> "ratio",
    "zonal.aggregate_s" -> "s",
    "stream.batches" -> "count",
    "stream.state_commit_s" -> "s",
    "stream.trigger_s" -> "s",
    "llm.jobs_per_op" -> "count",
    "llm.fixpoint_op_s" -> "s",
    "engine.warm_pass_s" -> "s",
    "trace.overhead_ratio" -> "ratio")
}
