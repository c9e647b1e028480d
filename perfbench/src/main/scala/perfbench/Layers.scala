package perfbench

/** Every per-layer metric the traced run prints, with its unit. A run
  * prints all of them; a metric whose layer the workload does not use
  * reads 0.
  */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "cases_per_s" -> "cases/s",
    "fetch.calls" -> "count",
    "fetch.calls_per_url" -> "ratio",
    "fetch.busy_s" -> "s",
    "fetch.max_inflight" -> "count",
    "fetch.faults" -> "count",
    "fetch.span_s" -> "s",
    "fetch.binary_calls" -> "count",
    "parse.case_span_s" -> "s",
    "parse.scenario_span_s" -> "s",
    "parse.rows_in" -> "count",
    "parse.rows_out" -> "count",
    "route.span_s" -> "s",
    "route.success" -> "count",
    "route.excluded" -> "count",
    "route.error" -> "count",
    "sink.json_span_s" -> "s",
    "sink.json_files" -> "count",
    "sink.json_bytes" -> "bytes",
    "sink.manifest_span_s" -> "s",
    "sink.pdf_span_s" -> "s",
    "sink.pdf_files" -> "count",
    "sink.pdf_bytes" -> "bytes",
    "etl.pass_self_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s",
    "spark.task_run_s" -> "s",
    "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.actions" -> "count",
    "spark.catalyst_ms" -> "ms",
    "spark.records_read" -> "count",
    "spark.codegen_compiles" -> "count",
    "spark.cached_mb_end" -> "MB",
    "jvm.gc_ms" -> "ms",
    "host.steal_ms" -> "ms") ++
    CatalogMix.layerNames ++ StoreCdc.layerNames
}
