package perfbench

/** The per-layer metrics of the traced run, in `BENCHMARK.json` order. Each
  * names the end-to-end metric it should move and the workload that
  * exercises its layer (`README.md` has the full table). A workload that
  * bypasses a layer reports 0 for it. Times and bytes are means per traced
  * op unless the name says otherwise; `runs`, `failed`, `manifest_answered`,
  * `one_task_stages_over_0_3s` and `task_failures` are totals over the
  * traced rounds; `icelite.snapshots` and `icelite.files_visible` are means
  * over the probes that read them, and `*_per_*` values are means over the
  * ops they apply to.
  */
object Layers {
  final case class M(name: String, unit: String, better: String, moves: String, workload: String)

  val all: Seq[M] = Seq(
    M("component.runs", "count", "higher", "ops_per_s", "keboola_jobs"),
    M("component.failed", "count", "lower", "ok_ratio", "keboola_jobs"),
    M("component.driver_s", "s", "lower", "op_p50_s", "keboola_jobs"),
    M("csv.bytes_in", "bytes", "lower", "op_p50_s", "keboola_jobs"),
    M("csv.bytes_out", "bytes", "lower", "op_p50_s", "keboola_jobs"),
    M("csv.rows_in", "count", "lower", "op_p50_s", "keboola_jobs"),
    M("icelite.meta_read_s", "s", "lower", "op_p75_s", "keboola_jobs"),
    M("icelite.manifest_resolve_s", "s", "lower", "op_p75_s", "keboola_jobs"),
    M("icelite.snapshots", "count", "lower", "op_p75_s", "keboola_jobs"),
    M("icelite.files_visible", "count", "lower", "op_p75_s", "keboola_jobs"),
    M("icelite.metadata_bytes_per_commit", "bytes", "lower", "op_p75_s", "keboola_jobs"),
    M("icelite.data_bytes_per_input_byte", "ratio", "lower", "op_p50_s", "keboola_jobs"),
    M("icelite.upsert_rows_written_per_source_row", "ratio", "lower", "op_p75_s", "keboola_jobs"),
    M("icelite.files_rewritten_per_upsert", "count", "lower", "op_p75_s", "keboola_jobs"),
    M("v2.plan_s", "s", "lower", "op_p50_s", "lake_reads"),
    M("v2.files_planned_ratio", "ratio", "lower", "op_p50_s", "lake_reads"),
    M("v2.bytes_planned_per_row_returned", "bytes", "lower", "op_p75_s", "lake_reads"),
    M("v2.manifest_answered", "count", "higher", "op_p50_s", "lake_reads"),
    M("catalyst.actions_per_op", "count", "lower", "ops_per_s", "keboola_jobs"),
    M("catalyst.analysis_s", "s", "lower", "ops_per_s", "keboola_jobs"),
    M("catalyst.optimization_s", "s", "lower", "ops_per_s", "keboola_jobs"),
    M("catalyst.planning_s", "s", "lower", "ops_per_s", "keboola_jobs"),
    M("spark.jobs_per_op", "count", "lower", "ops_per_s", "keboola_jobs"),
    M("spark.stages_per_op", "count", "lower", "ops_per_s", "keboola_jobs"),
    M("spark.tasks_per_op", "count", "lower", "ops_per_s", "keboola_jobs"),
    M("spark.one_task_stages_over_0_3s", "count", "lower", "op_p75_s", "lake_reads"),
    M("spark.job_s", "s", "lower", "op_p75_s", "lake_reads"),
    M("spark.executor_run_s", "s", "lower", "op_p75_s", "lake_reads"),
    M("spark.executor_cpu_s", "s", "lower", "op_p75_s", "lake_reads"),
    M("spark.core_busy_ratio", "ratio", "higher", "op_p75_s", "lake_reads"),
    M("spark.task_wait_s", "s", "lower", "op_p75_s", "lake_reads"),
    M("spark.shuffle_write_bytes", "bytes", "lower", "op_p75_s", "lake_reads"),
    M("spark.shuffle_read_bytes", "bytes", "lower", "op_p75_s", "lake_reads"),
    M("spark.spill_bytes", "bytes", "lower", "op_p75_s", "lake_reads"),
    M("spark.task_failures", "count", "lower", "ok_ratio", "lake_reads"),
    M("jvm.gc_s", "s", "lower", "op_p75_s", "keboola_jobs"),
    M("self.driver_s", "s", "lower", "op_p50_s", "keboola_jobs"),
    M("self.spark_jobs_s", "s", "lower", "op_p75_s", "lake_reads"),
    M("self.catalyst_s", "s", "lower", "op_p50_s", "keboola_jobs"),
    M("self.icelite_probe_s", "s", "lower", "op_p75_s", "keboola_jobs"),
    M("self.v2_probe_s", "s", "lower", "op_p50_s", "lake_reads"),
    M("trace.overhead_ratio", "ratio", "lower", "op_p50_s", "keboola_jobs"))
}
