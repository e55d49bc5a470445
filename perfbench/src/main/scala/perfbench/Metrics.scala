package perfbench

/** Metric names and units, and the statistics the benchmark reports.
  * `BENCHMARK.json` lists the same names; a test keeps the two equal.
  */
object Metrics {
  val MiB: Double = 1024.0 * 1024.0

  /** Reported with tracing off, as medians over the run's units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "rows_per_s" -> "rows/s",
    "query_s.p50" -> "s",
    "cpu_s" -> "s",
    "heap_after_mb" -> "MB")

  /** Reported by the traced run. A layer a workload does not run reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.scan_s" -> "s",
    "pipeline.header_filter_s" -> "s",
    "etl.parse_s" -> "s",
    "etl.validate_s" -> "s",
    "etl.segment_s" -> "s",
    "etl.prepare_s" -> "s",
    "pipeline.split_processed_s" -> "s",
    "pipeline.split_errors_s" -> "s",
    "pipeline.sink_processed_s" -> "s",
    "pipeline.sink_errors_s" -> "s",
    "pipeline.jobs" -> "count",
    "pipeline.bytes_read_ratio" -> "ratio",
    "pipeline.rows_processed" -> "count",
    "pipeline.rows_error.parsing_error" -> "count",
    "pipeline.rows_error.data_validation" -> "count",
    "pipeline.sink_files" -> "count",
    "pipeline.sink_mb" -> "MB",
    "ops.build_s" -> "s",
    "ops.build_jobs" -> "count",
    "plans.plan_s" -> "s",
    "ops.exec_s" -> "s",
    "ops.driver_gap_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.max_task_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB",
    "jvm.jit_s" -> "s",
    "trace.overhead_s" -> "s")

  val NamePattern = "[A-Za-z0-9_.-]+"

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The result line: one JSON object, every value as measured. */
  def resultJson(attempted: Int, failed: Int, values: Seq[(String, String, Double)]): String = {
    val ms = values.map { case (name, unit, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      s""""$name": {"value": $v, "unit": "$unit"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
