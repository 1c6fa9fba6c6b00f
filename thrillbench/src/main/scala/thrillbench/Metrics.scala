package thrillbench

/** Metric names, units and the result line. */
object Metrics {
  /** Every per-layer metric, on every workload (0 where a layer is idle).
    * The `functions.dedup` counts and `operators.cc.rounds` are per-pass
    * figures of the workload itself.
    */
  val perLayer: Seq[String] =
    Tracer.Ops.map(_ + "_s") ++ Seq("dia.jobs", "dia.shuffle_mb",
      "functions.dedup.candidate_pairs", "functions.dedup.verified_pairs",
      "functions.dedup.verify_yield", "functions.dedup.pair_recall",
      "operators.cc.rounds", "operators.cc.jobs", "operators.cc.shuffle_mb",
      "cache.blocks_left_at_pass_end", "cache.evicted_blocks", "cache.storage_peak_mb",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_mb",
      "spark.shuffle_read_mb", "spark.spill_mb", "spark.task_run_s",
      "spark.task_cpu_s", "spark.gc_s", "spark.core_busy", "spark.driver_only_s",
      "jvm.gc_s", "jvm.jit_s",
      "self.bench_s", "self.dia_s", "self.functions_s", "self.operators_s",
      "self.spark_driver_s", "trace.overhead_s", "trace.selftime_err",
      "bench.cleanup_races")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (Seq("yield", "recall", "busy", "err").exists(name.endsWith)) "ratio"
    else "count"

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double)]): String = {
    val ms = metrics.map { case (k, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "${unit(k)}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
