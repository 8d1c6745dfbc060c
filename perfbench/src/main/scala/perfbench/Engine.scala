package perfbench

/** Per-layer figures every workload shares: the `engine.*` cost of the
  * Spark actions a traced pass ran, and the `sources.*` cost of building
  * its DataFrames and scanning files. */
object Engine {
  def layers(tracer: Tracer, wallMs: Double, cores: Int, codegenMs: Double, gcMs: Double): Map[String, Double] = {
    val acts = tracer.actions
    val w = tracer.total
    val scans = acts.flatMap(_.scans)
    val construct = tracer.spans.filter(s => s.layer == "sources" && s.name == "construct")
    Map(
      "engine.actions" -> acts.size.toDouble,
      "engine.analysis_ms" -> acts.map(_.analysisMs).sum,
      "engine.optimization_ms" -> acts.map(_.optimizationMs).sum,
      "engine.planning_ms" -> acts.map(_.planningMs).sum,
      "engine.codegen_compile_ms" -> codegenMs,
      "engine.jobs" -> w.jobs.toDouble,
      "engine.stages" -> w.stages.toDouble,
      "engine.tasks" -> w.tasks.toDouble,
      "engine.task_run_ms" -> w.taskRunMs,
      "engine.busy_share" -> w.taskRunMs / (wallMs * cores),
      "engine.shuffle_read_bytes" -> w.shuffleReadBytes.toDouble,
      "engine.gc_ms" -> gcMs,
      "engine.peak_exec_mem" -> w.peakExecMem.toDouble,
      "sources.construct_ms" -> construct.map(_.ms).sum,
      "sources.construct_jobs" -> construct.map(s => tracer.workOf(s.id).jobs).sum.toDouble,
      "sources.scan_rows" -> scans.map(_.rows).sum.toDouble,
      "sources.scan_bytes" -> scans.map(_.bytes).sum.toDouble,
      "sources.files_read" -> scans.map(_.files).sum.toDouble)
  }
}
