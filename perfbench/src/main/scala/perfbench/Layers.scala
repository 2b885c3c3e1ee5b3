package perfbench

/** The per-layer metrics every workload shares. */
object Layers {
  /** Listener totals over the measured phase. */
  def common(t: Trace, cores: Int, sessionMs: Double): Map[String, Double] = {
    val measure = t.all.find(_.name == "measure").get
    val ss = t.subtree(measure.id)
    def m(attr: String) = t.sum(ss, attr)
    Map(
      "core.session_ms" -> sessionMs,
      "catalyst.analyze_ms" -> m("analyze_ms"),
      "catalyst.optimize_ms" -> m("optimize_ms"),
      "catalyst.plan_ms" -> m("plan_ms"),
      "exec.ms" -> m("job_ms"),
      "exec.jobs" -> m("jobs"),
      "exec.stages" -> m("stages"),
      "exec.tasks" -> m("tasks"),
      "exec.task_cpu_ms" -> m("cpu_ms"),
      "exec.gc_ms" -> m("gc_ms"),
      "exec.core_busy_ratio" -> m("task_ms") / (measure.ms * cores),
      "exec.shuffle_write_bytes" -> m("shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> m("shuffle_read_bytes"),
      "exec.spill_bytes" -> m("spill_bytes"))
  }
}
