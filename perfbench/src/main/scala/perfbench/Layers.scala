package perfbench

/** Per-layer metric names shared by the workloads. */
object Layers {
  /** `spark.*` from one pass's listener counters. */
  def spark(layers: java.util.Map[String, java.lang.Double], d: Map[String, Double],
            wallS: Double, cpus: Int): Unit = {
    def g(k: String) = d.getOrElse(k, 0.0)
    val mb = 1048576.0
    layers.put("spark.jobs", g("jobs"))
    layers.put("spark.stages", g("stages"))
    layers.put("spark.tasks", g("tasks"))
    layers.put("spark.failed_tasks", g("failed_tasks"))
    layers.put("spark.scheduler_delay_s", g("scheduler_delay_ms") / 1e3)
    layers.put("spark.executor_run_s", g("executor_run_ms") / 1e3)
    layers.put("spark.executor_cpu_s", g("executor_cpu_ns") / 1e9)
    layers.put("spark.gc_s", g("gc_ms") / 1e3)
    layers.put("spark.busy_frac", g("executor_run_ms") / 1e3 / (wallS * cpus))
    layers.put("spark.input_mb", g("input_bytes") / mb)
    layers.put("spark.shuffle_read_mb", g("shuffle_read_bytes") / mb)
    layers.put("spark.shuffle_write_mb", g("shuffle_write_bytes") / mb)
    layers.put("spark.spill_mb", g("spill_bytes") / mb)
  }

  /** Self time per span name, for the traced run's report. */
  def spanTable(t: Tracer): java.util.Map[String, java.util.List[java.lang.Double]] = {
    val r = new java.util.LinkedHashMap[String, java.util.List[java.lang.Double]]()
    t.selfTimes.foreach { case (name, n, total, self) =>
      r.put(name, Main.jl(Seq(n.toDouble, total / 1e9, self / 1e9)))
    }
    r
  }
}
