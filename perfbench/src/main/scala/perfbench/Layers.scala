package perfbench

/** The standard per-layer measures of one library call. */
object Layers {
  private def common(res: Result, name: String, s: Trace.CallStats): Unit = {
    res.layer(s"$name.jobs", s.jobs, "count")
    res.layer(s"$name.tasks", s.tasks, "count")
    res.layer(s"$name.task_ms", s.taskMs, "ms")
    res.layer(s"$name.busy_frac", s.busyFrac, "ratio")
  }

  /** A request-sized call: median latency plus the per-call work. */
  def interactive(res: Result, name: String, s: Trace.CallStats): Unit = {
    res.layer(s"$name.ms_p50", s.msP50, "ms")
    common(res, name, s)
  }

  /** A batch stage: median wall seconds, per-call work, shuffle, spill
    * and the rows it produces. */
  def batch(res: Result, name: String, s: Trace.CallStats, rowsOut: Double): Unit = {
    res.layer(s"$name.s", s.msP50 / 1000.0, "s")
    common(res, name, s)
    res.layer(s"$name.shuffle_write_mb", s.shuffleWriteMb, "MB")
    res.layer(s"$name.spill_mb", s.spillMb, "MB")
    res.layer(s"$name.rows_out", rowsOut, "count")
  }
}
