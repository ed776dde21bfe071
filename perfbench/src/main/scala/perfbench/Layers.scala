package perfbench

/** Per-layer metrics summed over a traced run's span trees.
  *
  * A top-level span is one operation (a query, or a stream job). Its
  * children are the layers it called: `build` (the operator constructors,
  * with any eager jobs they launch), `plan` (Catalyst, forced through
  * `executedPlan`), and `action` (execution, through the last row). */
object Layers {

  val StreamKeys: Seq[String] = Seq("stream.batches", "stream.add_batch_ms",
    "stream.planning_ms", "stream.wal_ms", "stream.state_rows", "stream.state_bytes",
    "stream.state_commit_ms", "stream.late_dropped", "stream.rows_out")

  /** Stream-layer metrics of a workload with no stream jobs. */
  def zeroStream: Seq[(String, Double)] = StreamKeys.map(_ -> 0.0)

  def fromSpans(spans: Seq[Span]): Seq[(String, Double)] = {
    val self = Trace.selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    val tops = spans.filter(_.parent < 0)
    def all(kind: String) = tops.flatMap(t => kids.getOrElse(t.id, Nil)).filter(_.kind == kind)
    def sec(ss: Seq[Span]) = ss.map(_.durationNs).sum / 1e9
    def count(ss: Seq[Span], k: String) = ss.map(_.counts.getOrElse(k, 0.0)).sum
    val build = all("build")
    val plan = all("plan")
    val action = all("action")
    val every = build ++ plan ++ action
    Seq(
      "scan.bytes" -> count(every, "scan_bytes"),
      "scan.rows" -> count(every, "scan_rows"),
      "build.s" -> sec(build),
      "build.jobs" -> count(build, "jobs"),
      "build.driver_s" -> build.map(s =>
        Stats.uncovered(s.startMs, s.endMs, s.jobIntervals.toSeq)).sum / 1e3,
      "plan.s" -> sec(plan),
      "exec.s" -> sec(action),
      "exec.jobs" -> count(action, "jobs"),
      "exec.stages" -> count(action, "stages"),
      "exec.tasks" -> count(action, "tasks"),
      "exec.task_s" -> count(action, "task_s"),
      "exec.task_cpu_s" -> count(action, "task_cpu_s"),
      "exec.gc_s" -> count(action, "gc_s"),
      "exec.idle_s" -> action.map(s =>
        Stats.uncovered(s.startMs, s.endMs, s.taskIntervals.toSeq)).sum / 1e3,
      "shuffle.write_bytes" -> count(every, "shuffle_write_bytes"),
      "shuffle.read_bytes" -> count(every, "shuffle_read_bytes"),
      "shuffle.fetch_wait_s" -> count(every, "shuffle_fetch_wait_s"),
      "shuffle.spill_bytes" -> count(every, "spill_bytes"),
      "driver.result_bytes" -> count(every, "result_bytes"),
      // the harness's own time inside each operation, outside its layers:
      // what build + plan + exec leave unaccounted of the wall clock
      "trace.unaccounted_s" -> tops.map(t => self(t.id)).sum / 1e9,
    )
  }
}
