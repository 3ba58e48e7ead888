package stormbench

import scala.collection.mutable

/** The per-layer metrics of the traced run. Every traced run reports all of
  * them; a layer a workload never enters reads 0. Times and counts are per
  * workload operation (a pass, a batch or a job-path request) unless the
  * name says otherwise. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "api.build_ms" -> "ms", "api.build_jobs" -> "count",
    "plans.analyze_ms" -> "ms", "plans.optimize_ms" -> "ms", "plans.physical_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.sched_delay_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.input_rows" -> "count",
    "exec.input_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.skew" -> "ratio", "exec.speedup_vs_1core" -> "ratio",
    "result.ms" -> "ms", "result.rows" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.latestOffset_ms" -> "ms",
    "streaming.getBatch_ms" -> "ms", "streaming.queryPlanning_ms" -> "ms",
    "streaming.addBatch_ms" -> "ms", "streaming.walCommit_ms" -> "ms",
    "streaming.commitOffsets_ms" -> "ms", "streaming.batches" -> "count",
    "sources.append_ms" -> "ms", "sources.lag_batches_max" -> "count",
    "state.multiGet_ms" -> "ms", "state.multiPut_ms" -> "ms", "state.onCommit_ms" -> "ms",
    "state.keys_read" -> "count", "state.keys_written" -> "count",
    "state.disk_mb" -> "MB", "state.write_mb" -> "MB", "state.write_amp" -> "ratio",
    "state.store_commit_ms" -> "ms", "state.store_rows" -> "count",
    "state.store_updated" -> "count", "state.store_mem_mb" -> "MB",
    "drpc.queue_wait_ms" -> "ms", "drpc.fn_ms" -> "ms", "drpc.reply_ms" -> "ms",
    "drpc.jobs_per_request" -> "count", "drpc.queue_depth_max" -> "count",
    "drpc.rejected" -> "count", "drpc.timeouts" -> "count",
    "drpc.fast_get_us" -> "us", "drpc.fast_hit_frac" -> "ratio",
    "drpc.index_fold_ms" -> "ms", "drpc.job_p50_ms" -> "ms", "drpc.job_p90_ms" -> "ms",
    "bench.generator_late_ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.coverage" -> "ratio", "trace.overhead_frac" -> "ratio")

  def empty(): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(units.map { case (k, _) => k -> 0.0 }: _*)

  private val MB = 1048576.0

  /** The `exec` layer from the listener's totals for job `groups`, per
    * operation; `wallMs` is the total wall time of the exec spans. */
  def exec(m: mutable.Map[String, Double], l: ExecListener, groups: Seq[String],
           n: Double, wallMs: Double): Unit = {
    val as = groups.flatMap(l.groups.get)
    def sum(f: l.Acc => Long): Double = as.map(f).sum.toDouble
    m("exec.ms") = wallMs / n
    m("exec.jobs") = sum(_.jobs.get) / n
    m("exec.stages") = sum(_.stages.get) / n
    m("exec.tasks") = sum(_.tasks.get) / n
    m("exec.task_ms") = sum(_.taskMs.get) / n
    m("exec.task_cpu_ms") = sum(_.cpuNs.get) / 1e6 / n
    m("exec.sched_delay_ms") = sum(_.schedMs.get) / n
    m("exec.gc_ms") = sum(_.gcMs.get) / n
    m("exec.input_rows") = sum(_.inRows.get) / n
    m("exec.input_mb") = sum(_.inBytes.get) / MB / n
    m("exec.shuffle_write_mb") = sum(_.shWrite.get) / MB / n
    m("exec.shuffle_read_mb") = sum(_.shRead.get) / MB / n
    m("exec.spill_mb") = sum(_.spill.get) / MB / n
    m("exec.skew") = l.skew(as)
  }

  /** Process-level figures since `gc0` (collector ms at window start). */
  def process(m: mutable.Map[String, Double], gc0: Long, n: Double): Unit = {
    m("jvm.gc_ms") = (Runtime.gcMs() - gc0) / n
    m("jvm.heap_peak_mb") = Runtime.heapPeakMb()
  }

  def report(r: Result, m: mutable.Map[String, Double]): Unit =
    units.foreach { case (k, u) => r.metric(k, m.getOrElse(k, 0.0), u) }
}
