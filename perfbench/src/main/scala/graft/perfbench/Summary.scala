package graft.perfbench

/** Per-layer figures of a traced run, from its traced loop operations.
  * Times and bytes are means per operation; `exec.stages_skipped`,
  * `exec.failed_tasks` and `exec.recompute_events` are run totals.
  * An operation's wall time splits into `construct.s`, Catalyst's
  * phases and `exec.s` (the collect: `exec.job_s` inside jobs plus
  * `exec.driver_s` outside them, such as code generation and result
  * transfer); see [[Layers.summarize]] for which clock each comes from. */
object Summary {
  private val MB = 1048576.0

  def layers(ops: Seq[(String, Boolean, Boolean, Int, Map[String, Double])],
      loop: LoopResult, builds: Seq[(String, Double)], recompute: Double, storeBytes: Long,
      generations: Int): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    def sum(k: String): Double = ops.map(_._5(k)).sum
    def mean(k: String): Double = sum(k) / n
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val wall = sum("clock_s")
    val misses = ops.filterNot(_._2)
    val cores = graft.GraftSession.cpus.toDouble
    val catalyst = sum("analysis_s") + sum("optimization_s") + sum("planning_s")
    Map(
      "construct.s" -> mean("construct_s"),
      "construct.hit_ratio" -> ops.count(_._2) / n,
      "construct.miss_s" -> ratio(misses.map(_._5("construct_s")).sum, misses.size),
      "lane.interactive_ratio" -> ops.count(_._3) / n,
      "lane.shuffle_partitions" -> ops.map(_._4).sum / n,
      "catalyst.analysis_s" -> mean("analysis_s"),
      "catalyst.optimization_s" -> mean("optimization_s"),
      "catalyst.planning_s" -> mean("planning_s"),
      "catalyst.share" -> ratio(catalyst, wall),
      "exec.jobs" -> mean("jobs"),
      "exec.stages" -> mean("stages"),
      "exec.tasks" -> mean("tasks"),
      "exec.stages_skipped" -> sum("stages_skipped"),
      "exec.s" -> mean("exec_s"),
      "exec.job_s" -> mean("exec_job_s"),
      "exec.driver_s" -> mean("exec_driver_s"),
      "exec.gap_s" -> mean("gap_s"),
      "exec.task_s" -> mean("task_s"),
      "exec.core_util" -> ratio(sum("task_s"), sum("exec_job_s") * cores),
      // max over mean task time per stage; a one-task stage has none
      "exec.task_skew" -> (if (sum("skew_n") > 0) sum("skew_sum") / sum("skew_n") else 1.0),
      "exec.input_mb" -> mean("input_b") / MB,
      "exec.shuffle_read_mb" -> mean("shuffle_read_b") / MB,
      "exec.shuffle_write_mb" -> mean("shuffle_write_b") / MB,
      "exec.spill_mb" -> mean("spill_b") / MB,
      "exec.broadcast_mb" -> mean("broadcast_b") / MB,
      "exec.gc_s" -> mean("gc_s"),
      "exec.failed_tasks" -> sum("failed_tasks"),
      "exec.recompute_events" -> recompute,
      "valve.hot_drops" -> mean("hot_drops"),
      "store.build_s" -> builds.map(_._2).sum,
      "store.append_s" -> loop.layerExtra.getOrElse("store.append_s", 0.0),
      "store.write_mb" -> loop.layerExtra.getOrElse("store.write_mb", storeBytes / MB),
      "store.append_ok_ratio" -> loop.layerExtra.getOrElse("store.append_ok_ratio", 1.0),
      "store.generations" -> generations.toDouble,
      "trace.overhead_ratio" -> loop.traceOverhead,
      // the layers against the wall time; nonzero where Catalyst's
      // tracked phases do not account for the client-timed plan span
      "trace.reconcile_error" ->
        ratio(math.abs(sum("construct_s") + catalyst + sum("exec_s") - wall), wall),
      "trace.ops" -> ops.size.toDouble)
  }
}
