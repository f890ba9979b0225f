package graft.perfbench

import scala.collection.mutable

/** Turns one operation's trace records into its per-layer figures and
  * its spans. Spans nest run → workload → operation → construct, plan
  * (→ Catalyst phases) and collect (→ jobs → stages); a span's self time is
  * its duration minus the part of it that its children cover. */
object Layers {
  /** Length of the union of `iv`, clipped to [lo, hi] (ms). */
  def unionMs(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    c.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, self: Long)

  /** Spans in memory, written out when the run ends. */
  final class SpanLog {
    private val buf = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
    def add(parent: Int, name: String, start: Long, end: Long): Int = {
      buf += ((parent, name, start, end))
      buf.size
    }
    /** An id for a span whose interval is known only later ([[set]]). */
    def reserve(parent: Int): Int = add(parent, "", 0L, 0L)
    def set(id: Int, name: String, start: Long, end: Long): Unit =
      buf(id - 1) = (buf(id - 1)._1, name, start, end)
    def spans: Seq[Span] = {
      val kids = buf.zipWithIndex.groupBy(_._1._1)
      buf.zipWithIndex.map { case ((parent, name, start, end), i) =>
        val cover = kids.getOrElse(i + 1, Nil).map { case ((_, _, a, b), _) => (a, b) }
        Span(i + 1, parent, name, start, end, (end - start) - unionMs(cover, start, end))
      }.toSeq
    }
  }

  private val PhaseNames = Seq("analysis", "optimization", "planning")

  /** Per-operation figures; times in seconds, bytes in bytes. The
    * client's clock (ms) bounds three spans: construct [`cs`, `ce`],
    * plan [`ce`, `pe`] (the new Dataset analysed, optimized and planned)
    * and collect [`pe`, `xe`]. Catalyst's time is not the plan span but
    * the phases its tracker recorded on Spark's clock, so a lost phase,
    * or plan time no phase accounts for, breaks the reconciliation of
    * construct + Catalyst + execution with the wall time. Execution is
    * the collect span: the union of the jobs the listener saw
    * (`exec_job_s`) plus the rest (`exec_driver_s`: code generation,
    * result transfer); `open_jobs` and `jobs_outside_collect_s` expose
    * lost or misplaced job events. */
  def summarize(r: Tracer.OpRecords, name: String, cs: Long, ce: Long, pe: Long, xe: Long,
      log: SpanLog, parent: Int): Map[String, Double] = {
    val execJobs = r.jobs.values.filter(_.span == "execute").toSeq
    val consJobs = r.jobs.values.filter(_.span != "execute").toSeq
    val execStages = r.stages.values.filter(_.span == "execute").toSeq
    val tasks = execStages.flatMap(_.tasks)
    val execQe = r.qes.find(_.exec)
    val phases = execQe.map(_.phases).getOrElse(Nil).filter(p => PhaseNames.contains(p._1))
    def jobIv(j: Tracer.JobRec) = (j.start, if (j.end < 0) xe else j.end)
    val jobIvs = execJobs.map(jobIv)
    val taskIvs = tasks.map(t => (t.launch, t.finish))
    val execWall = unionMs(jobIvs, pe, xe)
    val taskCover = unionMs(taskIvs, pe, xe)

    val op = log.add(parent, name, cs, xe)
    val cons = log.add(op, "construct", cs, ce)
    consJobs.foreach(j => log.add(cons, s"job.${j.id}", jobIv(j)._1, jobIv(j)._2))
    val plan = log.add(op, "plan", ce, pe)
    phases.foreach { case (p, a, b) => log.add(plan, "catalyst." + p, a, b) }
    val ex = log.add(op, "collect", pe, xe)
    execJobs.foreach { j =>
      val (a, b) = jobIv(j)
      val stIvs = execStages.filter(s => j.stageIds.contains(s.id))
        .map(s => (s.submitted, if (s.completed < 0) b else s.completed))
      val jid = log.add(ex, s"job.${j.id}", a, b)
      stIvs.zip(execStages.filter(s => j.stageIds.contains(s.id))).foreach {
        case ((sa, sb), s) => log.add(jid, s"stage.${s.id}", sa, sb)
      }
    }

    val skews = execStages.map(_.tasks.filter(_.ok).map(t => (t.finish - t.launch).toDouble))
      .filter(_.size >= 2).map(d => if (d.sum <= 0) 1.0 else d.max / (d.sum / d.size))
    def phase(n: String) = phases.filter(_._1 == n).map(p => p._3 - p._2).sum / 1000.0
    Map(
      "wall_s" -> (xe - cs) / 1000.0,
      "construct_s" -> (ce - cs) / 1000.0,
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "plan_span_s" -> (pe - ce) / 1000.0,
      "exec_s" -> (xe - pe) / 1000.0,
      "exec_job_s" -> execWall / 1000.0,
      "exec_driver_s" -> ((xe - pe) - execWall) / 1000.0,
      // jobs of the execution whose end the listener never saw
      "open_jobs" -> execJobs.count(_.end < 0).toDouble,
      // execute-span job time outside the collect span
      "jobs_outside_collect_s" -> (unionMs(jobIvs, ce, xe) - execWall) / 1000.0,
      "gap_s" -> math.max(0L, execWall - taskCover) / 1000.0,
      "jobs" -> execJobs.size.toDouble,
      "stages" -> execStages.size.toDouble,
      "tasks" -> tasks.size.toDouble,
      "stages_skipped" -> execJobs.map(_.pending.size).sum.toDouble,
      "failed_tasks" -> tasks.count(!_.ok).toDouble,
      "task_s" -> tasks.map(t => t.finish - t.launch).sum / 1000.0,
      "gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
      "input_b" -> tasks.map(_.inBytes).sum.toDouble,
      "shuffle_read_b" -> tasks.map(_.shRead).sum.toDouble,
      "shuffle_write_b" -> tasks.map(_.shWrite).sum.toDouble,
      "spill_b" -> tasks.map(_.spill).sum.toDouble,
      "broadcast_b" -> execQe.map(_.broadcastBytes).getOrElse(0L).toDouble,
      "hot_drops" -> r.qes.map(_.hotDrops).sum.toDouble,
      "skew_sum" -> skews.sum,
      "skew_n" -> skews.size.toDouble,
      "construct_jobs" -> consJobs.size.toDouble)
  }
}
