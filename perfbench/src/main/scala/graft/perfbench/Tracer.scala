package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The traced run's recorder. Two listeners feed it:
  *   - [[QeListener]], registered through the static
  *     `spark.sql.queryExecutionListeners` conf so that every session,
  *     the interactive lane's `newSession()` children included, carries
  *     it: Catalyst phases, valve drop counters, broadcast sizes;
  *   - [[JobListener]]: jobs, stages and tasks, tagged with the
  *     operation and span that started them through local properties.
  * Both run on the listener bus; the client drains the bus after each
  * operation and then takes that operation's records. */
object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  /** Off in the untraced run and in the untraced half of a traced run. */
  @volatile var enabled = false
  /** The operation running now; the bus is drained before it changes. */
  @volatile var currentOp: String = null
  /** The execute span's own QueryExecution, told apart by identity. */
  @volatile var execQe: QueryExecution = null

  final class JobRec(val id: Int, val span: String, val start: Long, val stageIds: Seq[Int]) {
    var end: Long = -1L
    val pending: mutable.Set[Int] = mutable.Set(stageIds: _*)
    var failed = false
  }
  final class StageRec(val id: Int, val span: String, val submitted: Long) {
    var completed: Long = -1L
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
  }
  final case class TaskRec(launch: Long, finish: Long, ok: Boolean, gcMs: Long,
      inBytes: Long, shRead: Long, shWrite: Long, spill: Long)
  final case class QeRec(exec: Boolean, func: String,
      phases: Seq[(String, Long, Long)], hotDrops: Long, broadcastBytes: Long)

  final class OpRecords {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
    val qes = mutable.ArrayBuffer.empty[QeRec]
  }

  private val byOp = mutable.HashMap.empty[String, OpRecords]

  private[perfbench] def recs(op: String): OpRecords =
    synchronized(byOp.getOrElseUpdate(op, new OpRecords))

  private[perfbench] def liveOps: Seq[OpRecords] = synchronized(byOp.values.toSeq)

  /** Records of `op` (call after draining the bus); forgets them. */
  def take(op: String): OpRecords = synchronized(byOp.remove(op).getOrElse(new OpRecords))

  def hotDrops(qe: QueryExecution): Long =
    qe.observedMetrics.iterator.collect {
      case (k, row) if k.contains("_hot_drops_") =>
        row.toSeq.collect { case n: java.lang.Number => n.longValue }.sum
    }.sum

  def broadcastBytes(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => broadcastBytes(a.executedPlan)
    case q: QueryStageExec => broadcastBytes(q.plan)
    case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L) + broadcastBytes(b.child)
    case other => (other.children ++ other.subqueries).map(broadcastBytes).sum
  }
}

class QeListener extends QueryExecutionListener {
  import Tracer._
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val op = currentOp
    if (enabled && op != null) {
      val phases = qe.tracker.phases.toSeq.map { case (k, s) => (k, s.startTimeMs, s.endTimeMs) }
      val bc = try broadcastBytes(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => 0L }
      val r = QeRec(qe eq execQe, funcName, phases, hotDrops(qe), bc)
      val o = recs(op)
      o.synchronized(o.qes += r)
    }
  }
}

class JobListener extends SparkListener {
  import Tracer._
  private def tag(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = tag(e.properties, OpKey)
    if (enabled && op != null) {
      val o = recs(op)
      o.synchronized(o.jobs(e.jobId) =
        new JobRec(e.jobId, tag(e.properties, SpanKey), e.time, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    // the job's op is not on the end event; find it among live records
    byOpFind(_.jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.failed = e.jobResult != JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val op = tag(e.properties, OpKey)
    if (enabled && op != null) {
      val o = recs(op)
      val s = e.stageInfo
      o.synchronized {
        // a stage submitted while its job runs is not skipped — Spark's
        // own rule: the job's stages never submitted are the skipped ones
        o.jobs.values.filter(_.end < 0).foreach(_.pending -= s.stageId)
        o.stages((s.stageId, s.attemptNumber())) = new StageRec(s.stageId,
          tag(e.properties, SpanKey), s.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    byOpFind(_.stages.get((s.stageId, s.attemptNumber()))).foreach(
      _.completed = s.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    byOpFind(_.stages.get((e.stageId, e.stageAttemptId))).foreach { st =>
      val i = e.taskInfo
      val m = e.taskMetrics
      val t =
        if (m == null) TaskRec(i.launchTime, i.finishTime, ok = false, 0, 0, 0, 0, 0)
        else TaskRec(i.launchTime, i.finishTime, i.successful, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      st.tasks.synchronized(st.tasks += t)
    }

  private def byOpFind[T](f: OpRecords => Option[T]): Option[T] = {
    Tracer.liveOps.iterator.flatMap(o => o.synchronized(f(o))).nextOption()
  }
}
