package graft.streaming

import graft.operators.Events
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming twin of the persisted funnel-stamps serving generation
  * ([[Events.ensureStamps]] / the q_funnel family): a `foreachBatch`
  * sink folding an event-time-ordered STREAM of events into the
  * per-user (s0..s3) stamps store, so funnel / conversion-lag / cohort
  * serving stays current without re-sorting history per refresh.
  *
  * Batch equivalence (spec-asserted): under (ts, event_id)-ordered
  * arrival — batches partition the stream in event-time order, the
  * contract an append-only event log delivers — the folded store is
  * BIT-EQUAL to [[Events.funnelStamps]] over everything seen. The fold
  * seeds each batch's chained windows with the user's prior stamps:
  * step i qualifies against `coalesce(p(i-1), m(i-1))` exactly as the
  * batch form's running min would, and a stamp once set never moves
  * (ordered arrival means no later batch can contain an earlier
  * qualifying event; the strict `<` keeps cross-batch ties excluded on
  * both forms).
  *
  * Scale shape: per micro-batch, one per-user window over the BATCH
  * only (never history), one join against the touched buckets of the
  * user-bucketed state ([[StreamStateStore.foldBuckets]] — IO is
  * O(touched buckets), not O(users ever seen)). Idempotent replay and
  * crash safety come from the [[StreamStateStore]] fold.
  */
object FunnelStampsSink {
  val Buckets = 8

  private def nSteps = Events.FunnelSteps.size

  /** Per-user stamps of ONE batch, seeded by prior stamps (p0..p3 —
    * absent users seed null): the chained-window body of
    * [[Events.funnelStamps]] with history folded into the seeds. */
  private[graft] def seededBatchStamps(batch: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val seeded = prev match {
      case Some(p) =>
        batch.join(
          p.select(col("user_id") +:
            (0 until nSteps).map(i => col(s"s$i").as(s"p$i")): _*),
          Seq("user_id"), "left")
      case None =>
        (0 until nSteps).foldLeft(batch)((df, i) =>
          df.withColumn(s"p$i", lit(null).cast("long")))
    }
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chained = Events.FunnelSteps.zipWithIndex.foldLeft(seeded) { case (df, (step, i)) =>
      val qual =
        if (i == 0) col("event_type") === step
        else col("event_type") === step &&
          coalesce(col(s"p${i - 1}"), col(s"m${i - 1}")) < col("ts_ms")
      df.withColumn(s"m$i", min(when(qual, col("ts_ms"))).over(byUser))
    }
    val aggs = (0 until nSteps).map(i =>
      coalesce(first(col(s"p$i")), min(col(s"m$i"))).as(s"s$i"))
    chained.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** One micro-batch application — the testable core of [[sink]].
    * `batch` carries (user_id, event_id, event_type, ts_ms). */
  def applyEventsBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "funnelStampsSink",
      Seq(StreamStateStore.Store), Some(Buckets)) { (prevGen, next) =>
      StreamStateStore.foldBuckets(spark, prevGen, next, StreamStateStore.Store,
        "user_id", Buckets, batch) { (prev, curTouched) =>
        val cur = curTouched.drop("b")
        val updated = seededBatchStamps(cur, prev.map(_.drop("b")))
        val untouched = prev match {
          case Some(p) => p.drop("b")
            .join(cur.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
          case None => updated.limit(0)
        }
        untouched.unionByName(updated)
          .withColumn("b",
            pmod(xxhash64(col("user_id")), lit(Buckets.toLong)).cast("int"))
      }
    }
  }

  /** The standing per-user stamps store (user_id, s0..s3). */
  def currentStamps(spark: SparkSession, stateDir: String): DataFrame =
    StreamStateStore.read(spark, stateDir).drop("b")

  /** Funnel / conversion rollups served from the CURRENT store — the
    * streaming counterparts of the q_funnel family. */
  def funnelCurrent(spark: SparkSession, stateDir: String): DataFrame =
    Events.funnelFromStamps(currentStamps(spark, stateDir))

  def conversionCohortCurrent(spark: SparkSession, stateDir: String): DataFrame =
    Events.conversionCohortFromStamps(currentStamps(spark, stateDir))

  /** foreachBatch sink over a stream of (user_id, event_id, event_type,
    * ts_ms) rows in (ts_ms, event_id) order. */
  def sink(events: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyEventsBatch(batch, batchId, stateDir)
      }
}
