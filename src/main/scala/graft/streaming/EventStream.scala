package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming twins of the batch event operators
  * (`graft.operators.Events`): watermarked tumbling-window aggregation and
  * gap-based sessionization with explicit state.
  *
  * Reference: the enrichment cadence of `dags/raw/
  * fetch_coordinates_and_weather.py` / `fetch_currencies.py`, re-expressed
  * as continuous pipelines instead of scheduled batch pulls.
  *
  * Scale notes: state is keyed by (window, type) / user_id, so it shards
  * across executors with the shuffle; watermarks bound state size (late
  * events beyond 2h are dropped, sessions time out after the gap), which
  * is what keeps a 100 TB/day stream's state finite.
  */
object EventStream {

  case class Event(user_id: Long, event_id: Long, ts: Timestamp, event_type: String, value: Double)

  case class Rate(key: Long, rate_ts: Timestamp, rate: Double)

  case class SessionState(start: Long, last: Long, n: Long, total: Double)

  case class Session(
      user_id: Long,
      session_start_ms: Long,
      session_end_ms: Long,
      n_events: Long,
      total_value: Double)

  val SessionGapMs: Long = 30L * 60 * 1000

  /** Tumbling 1-hour windows per event type with a 2-hour watermark —
    * the streaming twin of `Events.eventWindows`. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // decimal-exact like the batch twin: raw double sums depend on
        // merge order and would break batch-vs-stream equivalence
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"),
        col("n_events"),
        col("total_value"))

  /** Streaming exact-dedup: drop events already seen within the watermark
    * horizon (keyed on event_id) — the streaming twin of
    * `TextAnalysis.dedupExact` for at-least-once sources. State is bounded
    * by the watermark: ids older than 2h are expired, which is what keeps
    * dedup state finite on an unbounded stream. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join — the streaming twin of the as-of rate
    * attach (`graft.operators.AsOf.asofRates`): each event joins the rate
    * rows for its key whose effective timestamp falls within the hour
    * before the event. Both sides carry watermarks AND the join condition
    * bounds the time range, so Spark's join state is finite: rate rows
    * older than (watermark - interval) are evicted, which is what keeps
    * an unbounded enrichment stream joinable at 100 TB/day. */
  def enrichWithRates(events: DataFrame, rates: DataFrame): DataFrame = {
    val e = events.withWatermark("ts", "2 hours")
    val r = rates.withWatermark("rate_ts", "2 hours")
    e.join(
      r,
      e("user_id") === r("key") &&
        r("rate_ts") <= e("ts") &&
        r("rate_ts") >= e("ts") - expr("INTERVAL 1 HOUR"))
      .select(e("user_id"), e("event_id"), e("ts"), e("value"), r("rate_ts"), r("rate"))
  }

  /** foreachBatch incremental-rollup sink: every micro-batch folds its
    * (type, year, month) decimal partials into a parquet rollup table via
    * `graft.operators.Incremental.merge` — the stream maintains a
    * queryable rollup whose contents are BIT-IDENTICAL to a from-scratch
    * aggregation of everything seen (exact decimal partials are
    * associative, so merge order cannot drift).
    *
    * At-least-once safety: foreachBatch can REPLAY a batch after a
    * restart, and a naive merge would double-count it — the
    * [[StreamStateStore]] fold skips a batch its stamp already covers. */
  def incrementalRollupSink(events: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyRollupBatch(batch, batchId, stateDir)
      }

  /** One rollup-batch application — the testable core of
    * [[incrementalRollupSink]] (replay and crash-recovery paths are
    * exercised directly in PlatformSpec, which a live streaming query
    * cannot do). */
  private[graft] def applyRollupBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "incrementalRollupSink",
      Seq(StreamStateStore.Store)) { (prev, next) =>
      StreamStateStore.foldFrame(spark, prev, next, StreamStateStore.Store) { prevState =>
        val slice = batch.select(
          col("event_type").as("brand"),
          year(col("ts")).as("year"),
          month(col("ts")).as("month"),
          col("value").as("price"))
        val partial = graft.operators.Incremental.partialMonthly(slice)
        prevState match {
          case Some(p) => graft.operators.Incremental.merge(Seq(p, partial))
          case None => partial
        }
      }
    }
  }

  /** Gap sessionization with explicit per-user state and event-time
    * timeout — the streaming twin of `Events.sessionize`. Emits a session
    * when a gap larger than [[SessionGapMs]] is observed or the user goes
    * quiet past the watermark. */
  def sessionize(spark: SparkSession, events: Dataset[Event]): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
              .map(s => Session(userId, s.start, s.last, s.n, s.total))
              .iterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last > SessionGapMs =>
                  closed ::= Session(userId, s.start, s.last, s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case Some(s) =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // a late-but-admissible batch can put s.last + gap behind
              // the current watermark; setTimeoutTimestamp throws on
              // past timestamps, so clamp to just above the watermark
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.last + SessionGapMs, wm + 1))
            }
            closed.reverseIterator
          }
      }
  }
}
