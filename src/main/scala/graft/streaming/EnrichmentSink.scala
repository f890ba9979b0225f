package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of the incremental enrichment sidecar
  * ([[graft.operators.AsOf.resolveEnrichment]] /
  * `q_enrich_attach`): a `foreachBatch` sink folding an append-only
  * STREAM of enrichment refresh rows `(key, t, v, refresh)` into the
  * persisted latest-refresh-wins store — the reference's scheduled
  * fetch loop (dags/raw/fetch_coordinates_and_weather.py,
  * fetch_currencies.py re-deliver corrections on a cadence) as a
  * continuously-maintained table instead of a per-query resolution.
  *
  * Batch equivalence (spec-asserted): under refresh-ordered arrival the
  * store's `(key, t, v)` view is exactly
  * `resolveEnrichment(all rows seen)` — the fold keeps, per `(key, t)`,
  * the value of the HIGHEST refresh id seen, and `max_by` over an
  * append-only log computes the same winner in one shot. Corrections
  * are new rows with larger refresh ids, never updates (the layout an
  * object store supports at 100 TB), so arrival order between distinct
  * refreshes commutes into the same fixpoint.
  *
  * Scale shape: per micro-batch, one map-side-combinable `max_by`
  * aggregate over the batch, one outer fold against the dim-sized
  * store. State is the resolved view (key x time cardinality), not the
  * log. Idempotent replay and crash safety come from the
  * [[StreamStateStore]] fold.
  */
object EnrichmentSink {

  /** Per-(key, t) winners WITHIN one batch. */
  private def batchResolved(batch: DataFrame): DataFrame =
    batch.groupBy(col("key"), col("t"))
      .agg(max_by(col("v"), col("refresh")).as("v"),
        max(col("refresh")).as("refresh"))

  /** Later refresh wins across batches; the winning refresh id is kept
    * in the store so the fold stays associative. */
  private[graft] def refreshFold(prev: DataFrame, cur: DataFrame): DataFrame =
    prev.unionByName(cur)
      .groupBy(col("key"), col("t"))
      .agg(max_by(col("v"), col("refresh")).as("v"),
        max(col("refresh")).as("refresh"))

  /** One micro-batch application — the testable core of [[sink]]. */
  private[graft] def applyRefreshBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "enrichmentSink",
      Seq(StreamStateStore.Store)) { (prev, next) =>
      StreamStateStore.foldFrame(spark, prev, next, StreamStateStore.Store) {
        case None => batchResolved(batch)
        case Some(p) => refreshFold(p, batchResolved(batch))
      }
    }
  }

  /** The resolved enrichment store: (key, t, v, refresh). */
  def currentEnrichment(spark: SparkSession, stateDir: String): DataFrame =
    StreamStateStore.read(spark, stateDir)

  /** As-of attach of the CURRENT store onto a fact frame — the serving
    * half of the loop, reusing the broadcast as-of (facts never
    * shuffle; the store is dim-sized by construction). */
  def attachCurrent(spark: SparkSession, stateDir: String, facts: DataFrame,
      keyCol: String, timeCol: String, valueAs: String): DataFrame =
    graft.operators.AsOf.asofJoinBroadcast(
      facts,
      currentEnrichment(spark, stateDir)
        .select(col("key").as(keyCol), col("t").as(timeCol), col("v").as(valueAs)),
      keyCol, timeCol, valueAs)

  /** foreachBatch sink over a stream of (key, t, v, refresh) rows. */
  def sink(refreshes: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    refreshes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyRefreshBatch(batch, batchId, stateDir)
      }
}
