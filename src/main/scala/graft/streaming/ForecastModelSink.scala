package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Forecast

/** Streaming maintenance of the persisted forecast model: a
  * `foreachBatch` sink folds each micro-batch of observations into the
  * per-group exact OLS sufficient-statistics frame that IS the model
  * (`Forecast.writeForecastModel`). Every statistic is an associative
  * exact aggregate (counts, integer sums, decimal sums, max), so the
  * maintained model after any sequence of micro-batches is
  * BIT-IDENTICAL to training once on everything seen — the streamed
  * model serves the same forecasts as a nightly retrain, continuously,
  * without ever re-scanning history (spec-gated, incl. the derived
  * `forecastFromModel` output).
  *
  * Replay and crash safety come from the [[StreamStateStore]] fold.
  *
  * Scale notes: each micro-batch contributes ONE group-cardinality
  * aggregation (map-side combined over the batch); the state table is
  * group-cardinality regardless of stream length.
  */
object ForecastModelSink {

  /** The state's two artifacts, one generation: the group-cardinality
    * OLS frame serves the linear/interval family unchanged, and the
    * WIDENED per-(brand, x) rollup serves the families whose statistics
    * are NOT associative at group grain — monthly seasonal means, and
    * changepoint hinge moments whose knots move when a batch extends a
    * group's x-range (see `Forecast.xStatsExact`). */
  private[graft] val Ols = "ols"
  private[graft] val X = "x"

  /** One micro-batch application — the testable core of [[sink]].
    * `batch` carries observations in the model's input shape:
    * (`brand`, `x` month index, `y` price). */
  private[graft] def applyModelBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "forecastModelSink", Seq(Ols, X)) {
      (prev, next) =>
        StreamStateStore.foldFrame(spark, prev, next, Ols) {
          case Some(p) => Forecast.mergeStatsFrames(p, Forecast.olsStatsExact(batch))
          case None => Forecast.olsStatsExact(batch)
        }
        StreamStateStore.foldFrame(spark, prev, next, X) {
          case Some(p) => Forecast.mergeXStatsFrames(p, Forecast.xStatsExact(batch))
          case None => Forecast.xStatsExact(batch)
        }
    }
  }

  /** The live model frame (`Forecast.writeForecastModel`'s content). */
  def currentModel(spark: SparkSession, stateDir: String): DataFrame =
    StreamStateStore.read(spark, stateDir, Ols)

  /** Live seasonal forecast from the sink-maintained widened state —
    * bit-identical to `Forecast.seasonalForecast`'s fact-scan fit over
    * everything the stream has seen (spec-gated). */
  def seasonalForecastFromState(spark: SparkSession, stateDir: String): DataFrame =
    Forecast.seasonalForecastFromState(StreamStateStore.read(spark, stateDir, X))

  /** Live changepoint forecast from the sink-maintained widened state —
    * bit-identical to `Forecast.forecastChangepoint`'s fact-scan fit. */
  def changepointForecastFromState(spark: SparkSession, stateDir: String): DataFrame =
    Forecast.forecastChangepointFromState(StreamStateStore.read(spark, stateDir, X))

  /** foreachBatch sink maintaining the persisted model continuously from
    * a stream of (`brand`, `x`, `y`) observations. Read the live model
    * with `Forecast.forecastFromModel(currentModel(spark, stateDir))`,
    * [[seasonalForecastFromState]], or [[changepointForecastFromState]]. */
  def sink(observations: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    observations.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyModelBatch(batch, batchId, stateDir)
      }
}
