package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Streaming maintenance of the per-language quality floors that
  * `TextAnalysis.qualityThresholds` derives in batch: a `foreachBatch`
  * sink folds each micro-batch of scored documents into one persisted
  * KLL QUANTILE SKETCH per language ([[graft.functions.KllSketch]]), and
  * the floor (the [[graft.operators.TextAnalysis.QualityQuantile]]
  * quantile) is read off the sketch on demand.
  *
  * The sketch is mergeable at BOTH grains a 100 TB stream needs:
  * partial sketches combine map-side within a batch (the
  * TypedImperativeAggregate merge — partitions), and the batch sketch
  * folds into the stored one (`graft_kll_merge` — micro-batches), so
  * per-batch cost is one group-cardinality aggregation and state is one
  * ~k·log(n/k)·8-byte blob per language regardless of stream length.
  * Error is uniform in RANK (worst-case n·H/k for the deterministic
  * compactor, typically far less — spec-pinned per merge order), with no
  * assumption that scores live in [0, 1]; an exact `n_docs` count column
  * rides along so gate decisions see exact populations.
  *
  * The fixed-bucket histogram formulation this replaced is kept below
  * ([[partialHistogram]]/[[mergeHistograms]]/[[floorsOf]]) as the
  * independent bit-exact reference the sketch path is spec-checked
  * against: the histogram's floor is deterministic and merge-order-free,
  * so any sketch drift past its bound fails loudly against it. Its
  * weaknesses — a clamped [0, 1] domain and value-resolution (not rank)
  * error — are why the sketch is the shipped state.
  */
object QualityFloors {

  /** Sketch capacity per compactor level — the engine-wide constant
    * ([[graft.functions.KllSketch.DefaultK]]), shared with the batch
    * approx-threshold path so batch and streaming sketches merge. At
    * k = 256 the deterministic worst-case rank error is ~3% at n = 10^5
    * and memory per language is a few KB. */
  val SketchK: Int = graft.functions.KllSketch.DefaultK

  private def q = graft.operators.TextAnalysis.QualityQuantile

  /** The batch operator's population: confident language IDs, non-null
    * non-NaN scores (percentile() ignores them; bucketing or sketching
    * them would drag floors down). */
  private def scoredPop(scored: DataFrame): DataFrame =
    scored
      .filter(col("pred_lang") =!= "und")
      .filter(col("quality_score").isNotNull && !isnan(col("quality_score")))

  /** One micro-batch's sketch partial: (pred_lang, n_docs, sketch). */
  def partialSketch(scored: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(scored.sparkSession)
    scoredPop(scored)
      .groupBy(col("pred_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        call_function(graft.functions.GraftFunctions.KllName,
          col("quality_score"), lit(SketchK)).as("sketch"))
  }

  /** Merge sketch states: doc counts add exactly; sketches merge with
    * bounded rank drift. */
  def mergeSketchStates(prev: DataFrame, add: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(prev.sparkSession)
    prev
      .unionByName(add)
      .groupBy(col("pred_lang"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        call_function(graft.functions.GraftFunctions.KllMergeName,
          col("sketch"), lit(SketchK)).as("sketch"))
  }

  /** Per-language floors from a sketch state frame. */
  def sketchFloorsOf(state: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(state.sparkSession)
    state.select(
      col("pred_lang"),
      col("n_docs"),
      call_function(graft.functions.GraftFunctions.KllQuantileName,
        col("sketch"), lit(q)).as("q_low"))
  }

  /** Histogram resolution over the score range [0, 1]: the floor's
    * quantization error is below 1/Buckets ~ 0.002 on a 0-1 score —
    * negligible against the score's own heuristic noise. */
  val Buckets = 512

  /** Bucket index of a quality score, clamped into [0, Buckets-1] so an
    * out-of-range score cannot corrupt the histogram. */
  private def bucketOf(score: Column): Column =
    least(
      lit(Buckets - 1),
      greatest(lit(0), floor(score * Buckets).cast(IntegerType)))

  /** One micro-batch's histogram partial: (pred_lang, bucket, n) counts
    * over scored docs — the REFERENCE formulation (see the object doc). */
  def partialHistogram(scored: DataFrame): DataFrame =
    scoredPop(scored)
      .groupBy(col("pred_lang"), bucketOf(col("quality_score")).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Exact associative merge: counts add. */
  def mergeHistograms(parts: Seq[DataFrame]): DataFrame =
    parts
      .reduce(_ unionByName _)
      .groupBy(col("pred_lang"), col("bucket"))
      .agg(sum(col("n")).as("n"))

  /** Per-language floors from a histogram: the lower edge of the bucket
    * containing the QUANTILE_CONT target order statistic (rank
    * q*(n_docs-1), the same definition the batch operator and its DuckDB
    * oracle use). Always <= the exact quantile, and within one bucket
    * width of the order statistic it quantizes. */
  def floorsOf(hist: DataFrame): DataFrame = {
    val q = graft.operators.TextAnalysis.QualityQuantile
    val byLang = Window.partitionBy(col("pred_lang"))
    val cumW = byLang.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("n")).over(cumW))
      .withColumn("n_docs", sum(col("n")).over(byLang))
      .withColumn("rank", lit(q) * (col("n_docs") - 1).cast("double"))
      .filter(col("cum") > col("rank"))
      .groupBy(col("pred_lang"))
      .agg(
        first(col("n_docs")).as("n_docs"),
        (min(col("bucket")).cast("double") / Buckets).as("q_low"))
  }

  /** The maintained floors at `stateDir`'s current state. */
  def currentFloors(spark: SparkSession, stateDir: String): DataFrame =
    sketchFloorsOf(StreamStateStore.read(spark, stateDir))

  /** One micro-batch application — the testable core of [[sink]],
    * replay-safe through the [[StreamStateStore]] fold. */
  private[graft] def applyFloorBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "qualityFloorSink",
      Seq(StreamStateStore.Store)) { (prev, next) =>
      StreamStateStore.foldFrame(spark, prev, next, StreamStateStore.Store) {
        case Some(p) => mergeSketchStates(p, partialSketch(batch))
        case None => partialSketch(batch)
      }
    }
  }

  /** foreachBatch sink maintaining the floors continuously from a stream
    * of scored docs (`pred_lang`, `quality_score`, ...). */
  def sink(scored: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    scored.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFloorBatch(batch, batchId, stateDir)
      }
}
