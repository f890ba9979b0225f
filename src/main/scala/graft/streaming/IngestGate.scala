package graft.streaming

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType}

/** The composed streaming INGEST GATE an LLM data pipeline runs at the
  * door: each micro-batch of documents is (1) exact-dedup-admitted
  * against the persisted canonical store ([[DedupAdmission]] semantics)
  * and (2) decontamination-screened against a FIXED eval/benchmark gram
  * set (`operators.Curation.contamination` semantics — in production
  * the benchmark suite is small and static, so it broadcasts). The
  * maintained store carries, per content hash: the first-arrival
  * canonical id, the fold-in copy count, and the canonical document's
  * contamination flag — everything a downstream corpus build needs to
  * SELECT clean, deduplicated training data without rescanning history.
  *
  * Batch equivalence (spec-asserted): under doc_id-ordered arrival the
  * store is bit-identical to the one-shot batch computation
  * ([[IngestGate.gateReference]]) over everything seen — the admission
  * argument is [[DedupAdmission]]'s, and the contamination flag is a
  * pure function of the document text and the static gram set, so it
  * commutes with arrival order entirely.
  *
  * Scale notes: per batch, ONE kernel scan computes hash + shingle set;
  * the gram screen is a broadcast semi-join + per-doc count (map-only
  * on the batch side); the store merge is the same hash-keyed fold as
  * [[DedupAdmission]]. State grows with distinct content seen.
  */
object IngestGate {

  /** Per-row gate facts for one batch: content hash and contamination
    * flag (shared-gram fraction >= `operators.Curation.ContaminationMax`;
    * docs shorter than one shingle have no gram evidence and pass).
    * With `weights` (the persisted quality-classifier model,
    * [[graft.operators.QualityModel.serveWeights]]) the facts also carry
    * `p_keep` — model-in-the-loop ingest: the score is a pure projection
    * over the SAME kernel scan (one expression, no join, no extra
    * pass), so the gate stays one-scan-per-batch with the model on. */
  private[graft] def batchFacts(batch: DataFrame, evalGrams: DataFrame): DataFrame =
    batchFacts(batch, evalGrams, None)

  private[graft] def batchFacts(batch: DataFrame, evalGrams: DataFrame,
      weights: Option[Array[Double]]): DataFrame = {
    GraftFunctions.ensureRegistered(batch.sparkSession)
    val scoreCols = weights.toSeq.map(w =>
      graft.operators.QualityModel.pKeepOf(col("text"), w).as("p_keep"))
    val sets = batch
      .select(
        Seq(
          col("doc_id"),
          md5(col("text").cast(BinaryType)).as("content_hash"),
          call_function(GraftFunctions.ShingleSetName, col("text")).as("hs"))
          ++ scoreCols: _*)
      .localCheckpoint(eager = false)
    val shared = sets
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      // distinct defensively: a caller-built gram set with duplicate
      // hashes would multiply n_shared past size(hs) and over-flag —
      // Curation.contamination's eval side is distinct for the same
      // reason
      .join(broadcast(evalGrams.select(col("h")).distinct()), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    sets
      .join(shared, Seq("doc_id"), "left")
      .select(
        Seq(
          col("doc_id"),
          col("content_hash"),
          coalesce(
            coalesce(col("n_shared"), lit(0L)).cast(DoubleType) /
              size(col("hs")).cast(DoubleType) >=
              graft.operators.Curation.ContaminationMax,
            lit(false)).as("contaminated"))
          ++ weights.toSeq.map(_ => col("p_keep")): _*)
  }

  /** One batch's canonical rows: per content hash, the smallest doc_id
    * and ITS contamination flag (and, with a model, ITS p_keep — the
    * canonical copy's score is the cluster's score), plus the batch
    * copy count. */
  private[graft] def batchCanonical(batch: DataFrame, evalGrams: DataFrame,
      weights: Option[Array[Double]] = None): DataFrame =
    {
    val aggs =
      Seq(
        min(col("doc_id")).as("keep_doc_id"),
        min_by(col("contaminated"), col("doc_id")).as("contaminated"),
        count(lit(1)).as("n_copies")) ++
        weights.toSeq.map(_ => min_by(col("p_keep"), col("doc_id")).as("p_keep"))
    batchFacts(batch, evalGrams, weights)
      .groupBy(col("content_hash"))
      .agg(aggs.head, aggs.tail: _*)
    }

  /** One micro-batch application — the testable core of [[sink]]. */
  private[graft] def applyGateBatch(batch: DataFrame, evalGrams: DataFrame,
      batchId: Long, stateDir: String,
      weights: Option[Array[Double]] = None): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "ingestGateSink",
      Seq(StreamStateStore.Store)) { (prev, next) =>
      StreamStateStore.foldFrame(spark, prev, next, StreamStateStore.Store) {
        case None => batchCanonical(batch, evalGrams, weights)
        case Some(p) =>
          DedupAdmission.firstArrivalFold(p, batchCanonical(batch, evalGrams, weights),
            carry = Seq("keep_doc_id", "contaminated") ++ weights.toSeq.map(_ => "p_keep"))
      }
    }
  }

  /** The one-shot batch computation the streamed store must equal under
    * id-ordered arrival — the spec's reference. */
  private[graft] def gateReference(docs: DataFrame, evalGrams: DataFrame,
      weights: Option[Array[Double]] = None): DataFrame =
    batchCanonical(docs, evalGrams, weights)

  /** The gate's store at `stateDir`: (content_hash, keep_doc_id,
    * contaminated, n_copies). */
  def currentStore(spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame =
    StreamStateStore.read(spark, stateDir)

  /** foreachBatch sink gating a stream of (doc_id, text) documents
    * against a static eval gram set (one `h` column of shingle
    * hashes). */
  def sink(docs: DataFrame, evalGrams: DataFrame, stateDir: String,
      weights: Option[Array[Double]] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyGateBatch(batch, evalGrams, batchId, stateDir, weights)
      }

  /** [[sink]] bound to the PERSISTED classifier generation for `dir`:
    * the streaming gate scores with exactly the weights
    * `q_quality_classifier` serves (trained-if-stale once at sink
    * setup; weights are plan literals for the stream's lifetime — a
    * standing stream adopts a newer generation on restart, the same
    * cadence at which the batch serve path would retrain). This is the
    * quality classifier's score-serve streaming twin: batch scoring and
    * the admission gate can never disagree on the model. */
  def sinkServed(docs: DataFrame, evalGrams: DataFrame, stateDir: String,
      dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sink(docs, evalGrams, stateDir,
      Some(graft.operators.QualityModel.serveWeights(docs.sparkSession, dir)))
}
