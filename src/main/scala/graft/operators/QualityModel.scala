package graft.operators

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Model-in-the-loop quality filtering: a logistic-regression quality
  * classifier trained IN-FRAME (fastText/CCNet-style — the standard LLM
  * pipeline component where a cheap parametric model, distilled from
  * expensive labels, scores the whole corpus). Here the weak labels are
  * the heuristic quality score's keep decision — the honest stand-in for
  * LLM-graded labels, and exactly the distillation a production pipeline
  * runs to replace a slow scorer with a per-row projection.
  *
  * Scale design mirrors the frame-native Lloyd discipline:
  *  - each gradient-descent iteration is ONE map-side-combined aggregate;
  *    only d+1 numbers reach the driver per iteration, at any corpus size
  *    (batch GD over a DataFrame — the same shape MLlib's LR uses).
  *  - gradient components are summed as DECIMAL(38, 18) casts of the
  *    per-row doubles, so training is BIT-DETERMINISTIC under any
  *    partitioning (double sums are partition-order-dependent; the
  *    decimal quantization is the same trick the forecast solves use).
  *  - the feature frame is eagerly checkpointed once — iterations re-read
  *    block storage, never re-run the text kernel.
  *  - SCORING is a pure scan projection (weights are literals): zero
  *    shuffles to score 100 TB.
  */
object QualityModel {

  /** Fixed IRLS (Newton) schedule: deterministic by construction (no
    * convergence test that could flip on FP noise). Newton needs ~8
    * passes where plain gradient descent needs hundreds — each pass is
    * one aggregate, so the schedule bounds training at 8 corpus scans. */
  val LrIters = 8
  /** Ridge term keeping the Hessian invertible when the weak labels are
    * (near-)separable in the features — which they are by construction
    * here, since the label IS a threshold of a feature function. */
  val LrRidge = 1e-4
  /** Keep-label threshold on the heuristic score (same floor as
    * q_corpus_clean's default). */
  val LabelFloor = 0.5

  private val FeatNames =
    Seq("f_len", "f_stop", "f_punct", "f_letter", "f_digit", "f_bias")

  /** The six feature expressions over a TextStats struct column, in
    * [[FeatNames]] order — shared by the training frame and the
    * streaming gate's inline scorer ([[pKeepOf]]) so the two can never
    * drift. All rational in the counters (no transcendental drift), all
    * in [0, 1]. */
  private def featureExprs(ts: Column): Seq[Column] = {
    def f(n: Column, den: Column) = n.cast(DoubleType) / greatest(den, lit(1)).cast(DoubleType)
    Seq(
      least(ts.getField("n_words").cast(DoubleType) / lit(50.0), lit(1.0)),
      f(ts.getField("n_stops"), ts.getField("n_words")),
      f(ts.getField("n_punct"), ts.getField("n_chars")),
      f(ts.getField("n_letters"), ts.getField("n_chars")),
      // clamped: a token like "a1b2c3" holds several digit runs, so the
      // raw ratio exceeds 1 on digit-dense docs — the clamp keeps the
      // documented [0, 1] feature scale true
      least(f(ts.getField("n_digit_runs"), ts.getField("n_ws_tokens")), lit(1.0)),
      lit(1.0))
  }

  /** Per-doc features from the single-pass text-stats kernel; the label
    * is the heuristic keep decision at [[LabelFloor]]. */
  private[graft] def featureFrame(d: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(d.sparkSession)
    val ts = col("ts")
    d.select(col("doc_id"), call_function(GraftFunctions.TextStatsName, col("text")).as("ts"))
      .select(
        col("doc_id") +:
          featureExprs(ts).zip(FeatNames).map { case (c, n) => c.as(n) } :+
          (TextAnalysis.qualityScoreOf(ts) >= LabelFloor).cast(DoubleType).as("y"): _*)
  }

  /** σ(w·x) as ONE expression over a raw text column — the streaming
    * gate's inline scorer ([[graft.streaming.IngestGate]]): composes
    * into any projection with no join and no extra pass (the repeated
    * TextStats subexpression is deduplicated by whole-stage codegen's
    * subexpression elimination; weights ride as a `typedLit` reference,
    * same codegen-cache discipline as [[marginOf]]). */
  private[graft] def pKeepOf(text: Column, w: Array[Double]): Column = {
    val ts = call_function(GraftFunctions.TextStatsName, text)
    lit(1.0) / (lit(1.0) +
      exp(-GraftFunctions.graftDot(array(featureExprs(ts): _*), typedLit(w.toSeq))))
  }

  /** w·x as the fused dot-product kernel over a `typedLit` weight array:
    * the weights enter codegen as a REFERENCED object, not inline
    * constants, so the generated source is identical across Newton
    * iterations and the codegen cache serves every step after the first
    * (the per-weight `lit` sum recompiled ~1s of janino per iteration —
    * corpus-size-independent, but 8x per fit). */
  private def marginOf(w: Array[Double]): Column =
    GraftFunctions.graftDot(array(FeatNames.map(col): _*), typedLit(w.toSeq))

  /** Train the classifier: IRLS — each Newton step is ONE aggregate
    * computing the gradient X'(y-p) and the Hessian upper triangle
    * X'diag(p(1-p))X as decimal-exact sums (6 + 21 numbers to the
    * driver), then a 6x6 ridge-regularized solve on the driver. Returns
    * the weight vector (FeatNames order), bit-identical under any input
    * partitioning (spec-asserted). */
  def fitQualityLr(feats0: DataFrame, iters: Int = LrIters, ridge: Double = LrRidge): Array[Double] = {
    // one kernel scan total: iterations re-read the checkpointed frame
    val feats = feats0.localCheckpoint(eager = true)
    // loud precondition beats the NPE a null SUM-over-zero-rows would
    // throw from inside the first Newton step's row decode
    require(feats.limit(1).count() > 0, "cannot fit a quality model on an empty corpus")
    val d = FeatNames.length
    var w = Array.fill(d)(0.0)
    for (_ <- 0 until iters) {
      val p = lit(1.0) / (lit(1.0) + exp(-marginOf(w)))
      val wgt = p * (lit(1.0) - p)
      val gradExprs = FeatNames.map(fn =>
        sum(((col("y") - p) * col(fn)).cast(DecimalType(38, 18)))
          .cast(DoubleType).as(s"g_$fn"))
      val hessExprs = for {
        j <- 0 until d; k <- j until d
      } yield sum((wgt * col(FeatNames(j)) * col(FeatNames(k)))
        .cast(DecimalType(38, 18))).cast(DoubleType).as(s"h_${j}_$k")
      val all = gradExprs ++ hessExprs
      val row = feats.agg(all.head, all.tail: _*).head()
      val g = Array.tabulate(d)(row.getDouble)
      val h = Array.ofDim[Double](d, d)
      var idx = d
      for (j <- 0 until d; k <- j until d) {
        h(j)(k) = row.getDouble(idx); h(k)(j) = h(j)(k); idx += 1
      }
      for (j <- 0 until d) h(j)(j) += ridge
      val delta = solve(h, g)
      w = w.indices.map(j => w(j) + delta(j)).toArray
    }
    w
  }

  /** Deterministic in-place Gaussian elimination with partial pivoting
    * (6x6 — driver-side scalars, same discipline as the forecast
    * Cramer solves). */
  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    for (c <- 0 until n) {
      var piv = c
      for (r <- c + 1 until n) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      val tmp = a(c); a(c) = a(piv); a(piv) = tmp
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c until n) a(r)(k) -= f * a(c)(k)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](n)
    for (c <- n - 1 to 0 by -1) {
      var s = b(c)
      for (k <- c + 1 until n) s -= a(c)(k) * x(k)
      x(c) = s / a(c)(c)
    }
    x
  }

  /** Mean log-loss of a weight vector over a feature frame (decimal-sum
    * deterministic) — the spec's convergence measure. */
  private[graft] def logLoss(feats: DataFrame, w: Array[Double]): Double = {
    val m = marginOf(w)
    // -[y*ln p + (1-y)*ln(1-p)] = ln(1+e^-m) + (1-y)*m, stable via abs
    val loss = log(lit(1.0) + exp(-abs(m))) +
      when(col("y") > 0.5, when(m < 0, -m).otherwise(lit(0.0)))
        .otherwise(when(m > 0, m).otherwise(lit(0.0)))
    val row = feats.agg(
      sum(loss.cast(DecimalType(38, 18))).cast(DoubleType).as("s"),
      count(lit(1)).as("n")).head()
    require(row.getLong(1) > 0, "log-loss of an empty frame is undefined")
    row.getDouble(0) / row.getLong(1)
  }

  /** Score any (doc_id, text) frame with trained weights — a pure scan
    * projection (weights are plan literals): the 100 TB deployment
    * path. */
  def scoreQualityLr(d: DataFrame, w: Array[Double]): DataFrame =
    featureFrame(d).select(
      col("doc_id"),
      (lit(1.0) / (lit(1.0) + exp(-marginOf(w)))).as("p_keep"),
      col("y").as("weak_label"))

  /** From-scratch form (train + score in one call) — the reference the
    * serve path is spec-checked against. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val feats = featureFrame(Tables.documents(spark, dir))
    scored(spark, dir, fitQualityLr(feats))
  }

  private def scored(spark: SparkSession, dir: String, w: Array[Double]): DataFrame =
    scoreQualityLr(Tables.documents(spark, dir), w)
      .select(
        col("doc_id"),
        col("p_keep"),
        (col("p_keep") >= 0.5).as("keep"),
        col("weak_label"))

  /** Weight-store location for a corpus dir (same digest discipline
    * as the IVF/PQ serve paths). */
  private[graft] def lrServePath(dir: String): String =
    Similarity.servePath("lr_serve_", dir)

  /** q_quality_classifier SERVING path: score with the persisted
    * weights, (re)training only when the store is absent or its
    * corpus fingerprint is stale — the deployment shape (a classifier
    * retrained per scoring call measures training, not filtering; same
    * discipline as [[Similarity.knnIvfServe]]). Bit-identical to
    * [[qualityClassifier]]: f64 weights round-trip parquet exactly. */
  def qualityClassifierServe(spark: SparkSession, dir: String): DataFrame =
    scored(spark, dir, serveWeights(spark, dir))

  /** Resolve the CURRENT persisted weight generation for `dir`,
    * (re)training only when it is absent or stale — the model half of
    * [[qualityClassifierServe]], shared with the streaming gate's served
    * binding ([[graft.streaming.IngestGate.sinkServed]]) so batch
    * scoring and the stream score with the SAME generation. A
    * [[ServingStore]] model store: one `model` artifact (the weights in
    * FeatNames order), kept resident by the serve memo. */
  private[graft] def serveWeights(spark: SparkSession, dir: String): Array[Double] =
    ServingStore.served(spark, "quality-classifier", lrServePath(dir),
        Similarity.corpusFingerprint(spark, dir, "documents.parquet"),
        Seq(ServingStore.Artifact("model"))) { gen =>
      ServingStore.writeModel(spark, gen + "/model",
        "weights" -> Array(fitQualityLr(featureFrame(Tables.documents(spark, dir)))))
    } { gen =>
      val w = ServingStore.readModel(spark, gen + "/model")("weights").head
      require(w.length == FeatNames.length,
        s"quality model at $gen has ${w.length} weights, expected ${FeatNames.length}")
      w
    }
}
