package graft.streaming

import graft.functions.GraftFunctions
import graft.operators.Curation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of the rarity family (`q_rarity_score` /
  * `q_rarity_thresholds`): a `foreachBatch` sink maintaining the
  * corpus word-DOCUMENT-FREQUENCY table and document count
  * incrementally as documents arrive, so rarity scores and
  * corpus-derived curation ceilings serve from standing state instead
  * of a full-corpus word scan per refresh.
  *
  * Exactness: df is a sum of per-batch distinct-word counts — integer
  * and arrival-order-free — and the document count likewise, so scores
  * served from the store are the SAME integers through the SAME shared
  * expressions ([[Curation.scoreFromPosts]]) as a one-shot batch
  * computation over everything seen: bit-equality, not approximation
  * (spec-asserted, thresholds included).
  *
  * Scale shape: the df store is vocabulary-sized — far too large for a
  * whole-store rewrite per micro-batch — so it is a BUCKETED artifact
  * ([[StreamStateStore.foldBuckets]]): a batch writes only the hash
  * buckets its words land in. Per batch: one word-set kernel scan, one
  * partial-aggregated count, one bucketed fold. The one-row doc counter
  * is the second artifact of the same generation, so df and count
  * commit together under the batch's one stamp.
  */
object RaritySink {

  private[graft] val Df = "df"
  private[graft] val N = "n"

  /** Bucket count for the df artifact (stamped with the state). */
  val DfBuckets = 16

  /** One batch's (doc_id, h) distinct-word postings. */
  private[graft] def batchPosts(batch: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(batch.sparkSession)
    batch.select(
      col("doc_id"),
      explode(call_function(GraftFunctions.WordSetName, col("text"))).as("h"))
  }

  /** One micro-batch application — the testable core of [[sink]]. */
  private[graft] def applyDocBatch(batch: DataFrame, batchId: Long,
      stateRoot: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateRoot, "raritySink", Seq(Df, N),
      Some(DfBuckets)) { (prev, next) =>
      val bdf = batchPosts(batch).groupBy(col("h")).agg(count(lit(1)).as("df"))
      StreamStateStore.foldBuckets(spark, prev, next, Df, "h", DfBuckets, bdf) {
        case (None, cur) => cur
        case (Some(p), cur) =>
          p.unionByName(cur)
            .groupBy(col("h"), col("b"))
            .agg(sum(col("df")).cast(LongType).as("df"))
      }
      StreamStateStore.foldFrame(spark, prev, next, N) {
        case None => batch.agg(count(lit(1)).as("n_docs"))
        case Some(p) =>
          p.unionByName(batch.agg(count(lit(1)).as("n_docs")))
            .agg(sum(col("n_docs")).cast(LongType).as("n_docs"))
      }
    }
  }

  /** Rarity scores for ANY (doc_id, text) frame against the standing
    * store — the serving half: one kernel scan of the argument docs,
    * zero scans of history. Words the store has never seen would drop
    * at the df join; streaming admitted docs through the sink first
    * makes the join total. */
  def scoreAgainstStore(docs: DataFrame, stateRoot: String): DataFrame = {
    val spark = docs.sparkSession
    // both tables from ONE committed generation
    val gen = StreamStateStore.current(stateRoot).getOrElse(
      throw new IllegalStateException(s"no committed rarity state at $stateRoot"))
    Curation.scoreFromPosts(
      batchPosts(docs).localCheckpoint(eager = false),
      spark.read.parquet(gen.path(Df)).drop("b"),
      spark.read.parquet(gen.path(N)))
  }

  /** Corpus-derived rarity curation ceilings from the standing store —
    * the streamed twin of `q_rarity_thresholds` (exact-percentile
    * form). */
  def thresholdsAgainstStore(docs: DataFrame, stateRoot: String): DataFrame =
    scoreAgainstStore(docs, stateRoot)
      .select(
        col("mean_df"),
        (col("n_rare").cast("double") /
          col("n_distinct_words").cast("double")).as("rare_frac"))
      .agg(
        count(lit(1)).as("n_docs"),
        percentile(col("mean_df"), lit(Curation.RarityQuantile)).as("mean_df_hi"),
        percentile(col("rare_frac"), lit(Curation.RarityQuantile)).as("rare_frac_hi"))

  /** foreachBatch sink over a stream of (doc_id, text) documents. */
  def sink(docs: DataFrame, stateRoot: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDocBatch(batch, batchId, stateRoot)
      }
}
