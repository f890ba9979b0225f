package graft.streaming

import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of the benchmark-absorption screen
  * (`q_contamination_delta` / [[Curation.contaminationDeltaServe]]): a
  * `foreachBatch` sink folding a STREAM of benchmark gram batches into
  * a standing per-doc contamination store served from the bucketed
  * posting index — new eval suites are published continuously in a real
  * pipeline, and each one must screen the admitted corpus WITHOUT a
  * corpus rescan.
  *
  * Union semantics, not additive: benchmarks overlap (two suites often
  * share boilerplate grams), and a doc's contamination against the
  * suite UNION is |hs ∩ (G1 ∪ ... ∪ Gn)|, NOT the sum of per-suite
  * counts. The sink therefore keeps a seen-gram store and screens only
  * each batch's NOVEL grams (`left_anti` against the store) — the
  * per-doc counts then add exactly (the disjoint-set additivity law
  * `q_contamination_delta` pins), so the store equals a one-shot screen
  * of the union at every step (spec-asserted, including overlapping
  * arrival).
  *
  * Crash ordering: the counts store folds FIRST, the gram store second.
  * A replayed batch after a crash between the two skips the counts fold
  * (its marker landed) and re-applies only the gram union — computing
  * the delta against the still-pre-batch gram store either way. The
  * reverse order would lose the batch: an updated gram store makes the
  * replayed delta empty before the counts ever folded.
  *
  * Scale shape: per batch, one broadcast-sized delta anti-join (gram
  * stores are benchmark-suite-sized), one posting-index probe join +
  * per-doc count (the standing index is never rewritten), and a fold
  * into a SPARSE store holding only docs with hits — state is O(docs
  * sharing grams with any benchmark), not O(corpus).
  */
object ContaminationSink {

  private[graft] def gramsDir(stateRoot: String): String = stateRoot + "/grams"
  private[graft] def countsDir(stateRoot: String): String = stateRoot + "/counts"

  /** This batch's NOVEL grams: batch-distinct minus the seen store. */
  private[graft] def deltaGrams(batch: DataFrame, stateRoot: String): DataFrame = {
    val b = batch.select(col("h")).distinct()
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(gramsDir(stateRoot)))) b
    else
      b.join(
        broadcast(batch.sparkSession.read.parquet(gramsDir(stateRoot))),
        Seq("h"), "left_anti")
  }

  /** One micro-batch application — the testable core of [[sink]].
    * `dir` names the corpus whose posting index screens the grams. */
  private[graft] def applyScreenBatch(batch: DataFrame, batchId: Long,
      dir: String, stateRoot: String): Unit = {
    val spark = batch.sparkSession
    // one computation feeds both folds; checkpoint so the counts fold's
    // write doesn't replan the anti-join after reading the store
    val delta = deltaGrams(batch, stateRoot).localCheckpoint(eager = false)
    val postings = spark.table(Dedup.ensurePostings(spark, dir))
    val hits = postings
      .join(delta, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("c"))
    StreamStateStore.applyBatch(spark, batchId, countsDir(stateRoot),
      "contaminationSink.counts") {
      case None => hits
      case Some(prev) =>
        prev.unionByName(hits)
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).cast(LongType).as("c"))
    }
    StreamStateStore.applyBatch(spark, batchId, gramsDir(stateRoot),
      "contaminationSink.grams") {
      case None => delta
      case Some(prev) => prev.unionByName(delta)
    }
  }

  /** The current full train-split contamination report: the sparse
    * counts store joined through the posting generation's doc stats
    * — identical shape (and, by the union law, identical content) to
    * [[Curation.contaminationDeltaServe]] over every gram seen. */
  def currentScreen(spark: SparkSession, dir: String, stateRoot: String): DataFrame = {
    val counts = java.nio.file.Paths.get(countsDir(stateRoot))
    val hits =
      if (java.nio.file.Files.exists(counts)) spark.read.parquet(counts.toString)
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", LongType),
            org.apache.spark.sql.types.StructField("c", LongType))))
    Curation.screenFromHits(spark, Dedup.postingsGeneration(spark, dir), hits)
  }

  /** foreachBatch sink over a stream of benchmark gram rows (one `h`
    * column of shingle hashes; other columns ignored). */
  def sink(grams: DataFrame, dir: String, stateRoot: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    grams.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyScreenBatch(batch, batchId, dir, stateRoot)
      }
}
