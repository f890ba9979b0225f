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
  * The counts and the seen grams are two artifacts of ONE generation,
  * committed under the batch's one stamp: a replayed batch either
  * finds both folded or neither.
  *
  * Scale shape: per batch, one broadcast-sized delta anti-join (gram
  * stores are benchmark-suite-sized), one posting-index probe join +
  * per-doc count (the standing index is never rewritten), and a fold
  * into a SPARSE store holding only docs with hits — state is O(docs
  * sharing grams with any benchmark), not O(corpus).
  */
object ContaminationSink {

  private[graft] val Counts = "counts"
  private[graft] val Grams = "grams"

  /** This batch's NOVEL grams: batch-distinct minus the seen store. */
  private def deltaGrams(batch: DataFrame, seen: Option[DataFrame]): DataFrame = {
    val b = batch.select(col("h")).distinct()
    seen.fold(b)(s => b.join(broadcast(s), Seq("h"), "left_anti"))
  }

  /** One micro-batch application — the testable core of [[sink]].
    * `dir` names the corpus whose posting index screens the grams. */
  private[graft] def applyScreenBatch(batch: DataFrame, batchId: Long,
      dir: String, stateRoot: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateRoot, "contaminationSink",
      Seq(Counts, Grams)) { (prev, next) =>
      // one computation feeds both folds
      val delta = deltaGrams(batch, prev.map(p => spark.read.parquet(p.path(Grams))))
        .localCheckpoint(eager = false)
      val hits = spark.table(Dedup.ensurePostings(spark, dir))
        .join(delta, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("c"))
      StreamStateStore.foldFrame(spark, prev, next, Counts) {
        case None => hits
        case Some(p) =>
          p.unionByName(hits)
            .groupBy(col("doc_id"))
            .agg(sum(col("c")).cast(LongType).as("c"))
      }
      StreamStateStore.foldFrame(spark, prev, next, Grams) {
        case None => delta
        case Some(p) => p.unionByName(delta)
      }
    }
  }

  /** The current full train-split contamination report: the sparse
    * counts store joined through the posting generation's doc stats
    * — identical shape (and, by the union law, identical content) to
    * [[Curation.contaminationDeltaServe]] over every gram seen. */
  def currentScreen(spark: SparkSession, dir: String, stateRoot: String): DataFrame = {
    val hits = StreamStateStore.current(stateRoot) match {
      case Some(g) => spark.read.parquet(g.path(Counts))
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", LongType),
            org.apache.spark.sql.types.StructField("c", LongType))))
    }
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
