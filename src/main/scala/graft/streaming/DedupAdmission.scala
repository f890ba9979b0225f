package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Streaming dedup ADMISSION — the ingest-side twin of
  * `TextAnalysis.dedupExact`: a `foreachBatch` sink maintains a persisted
  * canonical store keyed by content hash, and each micro-batch admits
  * only first-seen content (within a batch, the smallest doc_id is
  * canonical, so a batch's admissions are deterministic under any
  * partitioning). This is the shape an LLM ingest pipeline actually
  * runs: documents arrive continuously, and the store answers "is this
  * content already in the corpus?" without ever rescanning the corpus.
  *
  * Equivalence to batch semantics: when arrival order is doc_id-ordered
  * (each batch's ids follow the previous batch's), the admitted store
  * after any sequence of micro-batches is BIT-IDENTICAL to
  * `dedupExact` over everything seen — min-per-hash within the first
  * batch containing a hash IS the global min. Under arbitrary arrival
  * order the store is first-arrival-canonical (the production contract:
  * an admitted doc is never evicted by a later duplicate), with the
  * same hash set. Spec-asserted across 3-way splits, including replay
  * idempotency through [[StreamStateStore]].
  *
  * Scale notes: per-batch work is one map-side-combined min-agg over
  * the batch plus one anti-join against the store on an 8+24-byte hash
  * key — the store side is bucketable/bloom-prunable at warehouse scale,
  * and state grows with DISTINCT content seen, never with stream length
  * (duplicate-heavy streams converge). Admission runs no corpus scan.
  * The WRITE side comes in two layouts: [[sink]] rewrites the whole
  * store per batch (simple, O(distinct content) IO — fine while the
  * store is small), and [[sinkBucketed]] maintains a hash-partitioned
  * store where a batch writes ONLY its touched buckets
  * ([[StreamStateStore.foldBuckets]]) — per-batch IO
  * O(batch x store/buckets), the upsert/MERGE shape a transactional
  * table format provides, expressed on plain parquet.
  */
object DedupAdmission {

  /** Canonical (content_hash, doc_id, n_copies) rows of one batch —
    * n_copies counts the batch's duplicates folded into the canonical
    * row, so store counts stay exact under merges. */
  private[graft] def batchCanonical(batch: DataFrame): DataFrame =
    batch
      .groupBy(md5(col("text").cast(BinaryType)).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** THE first-arrival store fold, shared by every admission-style sink
    * ([[DedupAdmission]], [[IngestGate]]): rows group by content hash,
    * each `carry` column keeps the EARLIEST arrival's value (groupBy
    * does not preserve union order, so arrival is tagged explicitly),
    * and copy counts add. */
  private[graft] def firstArrivalFold(prev: DataFrame, cur: DataFrame,
      carry: Seq[String]): DataFrame = {
    val aggs = carry.map(c => min_by(col(c), col("arrival")).as(c)) :+
      sum(col("n_copies")).as("n_copies")
    prev.withColumn("arrival", lit(0))
      .unionByName(cur.withColumn("arrival", lit(1)))
      .groupBy(col("content_hash"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Fold one batch into a previous store: first arrival keeps its
    * canonical id; later duplicates only bump the copy count. */
  private[graft] def mergeStore(prev: DataFrame, cur: DataFrame): DataFrame =
    firstArrivalFold(prev, cur, carry = Seq("keep_doc_id"))

  /** One micro-batch application — the testable core of [[sink]]. */
  private[graft] def applyAdmissionBatch(
      batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "dedupAdmissionSink",
      Seq(StreamStateStore.Store)) { (prev, next) =>
      StreamStateStore.foldFrame(spark, prev, next, StreamStateStore.Store) {
        case None => batchCanonical(batch)
        // left-anti admission + count bump in ONE pass: the shared fold
        // keeps the store's canonical id wherever the hash was seen
        case Some(p) => mergeStore(p, batchCanonical(batch))
      }
    }
  }

  /** Bucket count for the PARTITIONED store ([[sinkBucketed]]). Sized so
    * a harness bucket holds a few hundred hashes; at warehouse scale
    * this knob scales with distinct-content volume exactly like the
    * posting index's bucket count. */
  val StoreBuckets = 32

  /** One micro-batch against the BUCKETED store: per-batch IO is
    * O(content in the touched buckets), not O(store) — the fix for the
    * whole-store rewrite caveat in the object doc. Same first-arrival
    * fold; the bucket column rides the rows (hash-functional on
    * content_hash, so carrying it through the fold is exact) and the
    * partitioned write routes each bucket to its own directory. */
  private[graft] def applyAdmissionBatchBucketed(
      batch: DataFrame, batchId: Long, stateDir: String,
      nBuckets: Int = StoreBuckets): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "dedupAdmissionSink",
      Seq(StreamStateStore.Store), Some(nBuckets)) { (prev, next) =>
      StreamStateStore.foldBuckets(spark, prev, next, StreamStateStore.Store,
        "content_hash", nBuckets, batchCanonical(batch)) {
        case (None, cur) => cur
        case (Some(p), cur) =>
          firstArrivalFold(p, cur, carry = Seq("keep_doc_id", "b"))
      }
    }
  }

  /** foreachBatch sink over the bucketed store — the at-scale variant of
    * [[sink]]: same admitted store (modulo the extra `b` column), batch
    * cost independent of store size. */
  def sinkBucketed(docs: DataFrame, stateDir: String,
      nBuckets: Int = StoreBuckets)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAdmissionBatchBucketed(batch, batchId, stateDir, nBuckets)
      }

  /** The canonical store at `stateDir`'s current state — schema equals
    * `dedupExact`'s output (content_hash, keep_doc_id, n_copies), plus
    * the `b` bucket column when the state is the bucketed layout. */
  def currentStore(spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame =
    StreamStateStore.read(spark, stateDir)

  /** foreachBatch sink maintaining the canonical store from a stream of
    * (doc_id, text) documents. */
  def sink(docs: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAdmissionBatch(batch, batchId, stateDir)
      }
}
