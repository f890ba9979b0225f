package graft.streaming

import graft.operators.StarSchema
import org.apache.spark.sql.{DataFrame, Row}

/** Streaming ingest twin for the FACT layout — the fact-side member of
  * the sink family ([[SigSink]] for the signature stores,
  * [[MediaAdmission]] for media): a `foreachBatch` sink over a file
  * stream of newly landed ORDERS rows that folds each micro-batch into
  * the co-bucketed fact layout ([[StarSchema.foldFactLayout]]) through
  * the delta writes of [[StarSchema.appendFactLayout]], so a streamed
  * layout is bit-equal to the batch-append chain and to a cold rebuild
  * over the same corpus (spec-pinned).
  *
  * A batch folds idempotently by orderkey in one generation commit, as
  * [[SigSink]]'s batches do: orders the committed generation already
  * serves (a replay, a re-delivery, the first batch's full ensure) are
  * skipped, and the rest fold with their lineitems, resolved from the
  * landed lineitem table by orderkey (the ingest lands an order's
  * lineitems with the order, and the file source only fires after the
  * files land — so the delta is order-complete by construction). The
  * new generation hard-links every committed file and adds only the
  * folded orders' files, also in the landing race, where batch N's
  * stamp already covers batch N+1's files. A layout of an older shape
  * is rebuilt by the full ensure. */
object FactSink {

  /** One micro-batch of newly landed orders against the fact layout —
    * the testable core of [[ordersSink]]. */
  private[graft] def applyFactBatch(batch: DataFrame, batchId: Long,
      dir: String): Unit = {
    val spark = batch.sparkSession
    SigSink.applyBatch("fact-layout", StarSchema.factServePath(dir), batchId)(
      StarSchema.ensureFactLayout(spark, dir))(StarSchema.foldFactLayout(spark, dir, batch))
  }

  /** foreachBatch sink folding arriving orders (and their landed
    * lineitems) into the fact layout at `dir`'s serving warehouse. */
  def ordersSink(orders: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    orders.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFactBatch(batch, batchId, dir)
      }
}
