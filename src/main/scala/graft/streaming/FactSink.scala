package graft.streaming

import graft.Tables
import graft.operators.{ServingStore, StarSchema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Streaming ingest twin for the FACT layout — the fact-side member of
  * the sink family ([[SigSink]] for the signature stores,
  * [[MediaAdmission]] for media): a `foreachBatch` sink over a file
  * stream of newly landed ORDERS rows that folds each micro-batch into
  * the co-bucketed fact layout through [[StarSchema.appendFactLayout]],
  * so a streamed layout is bit-equal to the batch-append chain and to a
  * cold rebuild over the same corpus (spec-pinned).
  *
  * The batch's LINEITEMS are resolved from the landed lineitem table by
  * the batch's own orderkeys (a semi-join against a broadcast of the
  * batch keys): the ingest lands an order's lineitems with the order
  * (the TPC-H shape appendFactLayout's order-completeness contract
  * names), and the file source only fires after the files land — so the
  * lookup sees exactly the delta's lineitems, order-complete by
  * construction.
  *
  * Replay/idempotency and the refusal discipline are [[SigSink]]'s
  * exactly: a `_stream_batch` marker records the last applied batch id;
  * refusals are dispatched on [[ServingStore]]'s TYPED classes (never
  * message text); and a refused batch is only marked applied after its
  * orderkeys are verified present in the served layout — any missing
  * key triggers the forced full rebuild
  * ([[StarSchema.ensureFactLayout]] with force), closing the
  * same-window landing race where batch N's post-append fingerprint
  * covers batch N+1's files while only N's rows were merged. */
object FactSink {

  @transient private lazy val logger =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** One micro-batch of newly landed orders against the fact layout —
    * the testable core of [[ordersSink]]. */
  private[graft] def applyFactBatch(batch: DataFrame, batchId: Long,
      dir: String): Unit = {
    val spark = batch.sparkSession
    val layout = StarSchema.factServePath(dir)
    if (SigSink.lastApplied(layout).exists(_ >= batchId)) {
      logger.info(s"fact sink: skipping replayed batch $batchId")
      return
    }
    val batchKeys = batch.select(col("o_orderkey")).distinct()
      .localCheckpoint(eager = false) // feeds the lookup AND the verification
    def verifyCoveredOrRepair(refusal: String): Unit = {
      val served = StarSchema.ensureFactLayout(spark, dir).path("orders")
      val missing = batchKeys
        .join(spark.read.parquet(served).select(col("o_orderkey")),
          Seq("o_orderkey"), "left_anti")
      if (missing.isEmpty)
        logger.warn(s"fact sink: batch $batchId append refused ($refusal) " +
          "and all batch orderkeys verified served — marking applied")
      else {
        logger.warn(s"fact sink: batch $batchId append refused ($refusal) " +
          "but some batch orderkeys are MISSING from the served layout " +
          "(same-window landing race) — running the forced full rebuild " +
          "before marking applied")
        StarSchema.ensureFactLayout(spark, dir, force = true)
      }
    }
    if (ServingStore.sidecarState("fact-layout", layout) == ServingStore.Missing) {
      // first batch against a layout-less corpus: the full build covers
      // every file landed so far; later batches of those rows fold into
      // the refusals below
      StarSchema.ensureFactLayout(spark, dir)
    } else {
      Tables.invalidate(spark, dir, "lineitem")
      val deltaLineitem = Tables.lineitem(spark, dir)
        .join(broadcast(batchKeys), col("l_orderkey") === col("o_orderkey"), "left_semi")
      try StarSchema.appendFactLayout(spark, dir, deltaLineitem, batch)
      catch {
        case _: ServingStore.KeysAlreadyPresentRefusal =>
          verifyCoveredOrRepair("keys already present")
        case _: ServingStore.DeltaNotLandedRefusal =>
          verifyCoveredOrRepair("fingerprint unchanged")
        case e: ServingStore.StaleStoreRefusal =>
          // a layout of an older shape (pre-generation sidecar, or an
          // older layout version in the stamped fingerprint): the
          // repair is a full rebuild over the landed corpus, which
          // covers this batch's already-landed files
          logger.warn(s"fact sink: batch $batchId append refused " +
            s"(${e.getMessage}) — rebuilding the layout at the current shape")
          StarSchema.ensureFactLayout(spark, dir)
      }
    }
    SigSink.markApplied(layout, batchId)
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
