package graft.streaming

import graft.operators.{Dedup, ServingStore, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Streaming twin for the per-row SIGNATURE stores (r13 verdict #7) —
  * the ingest-side discipline the batch appenders
  * ([[Dedup.appendMinhashSigs]], [[Dedup.appendSimhashSigs]],
  * [[Similarity.appendEmbSigs]]) leave to a caller: a `foreachBatch`
  * sink that folds each micro-batch of newly landed corpus rows into
  * the SAME fingerprint-keyed generation, through the same
  * [[ServingStore.append]] merge protocol, so a streamed store is
  * bit-equal to the batch-append store on the same arrival order
  * (spec-pinned) and every serve path reads it identically.
  *
  * The natural source is a FILE stream over the corpus table
  * (`spark.readStream.parquet(dir + "/documents.parquet")`): each
  * micro-batch is exactly the rows of newly landed files, which is the
  * appenders' precondition (`newDocs must already have landed`).
  *
  * Replay/idempotency: a `_stream_batch` marker next to the store
  * records the last applied batch id — replays skip. A crash between
  * a completed merge and the marker write self-heals through the
  * protocol's own TYPED refusals on the replay
  * ([[graft.operators.ServingStore.KeysAlreadyPresentRefusal]] — the
  * merge landed — and
  * [[graft.operators.ServingStore.DeltaNotLandedRefusal]]). The first
  * batch against a store-less corpus runs the full ensure instead of
  * an append — it covers every file landed so far, including rows the
  * source has not batched yet; later batches of those rows fold into
  * the refusals above.
  *
  * A refusal is NOT blindly treated as benign (the r14 review): under
  * continuous ingest, batch N+1's files can land during batch N's
  * append window, so N's `postFp` stamps a fingerprint that COVERS
  * N+1's files while only N's rows were merged — N+1's own append is
  * then refused (`fingerprint unchanged`) even though its rows are
  * missing from the store. Every refusal therefore verifies coverage:
  * anti-join the batch's keys against the served generation; zero
  * missing → genuinely benign, mark applied; any missing → a FORCED
  * full rebuild (same-fp generation swap,
  * [[graft.operators.ServingStore.rebuild]]) folds them in before the
  * batch is marked applied.
  *
  * DISCLOSED RELAXATION: the batch appenders take an `expectedFp`
  * snapshotted BEFORE the delta landed, proving no out-of-band writer
  * raced the append. A streaming sink cannot snapshot a pre-landing
  * fingerprint (the file source only fires AFTER files land), so it
  * passes the STORED fp as expected — the staleness proof degrades to
  * "the fingerprint advanced and none of the delta's keys are already
  * served", and the single-ingest-writer contract carries the rest
  * (the same residual [[ServingStore.append]]'s docstring documents
  * for out-of-band landings between snapshot and append). */
object SigSink {

  @transient private lazy val logger =
    org.slf4j.LoggerFactory.getLogger(getClass)

  private def markerPath(store: String): java.nio.file.Path =
    java.nio.file.Paths.get(store + "_stream_batch")

  /** The last batch id a sink applied to `store` (this sink's and
    * [[FactSink]]'s `_stream_batch` marker). */
  private[streaming] def lastApplied(store: String): Option[Long] =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(markerPath(store)),
      "UTF-8").trim.toLong).toOption

  /** Record `batchId` as applied to `store`, replacing the marker whole
    * (temporary file renamed into place): a kill mid-write leaves the
    * previous id, never a truncated one that reads as no marker or as an
    * older batch and sends applied batches back through the append. */
  private[streaming] def markApplied(store: String, batchId: Long): Unit =
    ServingStore.writeAtomically(markerPath(store), batchId.toString.getBytes("UTF-8"))

  /** One micro-batch against one signature store — the testable core
    * shared by the three sinks. `batchKeys` are the batch's distinct
    * unique-key rows (one `keyCol` column), used to verify coverage
    * when the protocol refuses the append; `serve(force)` is the
    * store's serve-or-build (force = same-fp repair rebuild); `append`
    * folds the batch rows given the stored fp. */
  private[graft] def applySigBatch(spark: SparkSession, batchId: Long,
      what: String, store: String, batchKeys: DataFrame, keyCol: String)(
      serve: Boolean => DataFrame)(append: Long => Unit): Unit = {
    if (lastApplied(store).exists(_ >= batchId)) {
      logger.info(s"$what sig sink: skipping replayed batch $batchId")
      return
    }
    // a refused append only marks the batch applied after proving the
    // batch's keys are actually served; otherwise the same-window
    // landing race (docstring) would silently drop the batch forever
    def verifyCoveredOrRepair(refusal: String): Unit = {
      val served = serve(false)
      val missing = batchKeys.select(col(keyCol)).distinct()
        .join(served.select(col(keyCol)), Seq(keyCol), "left_anti")
      if (missing.isEmpty)
        logger.warn(s"$what sig sink: batch $batchId append refused " +
          s"($refusal) and all batch keys verified served — marking applied")
      else {
        logger.warn(s"$what sig sink: batch $batchId append refused " +
          s"($refusal) but some batch keys are MISSING from the served " +
          "generation (same-window landing race) — running the forced " +
          "full rebuild before marking applied")
        serve(true)
      }
    }
    ServingStore.readSidecar(what, store) match {
      case None => serve(false)
      case Some((storedFp, _)) =>
        try append(storedFp)
        catch {
          // dispatch on the protocol's TYPES, never the message text —
          // a rewording must not turn a benign replay into a
          // stream-killing exception (r14 review)
          case _: ServingStore.KeysAlreadyPresentRefusal =>
            verifyCoveredOrRepair("keys already present")
          case _: ServingStore.DeltaNotLandedRefusal =>
            verifyCoveredOrRepair("fingerprint unchanged")
        }
    }
    markApplied(store, batchId)
  }

  /** foreachBatch sink folding arriving documents' minhash signatures
    * into the minhash sig generation at `dir`'s serving warehouse. */
  def minhashSink(docs: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMinhashBatch(batch, batchId, dir)
      }

  private[graft] def applyMinhashBatch(batch: DataFrame, batchId: Long,
      dir: String): Unit = {
    val s = batch.sparkSession
    applySigBatch(s, batchId, "minhash-sigs",
      Similarity.servePath("minhash_sigs_", dir), batch, "doc_id")(
      force => Dedup.serveMinhashSigs(s, dir, force))(
      fp => Dedup.appendMinhashSigs(s, dir, batch, fp))
  }

  /** foreachBatch sink for the plain-simhash sig generation. (The IDF
    * variant has no streaming twin for the same reason it has no batch
    * append: its signatures join corpus-global weights, so a delta
    * rewrites every row — the append IS the rebuild.) */
  def simhashSink(docs: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySimhashBatch(batch, batchId, dir)
      }

  private[graft] def applySimhashBatch(batch: DataFrame, batchId: Long,
      dir: String): Unit = {
    val s = batch.sparkSession
    applySigBatch(s, batchId, "simhash-sigs",
      Similarity.servePath("simhash_sigs_", dir), batch, "doc_id")(
      force => Dedup.serveSimhashSigs(s, dir, force))(
      fp => Dedup.appendSimhashSigs(s, dir, batch, fp))
  }

  /** foreachBatch sink for the embedding LSH band-signature
    * generation over a stream of raw embeddings-table rows. (The cell
    * ASSIGNMENT store stays batch-only: its survival masks derive from
    * the corpus-global hot-cell census — [[Similarity.appendEmbSigs]]'s
    * validity note.) */
  def embSink(vecs: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    vecs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyEmbBatch(batch, batchId, dir)
      }

  private[graft] def applyEmbBatch(batch: DataFrame, batchId: Long,
      dir: String): Unit = {
    val s = batch.sparkSession
    applySigBatch(s, batchId, "emb-lsh-sigs", Similarity.embSigsServePath(dir),
      batch, "vec_id")(
      force => Similarity.serveEmbSigs(s, dir, force))(
      fp => Similarity.appendEmbSigs(s, dir, batch, fp))
  }
}
