package graft.streaming

import graft.operators.{Dedup, ServingStore, Similarity}
import org.apache.spark.sql.{DataFrame, Row}

/** Streaming twin for the per-row SIGNATURE stores (r13 verdict #7) —
  * the ingest-side discipline the batch appenders
  * ([[Dedup.appendMinhashSigs]], [[Dedup.appendSimhashSigs]],
  * [[Similarity.appendEmbSigs]]) leave to a caller: a `foreachBatch`
  * sink that folds each micro-batch of newly landed corpus rows into
  * the SAME fingerprint-keyed generation, through the same delta
  * expressions ([[ServingStore.RowStore]]), so a streamed store is
  * bit-equal to the batch-append store on the same arrival order
  * (spec-pinned) and every serve path reads it identically.
  *
  * The natural source is a FILE stream over the corpus table
  * (`spark.readStream.parquet(dir + "/documents.parquet")`): each
  * micro-batch is exactly the rows of newly landed files, which is the
  * appenders' precondition (`newDocs must already have landed`).
  *
  * A batch folds idempotently by key, in one generation commit
  * ([[ServingStore.foldKeys]]): under the store's build lock its keys
  * are probed against the committed generation, and only the rows of
  * keys it does not serve are folded, stamped with the corpus
  * fingerprint computed under the lock. There is no batch marker: a
  * replay, a re-delivery under a new batch id, or rows the first
  * batch's full ensure already covered find every key served and
  * commit nothing. The same-window landing race — batch N+1's files
  * land during batch N's fold, so N's stamp covers them while only N's
  * rows were folded — is one more fold: N+1's keys are missing, the
  * fingerprint is unchanged, and the fold adds its rows once it proved
  * them landed in the corpus table. A batch whose rows are not in the
  * corpus is refused ([[ServingStore.DeltaNotLandedRefusal]]) and
  * commits nothing. The first batch against a store with no stamp runs
  * the full ensure, which covers every file landed so far.
  *
  * DISCLOSED RELAXATION: the batch appenders take an `expectedFp`
  * snapshotted BEFORE the delta landed, proving no out-of-band writer
  * raced the append. A streaming sink cannot snapshot a pre-landing
  * fingerprint (the file source only fires AFTER files land), so the
  * fold's staleness proof is "none of the folded keys is already
  * served", and the single-ingest-writer contract carries the rest
  * (the same residual [[ServingStore.append]]'s docstring documents
  * for out-of-band landings between snapshot and append). */
object SigSink {

  @transient private lazy val logger =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** One micro-batch against one store — the dispatch every signature
    * and fact sink shares: a stamped store takes `fold`; a store with no
    * stamp, or one of an older shape (the fold's
    * [[ServingStore.StaleStoreRefusal]]), takes the full `ensure` over
    * the landed corpus, which covers this batch's landed files. */
  private[streaming] def applyBatch(what: String, store: String, batchId: Long)(
      ensure: => Any)(fold: => Unit): Unit =
    ServingStore.sidecarState(what, store) match {
      case _: ServingStore.Stamped =>
        try fold
        catch {
          case e: ServingStore.StaleStoreRefusal =>
            logger.warn(s"$what sink: batch $batchId fold refused " +
              s"(${e.getMessage}) — rebuilding the store at the current shape")
            ensure
        }
      case _ => ensure
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
    val rows = Dedup.minhashSigRows(s, dir)
    applyBatch(rows.what, rows.path, batchId)(Dedup.serveMinhashSigs(s, dir))(rows.fold(batch))
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
    val rows = Dedup.simhashSigRows(s, dir)
    applyBatch(rows.what, rows.path, batchId)(Dedup.serveSimhashSigs(s, dir))(rows.fold(batch))
  }

  /** foreachBatch sink for the embedding LSH band-signature
    * generation over a stream of raw embeddings-table rows. (The cell
    * ASSIGNMENT store stays batch-only: its survival masks derive from
    * the corpus-global hot-cell census — [[Similarity.embSigRows]]'s
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
    val rows = Similarity.embSigRows(s, dir)
    applyBatch(rows.what, rows.path, batchId)(Similarity.serveEmbSigs(s, dir))(rows.fold(batch))
  }
}
