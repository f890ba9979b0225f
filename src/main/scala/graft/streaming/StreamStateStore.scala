package graft.streaming

import graft.operators.ServingStore
import graft.operators.ServingStore.{Artifact, Generation, Missing, StaleStoreRefusal, Stamped,
  Unreadable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The state of every `foreachBatch` sink that maintains a queryable
  * parquet table incrementally, kept as [[ServingStore]] generations: a
  * sink's state is ONE generation store at its `stateDir`, and the
  * sidecar stamp is the id of the last micro-batch folded into it. A
  * sink keeping several tables (rarity's df and doc count, the
  * contamination counts and seen grams, the forecast OLS and per-x
  * layers, bucketed media admission's store and chunk index) holds them
  * as artifacts of one generation, committed together under one stamp.
  *
  * [[fold]] is the one entry. Under the store's build lock, a stamp >=
  * the batch id skips the batch: foreachBatch can REPLAY a batch after a
  * restart, and folding it again would double-count it. Anything else
  * writes the next generation from the committed one and stamps it. A
  * crash anywhere before the stamp leaves the committed generation
  * served and an uncommitted one behind; the replayed batch folds once
  * from the committed generation, and that commit prunes the orphan.
  * Nothing is mutated in place: readers resolve the sidecar-named
  * generation ([[current]]), and a frame planned before a batch keeps
  * its files across that batch (the previous generation survives one
  * commit).
  *
  * Bucketed state ([[foldBuckets]]): a content- or vocabulary-sized
  * table is `partitionBy("b")` over a hash of its key, and a batch
  * writes only the buckets its keys land in. Every untouched bucket of
  * the committed generation is hard-linked into the next one, so
  * per-batch write volume is O(touched buckets) while the commit stays
  * one stamp. The bucket count is sidecar meta: another count would
  * re-route keys to other buckets, so it is refused.
  *
  * Nothing silently restarts a stream's state from empty: a present but
  * unreadable sidecar throws, a missing sidecar beside a generation
  * stamped below the batch (a stamp deleted from outside — a commit
  * replaces the stamp whole, so no crash leaves it missing) throws, and
  * a state dir in an older layout (a parquet `_model` stamp, or no
  * sidecar with other files present) is refused, not migrated. Without
  * a sidecar, only a crashed attempt at the same batch — a first
  * batch's orphan — is folded over.
  *
  * CAVEAT (logged when it bites): batch ids restart at 0 with a FRESH
  * checkpoint location, so a state directory is bound to one checkpoint
  * lineage — reuse with a new checkpoint requires clearing the state
  * dir, or early batches are skipped as replays.
  */
private[graft] object StreamStateStore {

  @transient private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The artifact name of a single-table sink's state. */
  val Store = "store"

  /** Fold micro-batch `batchId` into the state at `stateDir`:
    * `write(committed, next)` writes every artifact of the next
    * generation (committed is None on the first batch), through
    * [[foldFrame]] / [[foldBuckets]]. `nBuckets` is the bucketed
    * artifacts' layout, stamped with the state. */
  def fold(spark: SparkSession, batchId: Long, stateDir: String, sinkName: String,
      artifacts: Seq[String], nBuckets: Option[Int] = None)(
      write: (Option[Generation], Generation) => Unit): Unit = {
    val meta = nBuckets.toSeq.map(n => "n_buckets" -> n.toString)
    ServingStore.advance(spark, sinkName, stateDir, artifacts.map(Artifact(_)), meta) {
      case Stamped(_, g, m) if m != meta.toMap =>
        throw new StaleStoreRefusal(
          s"$sinkName state at $g is stamped ${m.toSeq.sorted.mkString(", ")}; " +
            s"reopening it with ${meta.mkString(", ")} would mis-route keys — migrate or clear")
      case Stamped(applied, _, _) if applied >= batchId =>
        logger.warn(
          s"$sinkName: skipping batch $batchId (already applied through " +
            s"$applied); if this stream was restarted with a fresh " +
            "checkpoint over an existing state dir, clear the state dir")
        None
      case Stamped(_, _, _) => Some(batchId)
      case Unreadable =>
        throw new IllegalStateException(
          s"$sinkName state stamp at $stateDir unreadable — refusing to " +
            "restart the stream's state from empty")
      case Missing if entries(stateDir).forall(_.startsWith("gen_")) =>
        // only a crashed attempt at THIS batch may have left a generation:
        // one stamped below it was committed, and its stamp was deleted
        // from outside — folding onto empty would drop it
        if (entries(stateDir).exists(g => ServingStore.generationFp(g).forall(_ < batchId)))
          throw new IllegalStateException(
            s"$sinkName state at $stateDir holds generations of batches before " +
              s"$batchId but no sidecar — refusing to restart the stream's state from empty")
        Some(batchId)
      case _ => throw new StaleStoreRefusal(
        s"$sinkName state at $stateDir predates the generation layout — " +
          "migrate or clear it; it is not restarted from empty")
    }(write)
  }

  /** Write artifact `sub` of `next` as `merge` of the committed one. */
  def foldFrame(spark: SparkSession, prev: Option[Generation], next: Generation,
      sub: String)(merge: Option[DataFrame] => DataFrame): Unit =
    merge(prev.map(p => spark.read.parquet(p.path(sub))))
      .write.mode("overwrite").parquet(next.path(sub))

  /** Write BUCKETED artifact `sub` of `next`: `cur` rows get their
    * bucket `b` from `keyCol`, `merge(committed rows of the touched
    * buckets, cur rows)` rewrites the touched buckets, and the untouched
    * ones are hard-linked from the committed generation. `merge` must
    * key on `keyCol` only (b is hash-functional on it) and emit `b`. */
  def foldBuckets(spark: SparkSession, prev: Option[Generation], next: Generation,
      sub: String, keyCol: String, nBuckets: Int, cur: DataFrame)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val withB = cur.withColumn("b",
      pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).cast("int"))
      .localCheckpoint(eager = false)
    // the touched set is bounded by nBuckets — a driver-side list, never data
    val touched = withB.select(col("b")).distinct().collect().map(_.getInt(0)).toSet
    val committed = prev.toSeq.flatMap { p =>
      Option(new java.io.File(p.path(sub)).listFiles).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("b="))
        .map(f => f.getName.stripPrefix("b=").toInt -> f.getPath)
    }
    if (touched.nonEmpty) {
      val prevTouched = committed.filter(c => touched(c._1)).map(_._2)
      merge(
        if (prevTouched.isEmpty) None
        else Some(spark.read.option("basePath", prev.get.path(sub)).parquet(prevTouched: _*)),
        withB.filter(col("b").isin(touched.toSeq.map(Integer.valueOf): _*)))
        .write.mode("overwrite").partitionBy("b").parquet(next.path(sub))
    }
    committed.filterNot(c => touched(c._1)).foreach { case (b, dir) =>
      ServingStore.link(dir, next.path(sub) + s"/b=$b")
    }
  }

  /** The committed generation of the state at `stateDir`, None before
    * the first batch commits. */
  def current(stateDir: String): Option[Generation] =
    ServingStore.sidecarState("stream state", stateDir) match {
      case Stamped(_, g, _) => Some(Generation(g, Nil))
      case _ => None
    }

  private def entries(stateDir: String): Seq[String] =
    Option(new java.io.File(stateDir).list).toSeq.flatten

  /** Artifact `sub` of the committed state at `stateDir`. */
  def read(spark: SparkSession, stateDir: String, sub: String = Store): DataFrame =
    spark.read.parquet(current(stateDir).getOrElse(throw new IllegalStateException(
      s"no committed stream state at $stateDir")).path(sub))
}
