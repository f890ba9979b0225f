package graft.streaming

import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming PERCEPTUAL admission for media ingest — the media twin of
  * [[DedupAdmission]]: each micro-batch of transcoded media rows
  * (media_id, payload, meta — real containers, the shape a door sees)
  * is decoded once and reduced to its per-asset 64-bit perceptual key,
  * and the persisted store admits only first-seen (family, hash)
  * content. The key is container- and resolution-invariant by
  * construction (images: dHash over decoded pixels; audio: the
  * framed-FFT band-delta hash; video: the contact-sheet MOSAIC dHash —
  * one key per asset; a video whose container yields only per-frame
  * hashes folds its ordered frame-hash roll into one key instead), so
  * the same asset arriving re-encoded in a different LOSSLESS
  * container is refused as a duplicate — the cross-container case the
  * planted duplicate-ingest ground truth exercises, spec-asserted.
  * A LOSSY re-encode (JPEG/GIF) can drift decoded pixels and so the
  * hash by a bit or two; the HAMMING-TOLERANT gate
  * ([[rerouteByHamming]], r13 verdict #4) closes that hole per-asset:
  * the arriving key's 4 pigeonhole chunks probe the admitted chunk
  * index, and a key within [[HammingTol]] bits of admitted content in
  * the same family is refused as that content's copy — a bounded
  * candidate set. Within one batch, two drifted copies of the same
  * asset fold to one admission BEFORE the store probe
  * ([[foldBatchDrift]], r14 verdict #7 — the same chunk discipline
  * turned on the batch itself), and `frameroll` keys stay exact-only
  * (avalanche hashes carry no meaningful bit distance).
  *
  * Store and replay semantics are [[DedupAdmission]]'s exactly (the
  * shared [[DedupAdmission.firstArrivalFold]] + the [[StreamStateStore]]
  * exactly-once batch fold): first-arrival canonical id, fold-in
  * copy counts, state grows with distinct CONTENT seen — a
  * duplicate-heavy media stream converges. Per-batch work is the one
  * decode pass plus a hash-keyed fold; admission never rescans history.
  */
object MediaAdmission {

  /** Canonical (content_hash, keep_media_id, n_copies) rows of one
    * batch — one decode pass ([[Multimodal.hashRows]]), smallest
    * media_id canonical within the batch. Per asset the key is the
    * image/audio/mosaic hash row; a video whose container decodes to
    * per-frame rows WITHOUT a mosaic (the non-PPM stub-codec path)
    * folds its ordered (frame_idx, hash) roll into one deterministic
    * key, so identical such videos still collide instead of slipping
    * through unkeyed. Payloads with no decodable content produce no
    * key and are NOT admitted (no perceptual evidence — the hashRows
    * drop contract). */
  private[graft] def batchCanonical(spark: SparkSession, batch: DataFrame): DataFrame = {
    val rows = Multimodal.hashRows(spark, batch).toDF()
      .localCheckpoint(eager = false) // feeds three consumers below
    val direct = rows.filter(col("family") =!= "frame")
      .select(
        concat_ws(":", col("family"), hex(col("hash"))).as("content_hash"),
        col("media_id"), col("family"), col("hash"))
    val frameRoll = rows.filter(col("family") === "frame")
      .join(rows.filter(col("family") === "mosaic").select(col("media_id")),
        Seq("media_id"), "left_anti")
      .groupBy(col("media_id"))
      // sort_array makes the collect_list order-invariant (frame_idx is
      // unique per asset, so the struct order is total)
      .agg(xxhash64(sort_array(collect_list(
        struct(col("frame_idx"), col("hash"))))).as("hash"))
      .select(
        concat_ws(":", lit("frameroll"), hex(col("hash"))).as("content_hash"),
        col("media_id"), lit("frameroll").as("family"), col("hash"))
    direct.unionByName(frameRoll)
      .groupBy(col("content_hash"))
      // family and hash are functions of content_hash (it is their
      // rendering), appended AFTER the legacy triple so positional
      // readers keep working; they feed the hamming-tolerant gate
      .agg(min(col("media_id")).as("keep_media_id"), count(lit(1)).as("n_copies"),
        first(col("family")).as("family"), first(col("hash")).as("hash"))
  }

  /** Legacy-layout guard (r14 review): a store written by the
    * pre-tolerant 3-column layout (content_hash, keep_media_id,
    * n_copies) lacks the family/hash columns the tolerant gate and the
    * fold carry need — resuming a stream over one must not throw.
    * content_hash IS "family:hex(hash)" (its rendering), so both are
    * derived losslessly on read; the next store rewrite persists them
    * and the store is migrated forward. conv's negative target base
    * reads the hex as a SIGNED 64-bit value, matching hex(long). */
  private[graft] def withFamilyHash(store: DataFrame): DataFrame =
    if (store.columns.contains("family")) store
    else store
      .withColumn("family", substring_index(col("content_hash"), ":", 1))
      .withColumn("hash",
        conv(substring_index(col("content_hash"), ":", -1), 16, -10).cast("long"))

  /** Hamming tolerance of the admission gate — the batch dedup
    * family's bound ([[graft.operators.Dedup.HammingMax]]), so what
    * the door refuses matches what batch hamming dedup would pair. */
  private[graft] val HammingTol: Int = graft.operators.Dedup.HammingMax

  /** Admitted-side chunk buckets holding more distinct keys than this
    * are skipped by the tolerant probe (observed through the candidate
    * join's bound, the [[graft.operators.Dedup.SimHashChunkCap]]
    * valve convention): a degenerate bucket (all-black thumbnails)
    * would otherwise make every arrival pair against it. Exact-key
    * admission still refuses exact duplicates inside skipped
    * buckets. */
  private[graft] val ChunkProbeCap: Int = graft.operators.Dedup.SimHashChunkCap

  /** 16-bit pigeonhole chunks of a canonical-row frame — the
    * [[graft.operators.Dedup.chunkedHammingPairs]] chunk scheme over
    * (family, hash): any two 64-bit hashes within [[HammingTol]] <= 3
    * bits share at least one of the 4 chunks. `frameroll` keys are
    * excluded: they are avalanche hashes of the whole frame roll, so
    * bit distance carries no perceptual meaning there — per-frame
    * hamming reconciliation stays batch-side ([[Multimodal.videoDedup]]). */
  private def chunked(rows: DataFrame): DataFrame = {
    val chunkCols = (0 until graft.operators.Dedup.Chunks).map { c =>
      struct(lit(c).as("c"),
        shiftrightunsigned(col("hash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }
    rows.filter(col("family") =!= "frameroll")
      .select(col("content_hash"), col("family"), col("hash"),
        explode(array(chunkCols: _*)).as("ch"))
      .select(col("content_hash"), col("family"), col("hash"),
        col("ch.c").as("c"), col("ch.v").as("v"))
  }

  /** The lossy-re-encode hole, closed per-asset (r13 verdict #4): an
    * arriving key within [[HammingTol]] bits of an ALREADY ADMITTED
    * key of the same family is a perceptual duplicate whose container
    * drifted a pixel or two (JPEG/GIF re-encodes) — exact-key
    * admission would admit it as new content. Rerouting rewrites the
    * arrival's identity columns onto the admitted row's, so the
    * ordinary first-arrival fold refuses it (bumping the admitted
    * row's copy count) exactly as if the key had matched. Per-asset
    * decision over a bounded candidate set — the arriving key's 4
    * pigeonhole chunks probe the admitted chunk index; no pairing
    * among arrivals (within-batch near-dups are folded beforehand by
    * [[foldBatchDrift]]). Deterministic: ties take the smallest
    * admitted key. EXACT matches take precedence over the tolerant
    * reroute (r14 review): an arrival whose content_hash is already
    * admitted is excluded from the probe entirely, so it folds onto
    * its own exact twin instead of being attributed to some other
    * near-dup admitted key. */
  private[graft] def rerouteByHamming(cur: DataFrame, admitted: DataFrame): DataFrame = {
    val admChunks0 = chunked(admitted)
    // probe valve: skip degenerate admitted-side buckets (bounded
    // candidates per arrival — at most ChunkProbeCap per chunk)
    val hotBuckets = admChunks0.groupBy(col("family"), col("c"), col("v"))
      .agg(count(lit(1)).as("df")).filter(col("df") > ChunkProbeCap)
      .select(col("family"), col("c"), col("v"))
    val admChunks = admChunks0.join(hotBuckets, Seq("family", "c", "v"), "left_anti")
      .select(col("family"), col("c"), col("v"),
        col("content_hash").as("adm_key"), col("hash").as("adm_hash"))
    val matched = chunked(cur)
      // exact-duplicate arrivals never enter the probe: their own key
      // already folds onto its admitted row, and a reroute could
      // misattribute them to a DIFFERENT near-dup admitted key
      .join(admitted.select(col("content_hash")), Seq("content_hash"), "left_anti")
      .join(admChunks, Seq("family", "c", "v"))
      .filter(col("content_hash") =!= col("adm_key"))
      .filter(bit_count(col("hash").bitwiseXOR(col("adm_hash"))) <= HammingTol)
      .groupBy(col("content_hash"))
      .agg(min(struct(col("adm_key"), col("adm_hash"))).as("adm"))
      .select(col("content_hash").as("cur_key"),
        col("adm.adm_key").as("adm_key"), col("adm.adm_hash").as("adm_hash"))
    cur.join(matched, col("content_hash") === col("cur_key"), "left")
      .select(
        coalesce(col("adm_key"), col("content_hash")).as("content_hash"),
        col("keep_media_id"), col("n_copies"),
        col("family"),
        coalesce(col("adm_hash"), col("hash")).as("hash"))
      // two arrivals rerouted onto the same admitted key fold here so
      // the frame stays one-row-per-content_hash (the fold's contract)
      .groupBy(col("content_hash"))
      .agg(min(col("keep_media_id")).as("keep_media_id"),
        sum(col("n_copies")).as("n_copies"),
        first(col("family")).as("family"), first(col("hash")).as("hash"))
  }

  /** The in-batch drift residue, closed (r14 verdict #7): two LOSSY
    * re-encodes of the same asset arriving in ONE micro-batch both
    * admitted (neither was in the store when the other probed). The
    * same bounded chunk discipline as the store probe, turned on the
    * batch itself: a chunk-bucketed self-join among the batch's
    * canonical rows (hot buckets skipped under [[ChunkProbeCap]], the
    * probe's own valve) yields within-[[HammingTol]] same-family
    * pairs; components are resolved exactly
    * ([[graft.operators.Dedup.resolveComponents]] — driver union-find
    * at micro-batch cardinality) so drift CHAINS fold to one canonical
    * key too, then every member's copies fold onto its component
    * root's identity. Keys are bridged to the resolver's long-id
    * domain via xxhash64(content_hash) (the frameroll convention;
    * a 2^-64 same-batch collision folds two unrelated assets — the
    * trade every xxhash-keyed store here makes). No-drift batches pay
    * one empty-check on the bounded pair frame. */
  private[graft] def foldBatchDrift(cur0: DataFrame): DataFrame = {
    val cur = cur0.localCheckpoint(eager = false) // feeds chunks + fold
    val ch = chunked(cur).withColumn("kid", xxhash64(col("content_hash")))
    val hot = ch.groupBy(col("family"), col("c"), col("v"))
      .agg(count(lit(1)).as("df")).filter(col("df") > ChunkProbeCap)
      .select(col("family"), col("c"), col("v"))
    val cold = ch.join(hot, Seq("family", "c", "v"), "left_anti")
      .select(col("family"), col("c"), col("v"), col("kid"), col("hash"))
    val pairs = cold.as("x").join(cold.as("y"), Seq("family", "c", "v"))
      .filter(col("x.kid") < col("y.kid"))
      .filter(bit_count(col("x.hash").bitwiseXOR(col("y.hash"))) <= HammingTol)
      .select(col("x.kid").as("doc_a"), col("y.kid").as("doc_b")).distinct()
    if (pairs.isEmpty) cur0
    else {
      val canon = graft.operators.Dedup.resolveComponents(pairs)
      // component identity is FIRST-ARRIVAL (smallest member media_id),
      // the door's own philosophy — the component root's key/hash
      // become the admitted identity, exactly as if the batch had
      // arrived one asset at a time in id order
      cur.withColumn("kid", xxhash64(col("content_hash")))
        .join(canon, col("kid") === col("doc_id"), "left")
        .groupBy(coalesce(col("canonical_id"), col("kid")).as("root"))
        .agg(min(struct(col("keep_media_id"), col("content_hash"), col("hash"))).as("r"),
          sum(col("n_copies")).as("n_copies"),
          first(col("family")).as("family"))
        .select(col("r.content_hash").as("content_hash"),
          col("r.keep_media_id").as("keep_media_id"),
          col("n_copies"), col("family"), col("r.hash").as("hash"))
    }
  }

  /** One micro-batch application — the testable core of [[sink]].
    * The arriving census folds its own within-batch drift, then is
    * rerouted through the hamming-tolerant gate against the PRE-BATCH
    * store before the exact-key fold. */
  private[graft] def applyAdmissionBatch(
      batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "mediaAdmissionSink",
      Seq(StreamStateStore.Store)) { (prev, next) =>
      StreamStateStore.foldFrame(spark, prev, next, StreamStateStore.Store) {
        case None => foldBatchDrift(batchCanonical(spark, batch))
        case Some(prev0) =>
          val p = withFamilyHash(prev0)
          DedupAdmission.firstArrivalFold(
            p, rerouteByHamming(foldBatchDrift(batchCanonical(spark, batch)), p),
            carry = Seq("keep_media_id", "family", "hash"))
            // the fold emits carry columns before n_copies — restore the
            // store's positional layout (readers index the legacy triple)
            .select("content_hash", "keep_media_id", "n_copies", "family", "hash")
      }
    }
  }

  /** One micro-batch against the BUCKETED store — the at-scale layout
    * ([[DedupAdmission.sinkBucketed]]'s shape): per-batch IO is
    * O(content in touched buckets), not O(store); the store grows with
    * distinct assets ever admitted, so at warehouse scale the
    * whole-store rewrite of [[applyAdmissionBatch]] is the thing to
    * shed.
    *
    * The hamming-tolerant gate cannot probe the main store here — a
    * drifted key hashes into a DIFFERENT content bucket than its
    * admitted twin, and the whole point of the layout is not reading
    * untouched buckets. The probe instead reads a chunk-index artifact
    * [[Chunks]] of the same generation: one row per admitted (family,
    * chunk, value, hash, key), bucketed BY CHUNK, so an arriving asset's
    * 4 pigeonhole chunks touch at most 4 chunk buckets (partition-pruned
    * by bucket id). The probe reads the committed generation's index
    * (the PRE-batch index — the flat path's semantics exactly), and the
    * store and index commit together under the batch's one stamp. */
  private[graft] def applyAdmissionBatchBucketed(
      batch: DataFrame, batchId: Long, stateDir: String,
      nBuckets: Int = DedupAdmission.StoreBuckets): Unit = {
    val spark = batch.sparkSession
    StreamStateStore.fold(spark, batchId, stateDir, "mediaAdmissionSink",
      Seq(StreamStateStore.Store, Chunks), Some(nBuckets)) { (prev, next) =>
      val cur0 = foldBatchDrift(batchCanonical(spark, batch))
        .localCheckpoint(eager = false)
      val cur = rerouteByHamming(cur0,
        chunkIndexProbe(spark, prev.map(_.path(Chunks)), cur0, nBuckets))
        .localCheckpoint(eager = false)
      StreamStateStore.foldBuckets(spark, prev, next, StreamStateStore.Store,
        "content_hash", nBuckets, cur) {
        case (None, c) => c
        case (Some(p), c) => DedupAdmission.firstArrivalFold(
          withFamilyHash(p), c, carry = Seq("keep_media_id", "family", "hash", "b"))
          .select("content_hash", "keep_media_id", "n_copies", "family", "hash", "b")
      }
      // fold this batch's keys into the chunk index (distinct-union — a
      // key already indexed is a no-op; rerouted arrivals carry their
      // admitted twin's identity, so no drifted key is ever indexed)
      StreamStateStore.foldBuckets(spark, prev, next, Chunks, "ck", nBuckets,
        chunked(cur).withColumn("ck", chunkKey)) {
        case (None, c) => c.dropDuplicates("ck", "content_hash")
        case (Some(p), c) => p.unionByName(c).dropDuplicates("ck", "content_hash")
      }
    }
  }

  /** The chunk-index artifact of the bucketed store. */
  private[graft] val Chunks = "chunks"

  /** The chunk-bucket routing key: one string per (family, chunk
    * index, chunk value) — all hashes sharing a pigeonhole chunk land
    * in one bucket, which is what the probe reads. */
  private def chunkKey = concat_ws(":", col("family"), col("c"), col("v"))

  /** The admitted rows the tolerant probe needs for THIS batch: only
    * the chunk buckets the arriving keys' own chunks hash into —
    * partition-pruned on the sidecar's bucket column, so probe IO is
    * O(arriving chunks' buckets), never O(store). Returns rows shaped
    * like canonical-store rows (content_hash, family, hash) for
    * [[rerouteByHamming]]'s admitted side. */
  private def chunkIndexProbe(spark: SparkSession, chunksDir: Option[String],
      cur: DataFrame, nBuckets: Int): DataFrame = {
    val empty = cur.select(col("content_hash"), col("family"), col("hash")).limit(0)
    // a bucket dir is the existence proof: a committed index with no
    // chunks has none, and reading a parquet-less dir fails schema
    // inference
    val hasBuckets = chunksDir.flatMap(d => Option(new java.io.File(d).listFiles))
      .exists(_.exists(f => f.isDirectory && f.getName.startsWith("b=")))
    if (!hasBuckets) empty
    else {
      val touched = chunked(cur)
        .select(pmod(xxhash64(chunkKey), lit(nBuckets.toLong)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      if (touched.isEmpty) empty
      else spark.read.parquet(chunksDir.get)
        .filter(col("b").isin(touched.toSeq.map(Integer.valueOf): _*))
        .select(col("content_hash"), col("family"), col("hash"))
        .dropDuplicates("content_hash")
    }
  }

  /** foreachBatch sink over the bucketed store. */
  def sinkBucketed(media: DataFrame, stateDir: String,
      nBuckets: Int = DedupAdmission.StoreBuckets)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAdmissionBatchBucketed(batch, batchId, stateDir, nBuckets)
      }

  /** The admitted store at `stateDir`'s current state:
    * (content_hash, keep_media_id, n_copies) with content_hash =
    * "family:hex(perceptual hash)". */
  def currentStore(spark: SparkSession, stateDir: String): DataFrame =
    StreamStateStore.read(spark, stateDir)

  /** foreachBatch sink maintaining the admitted store from a stream of
    * transcoded media rows. */
  def sink(media: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAdmissionBatch(batch, batchId, stateDir)
      }
}
