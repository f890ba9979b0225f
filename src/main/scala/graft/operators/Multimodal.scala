package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: opaque binary
  * payloads with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages as batched per-partition transforms.
  *
  * Codec honesty boundary: image and audio containers are REAL here —
  * binary PPM, PNG, baseline JPEG, 24-bit BMP and palettized GIF images
  * (the JDK's own `javax.imageio`
  * plugins, no external dependency — [[ImageIoCodec]]), RIFF/WAV PCM-16
  * audio, and concatenated-PPM-frame video are parsed, validated,
  * resampled and feature-extracted at the pixel/sample level
  * ([[PpmCodec]], [[WavCodec]]; [[transcode]] wraps raw ingest bytes
  * into a format mix of those containers). Only codecs the JVM does not
  * ship (true AV compression: H.264/Opus/...) remain stubbed ([[StubCodec]]); payloads that
  * fail every container parse fall back to the stub's deterministic
  * byte-level transforms, and a production deployment swaps the stub for
  * a JNI/javacpp codec without touching the plan.
  *
  * Scale notes: payloads never pass through a shuffle — every stage is a
  * narrow `mapPartitions` so a 100 TB media corpus streams partition-by-
  * partition; metadata-only queries prune the payload column at the scan
  * (kept as a separate top-level column, not inside a struct, precisely so
  * parquet column pruning can skip the bytes).
  */
object Multimodal {

  case class MediaMeta(kind: String, width: Int, height: Int, sampleRateHz: Int, nFrames: Int)

  case class MediaItem(media_id: Long, payload: Array[Byte], meta: MediaMeta)

  case class MediaFeatures(media_id: Long, kind: String, features: Array[Float])

  case class Frame(media_id: Long, frame_idx: Int, payload: Array[Byte])

  case class AudioSpectrum(media_id: Long, sample_rate_hz: Int,
      centroid_hz: Double, rolloff_hz: Double, flatness: Double,
      bands: Array[Float])

  /** STUB — stands in for a real codec (missing by design in this
    * environment). Deterministic: features are a folded byte histogram,
    * "resize" is byte re-striding, frames are fixed-stride slices. */
  object StubCodec {
    val FeatureDim = 16

    def decodeFeatures(payload: Array[Byte]): Array[Float] = {
      val acc = new Array[Float](FeatureDim)
      var i = 0
      while (i < payload.length) {
        acc(i % FeatureDim) += (payload(i) & 0xFF) / 255.0f
        i += 1
      }
      if (payload.length > 0) {
        val n = math.max(1, payload.length / FeatureDim)
        var j = 0
        while (j < FeatureDim) { acc(j) /= n; j += 1 }
      }
      acc
    }

    def resize(payload: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
      val out = new Array[Byte](math.max(0, outW * outH))
      if (payload.nonEmpty && out.nonEmpty) {
        var i = 0
        while (i < out.length) {
          out(i) = payload((i.toLong * payload.length / out.length).toInt)
          i += 1
        }
      }
      out
    }

    def sampleFrames(payload: Array[Byte], nFrames: Int, every: Int): Iterator[(Int, Array[Byte])] =
      if (nFrames <= 0 || payload.isEmpty) Iterator.empty
      else {
        val frameLen = math.max(1, payload.length / nFrames)
        (0 until nFrames by math.max(1, every)).iterator.map { f =>
          val from = f * frameLen
          (f, payload.slice(from, math.min(from + frameLen, payload.length)))
        }
      }
  }

  /** The media corpus every registered multimodal query runs over:
    * ingest from the documents table, plant the duplicate-ingest rows a
    * dedup corpus needs ground truth for, then transcode into real
    * containers — one shared derivation so the hash and dedup queries
    * measure the same frame. */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    transcode(spark, plantIngestDups(fromDocuments(graft.Tables.documents(spark, dir)))).toDF()

  /** Derive a deterministic media corpus from the documents table (binary
    * payloads + typed metadata) — the harness ships no media files.
    *
    * `kind` derives from a hash of the PAYLOAD, not the row id: rows
    * carrying the same asset under different ids (the duplicated-ingest
    * mode perceptual dedup exists for) must land in the SAME modality,
    * or two copies of one video can never pair (the r12 id-derived kind
    * made q_video_dedup structurally vacuous). Width/height/nFrames
    * already derive from n_chars — a payload property — for the same
    * reason. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast(BinaryType).as("payload"),
      struct(
        when(pmod(xxhash64(col("text")), lit(3)) === 0, "image")
          .when(pmod(xxhash64(col("text")), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        (col("n_chars") % 64 + 1).cast(IntegerType).as("width"),
        (col("n_chars") % 48 + 1).cast(IntegerType).as("height"),
        lit(16000).as("sampleRateHz"),
        (col("n_chars") % 10 + 1).cast(IntegerType).as("nFrames"))
        .as("meta"))

  /** Planted duplicate rows carry `media_id + DupIdOffset` — far above
    * any doc_id, so planted ids never collide with ingest ids and a
    * found pair's provenance is readable off the id. */
  val DupIdOffset: Long = 1L << 40

  /** Planted thumbnail-extract rows carry `media_id + ThumbIdOffset`. */
  val ThumbIdOffset: Long = 1L << 41

  /** Plant the two duplication modes a media-dedup corpus needs labeled
    * ground truth for — the source documents table has NO duplicate
    * payloads (500/500 distinct at every shipped SF), so without
    * planting, every exact-content media-dedup query is structurally
    * vacuous: it can only ever return hash collisions.
    *
    *  - duplicate ingest (~1 in 5 payloads): the same asset lands twice
    *    under two ids — same payload, same metadata, same modality.
    *    [[transcode]]'s payload-derived seed makes the two copies
    *    content-identical media (possibly in DIFFERENT containers — the
    *    format round-robin keys on the id — which is exactly the
    *    transcode-invariance the perceptual hashes exist to see through).
    *  - thumbnail extract (~1 in 4 video payloads): the video's payload
    *    re-ingested as an IMAGE — [[transcode]] renders an image from
    *    the same seed as the video's frame 0, so the planted image IS a
    *    frame extract of the planted-from video, the cross-modal
    *    duplication mode [[crossModalMatches]] resolves.
    *
    * Selection hashes the payload (with distinct salts), not the id:
    * deterministic, re-derivable, and both copies of a duplicated
    * payload make the same planting decision. */
  def plantIngestDups(media: DataFrame): DataFrame = {
    val dups = media
      .filter(pmod(xxhash64(col("payload"), lit("dup")), lit(5)) === 0)
      .select((col("media_id") + DupIdOffset).as("media_id"), col("payload"), col("meta"))
    val thumbs = media
      .filter(col("meta.kind") === "video" &&
        pmod(xxhash64(col("payload"), lit("thumb")), lit(4)) === 0)
      .select(
        (col("media_id") + ThumbIdOffset).as("media_id"),
        col("payload"),
        struct(
          lit("image").as("kind"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.sampleRateHz").as("sampleRateHz"),
          col("meta.nFrames").as("nFrames")).as("meta"))
    media.unionByName(dups).unionByName(thumbs)
  }

  /** Deterministic pseudo-random byte stream (splitmix64) — media sample
    * synthesis for the transcode stage; NOT runtime randomness. */
  private def byteStream(seed0: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var s = seed0
    var i = 0
    while (i < n) {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      var b = 0
      while (b < 8 && i < n) { out(i) = (z >>> (8 * b)).toByte; i += 1; b += 1 }
    }
    out
  }

  /** Transcode raw ingest bytes into REAL containers (the ingest →
    * transcode step of a media pipeline): images become binary PPMs,
    * PNGs, baseline JPEGs, BMPs or GIFs (round-robin by media id — a
    * training corpus's
    * image column is mixed-format, and downstream stages must not care)
    * with the metadata's dimensions, audio becomes 16 kHz PCM-16 WAV,
    * video becomes nFrames back-to-back PPM frames. Sample data derives
    * deterministically from the raw payload, so downstream stages do
    * genuine byte-level container parsing. Narrow mapPartitions — no
    * shuffle. */
  /** 64-bit payload hash (FNV-1a folded through a splitmix finalizer) —
    * the transcode seed. 64-bit because a 32-bit seed space collides two
    * DISTINCT payloads into identical media at corpus scale (birthday
    * bound ~2^16 items), a false-positive the dedup queries would then
    * report as ground truth (r12 advice). */
  private[operators] def payloadSeed(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def transcode(spark: SparkSession, media: DataFrame): Dataset[MediaItem] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.map { m =>
        // seed from the PAYLOAD alone (not the media id): a duplicated
        // ingest row — the same asset landing twice under two ids, the
        // dup mode perceptual dedup exists for — must transcode into
        // content-identical media. (An id-mixed seed made every copy
        // pixel-unique and the dedup queries vacuously empty.)
        val seed = payloadSeed(m.payload)
        val payload = m.meta.kind match {
          case "image" =>
            val rgb = byteStream(seed, m.meta.width * m.meta.height * 3)
            // planted thumbnail extracts (ids >= ThumbIdOffset) go
            // through LOSSLESS containers only: JPEG/GIF decoded-pixel
            // drift breaks the exact dHash equality crossModalMatches
            // verifies, demoting planted ground truth to a soft
            // at-least-half bound (r13 advice). The duplicate-ingest
            // mode keeps the full 5-container round-robin — mixed
            // containers there ARE the transcode invariance under test.
            if (m.media_id >= ThumbIdOffset) (m.media_id / 3) % 3 match {
              case 1 => ImageIoCodec.encodePng(m.meta.width, m.meta.height, rgb)
              case 2 => ImageIoCodec.encodeBmp(m.meta.width, m.meta.height, rgb)
              case _ => PpmCodec.encode(m.meta.width, m.meta.height, rgb)
            } else (m.media_id / 3) % 5 match {
              case 1 => ImageIoCodec.encodePng(m.meta.width, m.meta.height, rgb)
              case 2 => ImageIoCodec.encodeJpeg(m.meta.width, m.meta.height, rgb)
              case 3 => ImageIoCodec.encodeBmp(m.meta.width, m.meta.height, rgb)
              case 4 => ImageIoCodec.encodeGif(m.meta.width, m.meta.height, rgb)
              case _ => PpmCodec.encode(m.meta.width, m.meta.height, rgb)
            }
          case "audio" =>
            val bytes = byteStream(seed, math.max(2, (m.payload.length * 2) & ~1))
            val samples = new Array[Short](bytes.length / 2)
            var i = 0
            while (i < samples.length) {
              samples(i) = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort
              i += 1
            }
            WavCodec.encode(m.meta.sampleRateHz, samples)
          case _ =>
            val frame = m.meta.width * m.meta.height * 3
            val frames = (0 until m.meta.nFrames).map(f =>
              PpmCodec.encode(m.meta.width, m.meta.height, byteStream(seed + f, frame)))
            val out = new Array[Byte](frames.map(_.length).sum)
            var off = 0
            frames.foreach { fb => System.arraycopy(fb, 0, out, off, fb.length); off += fb.length }
            out
        }
        MediaItem(m.media_id, payload, m.meta)
      }
    }
  }

  /** Decode + feature-extract, batched per partition (no shuffle): real
    * container parsing (PPM/PNG/JPEG pixel statistics, WAV sample-domain
    * energy/zero-crossings); payloads that are not parseable containers
    * (raw ingest bytes, formats outside the codec set) fall back to the
    * stub. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.map { m =>
        val feats = m.meta.kind match {
          case "image" | "video" =>
            decodeImage(m.payload).map { case (w, h, rgb) => PpmCodec.features(w, h, rgb) }
          case "audio" =>
            WavCodec.decode(m.payload).map { case (_, samples) => WavCodec.features(samples) }
          case _ => None
        }
        MediaFeatures(m.media_id, m.meta.kind,
          feats.getOrElse(StubCodec.decodeFeatures(m.payload)))
      }
    }
  }

  /** Spectral analysis of audio payloads, batched per partition (no
    * shuffle): a REAL framed FFT power spectrum per clip ([[Dsp]] —
    * pure-JVM radix-2 Cooley-Tukey, spec-gated against the DFT
    * definition and Parseval), reduced to spectral centroid, 85%
    * rolloff, flatness and log-spaced band energies. Rows whose payload
    * does not parse as PCM-16 WAV are DROPPED — a spectrum of
    * unparseable bytes would be a fabricated number, not a fallback
    * (the honesty line [[extractFeatures]] draws with its stub is
    * explicit there; here the output claims real signal analysis). */
  def audioSpectra(spark: SparkSession, media: DataFrame): Dataset[AudioSpectrum] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.filter(_.meta.kind == "audio").flatMap { m =>
        WavCodec.decode(m.payload).map { case (rate, samples) =>
          val (centroid, rolloff, flatness, bands) = Dsp.spectralFeatures(rate, samples)
          AudioSpectrum(m.media_id, rate, centroid, rolloff, flatness, bands)
        }
      }
    }
  }

  case class AudioHash(media_id: Long, ahash: Long)

  /** Per-clip 64-bit perceptual audio hash ([[Dsp.audioHash64]]:
    * segment x band-delta signs — gain-invariant by construction).
    * Undecodable payloads DROP (the [[audioSpectra]] discipline). One
    * mapPartitions scan, no shuffle. */
  def audioHashes(spark: SparkSession, media: DataFrame): Dataset[AudioHash] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.filter(_.meta.kind == "audio").flatMap { m =>
        WavCodec.decode(m.payload).map { case (rate, samples) =>
          AudioHash(m.media_id, Dsp.audioHash64(rate, samples))
        }
      }
    }
  }

  /** Perceptual near-dup pairs over decodable audio clips — the audio
    * leg of the multimodal dedup triad (image [[imageDedup]], video
    * [[videoDedup]]): re-encodes, gain changes and mild noise keep most
    * hash bits, so pairs surface through the SAME capped pigeonhole
    * hamming join the text/image families use. */
  def audioDedup(spark: SparkSession, media: DataFrame): DataFrame =
    audioDedupFrom(audioHashes(spark, media).toDF())

  /** [[audioDedup]] over an already-extracted `(media_id, ahash)` frame —
    * the form the persisted hash store serves. */
  def audioDedupFrom(hashes: DataFrame): DataFrame =
    Dedup.chunkedHammingPairs(
      hashes.select(col("media_id").as("doc_id"), col("ahash").as("simhash")))
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"), col("hamming"))

  /** Resize image payloads: REAL nearest-neighbor resampling on the
    * decoded pixel grid for PPM/PNG/JPEG payloads (a PPM source stays a
    * valid PPM with the new dimensions; compressed sources re-encode as
    * PNG — lossless, so the resampled pixels round-trip exactly); stub
    * byte re-striding for unparseable payloads. Non-images pass
    * through. */
  def resizeImages(spark: SparkSession, media: DataFrame, outW: Int, outH: Int): Dataset[MediaItem] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.map { m =>
        if (m.meta.kind == "image") {
          val resized = PpmCodec.decode(m.payload) match {
            case Some((w, h, rgb)) =>
              PpmCodec.encode(outW, outH, PpmCodec.resizeNearest(w, h, rgb, outW, outH))
            case None => ImageIoCodec.decode(m.payload) match {
              case Some((w, h, rgb)) =>
                ImageIoCodec.encodePng(outW, outH, PpmCodec.resizeNearest(w, h, rgb, outW, outH))
              case None => StubCodec.resize(m.payload, outW, outH)
            }
          }
          MediaItem(m.media_id, resized, m.meta.copy(width = outW, height = outH))
        } else m
      }
    }
  }

  /** Container-agnostic image decode: strict PPM first (cheap header
    * probe), then the ImageIO plugins (PNG/JPEG/BMP/GIF). */
  private[operators] def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    PpmCodec.decode(payload).orElse(ImageIoCodec.decode(payload))

  /** Stride for sampling an `n`-frame video at nominal stride `every`:
    * a clip too short for the stride to keep at least two samples
    * samples EVERY frame instead — with stride 2, a 2-frame video
    * sampled only frame 0, so even an EXACT duplicate could never reach
    * a shared-frame threshold of 2 (the r12 q_video_dedup vacuity's
    * second cause). */
  private[operators] def frameStride(n: Int, every: Int): Int = {
    val e = math.max(1, every)
    if (n < 2 * e) 1 else e
  }

  /** Sample every `every`-th frame of video payloads (one output row per
    * sampled frame; short clips sample every frame — [[frameStride]]).
    * Concatenated-PPM payloads are split at REAL frame boundaries (each
    * output is a valid standalone PPM); unparseable payloads fall back
    * to stub fixed-stride slicing. */
  def sampleFrames(spark: SparkSession, media: DataFrame, every: Int = 2): Dataset[Frame] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.filter(_.meta.kind == "video").flatMap { m =>
        splitPpmFrames(m.payload) match {
          case Some(frames) =>
            val stride = frameStride(frames.length, every)
            frames.zipWithIndex.collect {
              case (fb, idx) if idx % stride == 0 => Frame(m.media_id, idx, fb)
            }.iterator
          case None =>
            StubCodec.sampleFrames(m.payload, m.meta.nFrames,
              frameStride(m.meta.nFrames, every))
              .map { case (idx, bytes) => Frame(m.media_id, idx, bytes) }
        }
      }
    }
  }

  case class ImageHash(media_id: Long, phash: Long)

  /** q_image_phash — 64-bit difference hash (dHash) per decodable
    * image: grayscale nearest-resize to 9×8, one bit per horizontal
    * neighbor comparison. The hash is a function of PIXELS, not bytes,
    * so the same image in different containers (PPM vs PNG vs BMP)
    * hashes identically — content-addressing that survives transcodes,
    * which byte-level dedup can't see (spec-pinned). Undecodable
    * payloads DROP rather than fabricate a hash (the [[audioSpectra]]
    * discipline). One mapPartitions scan, no shuffle. */
  def imageHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.filter(_.meta.kind == "image").flatMap { m =>
        decodeImage(m.payload).map { case (w, h, rgb) =>
          ImageHash(m.media_id, dHash64(w, h, rgb))
        }
      }
    }
  }

  /** Difference hash over a decoded RGB raster: sample a 9×8 grayscale
    * grid (nearest), emit bit i = gray(x,y) < gray(x+1,y). Small pixel
    * edits flip few comparisons, so near-identical images sit within a
    * small hamming radius while unrelated images land ~32 bits apart. */
  private[operators] def dHash64(w: Int, h: Int, rgb: Array[Byte]): Long = {
    val gw = 9; val gh = 8
    val gray = new Array[Int](gw * gh)
    var y = 0
    while (y < gh) {
      var x = 0
      while (x < gw) {
        val sx = x * w / gw; val sy = y * h / gh
        val p = (sy * w + sx) * 3
        gray(y * gw + x) = (rgb(p) & 0xFF) + (rgb(p + 1) & 0xFF) + (rgb(p + 2) & 0xFF)
        x += 1
      }
      y += 1
    }
    var hash = 0L; var i = 0
    y = 0
    while (y < gh) {
      var x = 0
      while (x < gw - 1) {
        if (gray(y * gw + x) < gray(y * gw + x + 1)) hash |= (1L << i)
        i += 1; x += 1
      }
      y += 1
    }
    hash
  }

  /** Perceptual near-dup pairs over decodable images: dHash signatures
    * through the SAME capped pigeonhole chunk join the text simhash
    * family uses ([[Dedup.chunkedHammingPairs]] — scale shape and
    * hot-bucket discipline included). At 100 TB this is the image-side
    * dedup pass a multimodal corpus build runs next to text near-dup.
    *
    * CONTRACT ASYMMETRY vs the serve path (r18 advice): this inline
    * form keeps the doc-level census valves, while [[imageDedupServe]]
    * runs the lossless distinct-signature collapse — equal output
    * wherever no hot cap engages (spec-pinned), a strict SUPERSET from
    * the serve once replication pushes a chunk bucket past
    * [[Dedup.SimHashChunkCap]] (serve ⊇ inline; the direction is
    * spec-asserted at the mechanism level in CorpusSpec). */
  def imageDedup(spark: SparkSession, media: DataFrame): DataFrame =
    imageDedupFrom(imageHashes(media.sparkSession, media).toDF())

  /** [[imageDedup]] over an already-extracted `(media_id, phash)` frame —
    * the form the persisted hash store serves ([[imageDedupServe]]). */
  def imageDedupFrom(hashes: DataFrame): DataFrame =
    Dedup.chunkedHammingPairs(
      hashes.select(col("media_id").as("doc_id"), col("phash").as("simhash")))
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"), col("hamming"))

  case class FrameHash(media_id: Long, frame_idx: Int, phash: Long)

  /** Per-sampled-frame difference hashes for video payloads — the frame
    * twin of [[imageHashes]] (same drop-on-undecodable discipline). */
  def frameHashes(spark: SparkSession, media: DataFrame, every: Int = 2): Dataset[FrameHash] = {
    import spark.implicits._
    sampleFrames(spark, media, every).mapPartitions { it =>
      it.flatMap { f =>
        decodeImage(f.payload).map { case (w, h, rgb) =>
          FrameHash(f.media_id, f.frame_idx, dHash64(w, h, rgb))
        }
      }
    }
  }

  /** Video near-dup pairs by shared frame content: two videos pair when
    * at least `minShared` of their sampled frames hash EQUAL (clip
    * reuse / re-encodes / trims — the common large-corpus video dup
    * modes; a re-encode preserves pixels, so exact phash equality is
    * the right join key and the join is a plain hash join on the
    * 64-bit hash, no pairwise scoring). Scale shape mirrors the
    * posting-style joins: distinct (video, hash) first — a static
    * intro card repeated over 1000 frames counts once — then one
    * self-join keyed on the hash, one pair aggregate. A hash shared by
    * more than [[FrameHashCap]] videos is dropped (observed via the
    * count column, not silent): universal boilerplate frames (black
    * frames, logo cards) would otherwise quadratically explode the
    * candidate set.
    *
    * CONTRACT ASYMMETRY vs the serve path (r18 advice): past
    * [[FrameHashCap]] replication this inline census drops EVERY frame
    * hash and emits zero pairs, while [[videoDedupServe]]'s
    * hash-SET collapse keeps the full clique set — serve ⊇ inline,
    * equal under-cap (both directions spec-pinned in CorpusSpec). */
  def videoDedup(spark: SparkSession, media: DataFrame, every: Int = 2,
      minShared: Int = 2): DataFrame =
    videoDedupFrom(frameHashes(spark, media, every).toDF(), minShared)

  /** [[videoDedup]] over an already-extracted `(media_id, frame_idx,
    * phash)` frame — the form the persisted hash store serves
    * ([[videoDedupServe]]).
    *
    * The threshold is `least(minShared, n_a, n_b)` where `n` is a
    * video's count of distinct surviving frame hashes: a clip with
    * fewer distinct frames than `minShared` (a 1-frame video, a clip
    * whose frames all hash alike) still pairs on FULL overlap — an
    * exact duplicate of a short clip is exactly as duplicated as one of
    * a long clip (the r12 vacuity's second cause; a fixed threshold
    * silently exempted every short video from dedup). */
  def videoDedupFrom(frameHashes: DataFrame, minShared: Int = 2): DataFrame = {
    val hashes = frameHashes
      .select(col("media_id"), col("phash")).distinct()
      .localCheckpoint(eager = false)
    val hot = hashes.groupBy(col("phash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > FrameHashCap)
      .select(col("phash"))
    val kept = hashes.join(hot, Seq("phash"), "left_anti")
      .localCheckpoint(eager = false)
    // video-cardinality (tiny next to the frame table); joined onto the
    // PAIRS — smaller still — rather than carried through the self-join
    val counts = kept.groupBy(col("media_id")).agg(count(lit(1)).as("n_hashes"))
    kept
      .join(kept.select(col("media_id").as("media_b"), col("phash")), Seq("phash"))
      .filter(col("media_id") < col("media_b"))
      .groupBy(col("media_id").as("media_a"), col("media_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .join(counts.select(col("media_id").as("media_a"), col("n_hashes").as("n_a")),
        Seq("media_a"))
      .join(counts.select(col("media_id").as("media_b"), col("n_hashes").as("n_b")),
        Seq("media_b"))
      .filter(col("shared_frames") >= least(lit(minShared), col("n_a"), col("n_b")))
      .select(col("media_a"), col("media_b"), col("shared_frames"))
  }

  /** Videos sharing one frame hash beyond this are boilerplate-frame
    * hubs, not near-dups — dropped from pairing. */
  val FrameHashCap = 64

  /** DISTINCT-HASH-SET collapse for video dedup (r18, the
    * [[Dedup.collapsedHammingPairs]] move for the frame-overlap join):
    * [[videoDedupFrom]] depends on a video only through its distinct
    * frame-hash SET, so videos with equal sets are interchangeable —
    * the frame-keyed self-join runs over one representative per
    * distinct set, cross-class pairs expand rep pairs over both member
    * lists (shared/n counts are set-determined), and same-class pairs
    * share their full surviving set (always past the
    * `least(minShared, n, n)` threshold at n >= 1).
    *
    * This is also the sf10 VACUITY fix: exact replication puts every
    * frame hash in >= k videos, so at k > [[FrameHashCap]] the
    * doc-level census drops EVERY hash and the inline form silently
    * emits zero pairs — precisely the giant-duplicate-cluster failure
    * the r13 star valve exists to prevent in the banding families. The
    * collapsed census counts distinct SETS (rep-hot ⊆ doc-hot), so a
    * replicated corpus keeps its full pair set; bit-equal to
    * [[videoDedupFrom]] wherever the doc-level census engages no cap
    * (spec-pinned, duplicate-heavy corpus included). */
  private[operators] def videoDedupCollapsed(frameHashes: DataFrame,
      minShared: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashes = frameHashes
      .select(col("media_id"), col("phash")).distinct()
      .localCheckpoint(eager = false)
    val members = hashes.groupBy(col("media_id"))
      .agg(sort_array(collect_set(col("phash"))).as("hset"))
      .withColumn("class_id",
        min(col("media_id")).over(Window.partitionBy(col("hset"))))
      .select(col("media_id"), col("class_id"))
      .localCheckpoint(eager = false)
    val repHashes = hashes.join(
      members.filter(col("media_id") === col("class_id")).select(col("media_id")),
      "media_id")
      .localCheckpoint(eager = false)
    val hot = repHashes.groupBy(col("phash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > FrameHashCap)
      .select(col("phash"))
    val kept = repHashes.join(hot, Seq("phash"), "left_anti")
      .localCheckpoint(eager = false)
    val counts = kept.groupBy(col("media_id")).agg(count(lit(1)).as("n_hashes"))
    val repPairs = kept
      .join(kept.select(col("media_id").as("media_b"), col("phash")), Seq("phash"))
      .filter(col("media_id") < col("media_b"))
      .groupBy(col("media_id").as("media_a"), col("media_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .join(counts.select(col("media_id").as("media_a"), col("n_hashes").as("n_a")),
        Seq("media_a"))
      .join(counts.select(col("media_id").as("media_b"), col("n_hashes").as("n_b")),
        Seq("media_b"))
      .filter(col("shared_frames") >= least(lit(minShared), col("n_a"), col("n_b")))
      .select(col("media_a"), col("media_b"), col("shared_frames"))
    val cross = repPairs
      .join(members.select(col("class_id").as("media_a"), col("media_id").as("da")),
        "media_a")
      .join(members.select(col("class_id").as("media_b"), col("media_id").as("db")),
        "media_b")
      .select(
        least(col("da"), col("db")).as("media_a"),
        greatest(col("da"), col("db")).as("media_b"),
        col("shared_frames"))
    // direct class-equality self-join: size-1 classes match nothing, so
    // the former csize>=2 prefilter's groupBy shuffle + extra join
    // bought no output reduction (r20, the minhash mh-probe finding).
    // inner join onto counts: a class whose every hash went hot at rep
    // level has no surviving set and pairs on nothing — the same n = 0
    // exclusion the inline join shape produces
    val self = members.as("x")
      .join(members.as("y"),
        col("x.class_id") === col("y.class_id") && col("x.media_id") < col("y.media_id"))
      .select(col("x.class_id").as("class_id"),
        col("x.media_id").as("media_a"), col("y.media_id").as("media_b"))
      .join(counts.select(col("media_id").as("class_id"), col("n_hashes")), "class_id")
      .select(col("media_a"), col("media_b"), col("n_hashes").as("shared_frames"))
    cross.unionByName(self)
  }

  /** [[crossModalFrom]] through the collapse: images collapse on their
    * phash (the census never counts images, so this side is exact
    * unconditionally); videos collapse on their (phash -> first
    * frame_idx) MAP — n_matching_frames needs the hash set but
    * first_frame_idx needs the per-hash minimum index, so the class key
    * carries both. Same census argument as [[videoDedupCollapsed]]. */
  private[operators] def crossModalCollapsed(imageHashes: DataFrame,
      frameHashes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val imgs = imageHashes
      .select(col("media_id").as("image_id"), col("phash"))
      .withColumn("class_img",
        min(col("image_id")).over(Window.partitionBy(col("phash"))))
      .localCheckpoint(eager = false)
    val imgMembers = imgs.select(col("image_id"), col("class_img"))
    val repImgs = imgs.filter(col("image_id") === col("class_img"))
      .select(col("class_img").as("image_id"), col("phash"))
    val frames = frameHashes
      .groupBy(col("media_id").as("video_id"), col("phash"))
      .agg(min(col("frame_idx")).as("frame_idx"))
      .localCheckpoint(eager = false)
    val vidMembers = frames
      .groupBy(col("video_id"))
      .agg(sort_array(collect_list(struct(col("phash"), col("frame_idx")))).as("fset"))
      .withColumn("class_vid",
        min(col("video_id")).over(Window.partitionBy(col("fset"))))
      .select(col("video_id"), col("class_vid"))
      .localCheckpoint(eager = false)
    val repFrames = frames.join(
      vidMembers.filter(col("video_id") === col("class_vid")).select(col("video_id")),
      "video_id")
    val hot = repFrames.groupBy(col("phash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > FrameHashCap)
      .select(col("phash"))
    val repPairs = repImgs
      .join(repFrames.join(hot, Seq("phash"), "left_anti"), Seq("phash"))
      .groupBy(col("image_id"), col("video_id"))
      .agg(
        count(lit(1)).as("n_matching_frames"),
        min(col("frame_idx")).as("first_frame_idx"))
    repPairs
      .join(imgMembers.select(col("class_img").as("image_id"), col("image_id").as("ia")),
        "image_id")
      .join(vidMembers.select(col("class_vid").as("video_id"), col("video_id").as("va")),
        "video_id")
      .select(col("ia").as("image_id"), col("va").as("video_id"),
        col("n_matching_frames"), col("first_frame_idx"))
  }

  /** Image↔video CROSS-MODAL matches: an image pairs with a video when
    * its perceptual hash equals any sampled frame's hash — the
    * thumbnail / poster / frame-extract duplication mode a multimodal
    * corpus build must resolve across modalities (a video's frames and
    * its extracted thumbnail are one asset, not two). Same discipline
    * as [[videoDedup]]: per-video distinct frame hashes first (a static
    * intro card counts once), frame hashes shared by more than
    * [[FrameHashCap]] videos dropped as boilerplate; the join is a
    * plain hash join on the 64-bit dHash (a frame extract preserves
    * pixels, so exact equality is the right key). Output: (image_id,
    * video_id, n_matching_frames, first_frame_idx). */
  def crossModalMatches(spark: SparkSession, media: DataFrame, every: Int = 2): DataFrame =
    crossModalFrom(imageHashes(spark, media).toDF(), frameHashes(spark, media, every).toDF())

  /** [[crossModalMatches]] over already-extracted image and frame hash
    * frames — the form the persisted hash store serves
    * ([[crossModalServe]]). */
  def crossModalFrom(imageHashes: DataFrame, frameHashes: DataFrame): DataFrame = {
    val imgs = imageHashes
      .select(col("media_id").as("image_id"), col("phash"))
    val frames = frameHashes
      .groupBy(col("media_id").as("video_id"), col("phash"))
      .agg(min(col("frame_idx")).as("frame_idx"))
      .localCheckpoint(eager = false)
    val hot = frames.groupBy(col("phash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > FrameHashCap)
      .select(col("phash"))
    imgs
      .join(frames.join(hot, Seq("phash"), "left_anti"), Seq("phash"))
      .groupBy(col("image_id"), col("video_id"))
      .agg(
        count(lit(1)).as("n_matching_frames"),
        min(col("frame_idx")).as("first_frame_idx"))
  }

  /** Contact-sheet grid edge: mosaics are [[MosaicGrid]]² sampled frames. */
  val MosaicGrid = 3

  /** Cell edge in pixels for the composed mosaic raster. */
  val MosaicCell = 32

  /** Image↔mosaic pairs farther apart than this are not matches. */
  val MosaicHammingMax: Int = Dedup.HammingMax

  case class MosaicHash(media_id: Long, mosaic_phash: Long)

  /** Compose the k×k contact sheet of a video's decoded frames — frames
    * evenly sampled across the timeline, row-major, each nearest-resized
    * into a [[MosaicCell]]² cell — and return (side, side, raster). */
  private[graft] def mosaicRaster(frames: IndexedSeq[(Int, Int, Array[Byte])],
      k: Int, cell: Int): (Int, Int, Array[Byte]) = {
    val side = k * cell
    val out = new Array[Byte](side * side * 3)
    var gy = 0
    while (gy < k) {
      var gx = 0
      while (gx < k) {
        val fi = math.min(((gy * k + gx).toLong * frames.length / (k * k)).toInt,
          frames.length - 1)
        val (w, h, rgb) = frames(fi)
        var y = 0
        while (y < cell) {
          var x = 0
          while (x < cell) {
            val sp = ((y * h / cell) * w + (x * w / cell)) * 3
            val dp = ((gy * cell + y) * side + (gx * cell + x)) * 3
            out(dp) = rgb(sp); out(dp + 1) = rgb(sp + 1); out(dp + 2) = rgb(sp + 2)
            x += 1
          }
          y += 1
        }
        gx += 1
      }
      gy += 1
    }
    (side, side, out)
  }

  /** Per-video frame-MOSAIC perceptual hash: dHash of the k×k contact
    * sheet of evenly-sampled frames. Catches the poster/thumbnail
    * duplication mode [[crossModalMatches]] can't: a video and its
    * CONTACT-SHEET thumbnail share no single verbatim frame, but their
    * mosaics coincide (dHash is resize-invariant by construction, so
    * the sheet's output resolution doesn't matter). Videos with no
    * decodable frame DROP (the [[audioSpectra]] discipline). One
    * mapPartitions scan, no shuffle. */
  def mosaicHashes(spark: SparkSession, media: DataFrame,
      k: Int = MosaicGrid): Dataset[MosaicHash] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.filter(_.meta.kind == "video").flatMap { m =>
        splitPpmFrames(m.payload).flatMap { fbs =>
          val decoded = fbs.flatMap(decodeImage(_)).toIndexedSeq
          if (decoded.isEmpty) None
          else {
            val (w, h, rgb) = mosaicRaster(decoded, k, MosaicCell)
            Some(MosaicHash(m.media_id, dHash64(w, h, rgb)))
          }
        }
      }
    }
  }

  /** Chunks shared by more than this many rows ACROSS both sides are
    * hub buckets (solid-color sheets, boilerplate posters), dropped
    * from mosaic candidate generation — the two-sided analogue of
    * [[Dedup.SimHashChunkCap]]. */
  val MosaicChunkCap = 500

  /** Image↔video MOSAIC matches: an image pairs with a video when its
    * perceptual hash sits within [[MosaicHammingMax]] of the video's
    * contact-sheet hash — extending cross-modal resolution beyond exact
    * frame extracts to composed thumbnails/posters. The join is the
    * two-sided form of [[Dedup.chunkedHammingPairs]]'s pigeonhole: both
    * hashes explode into 4×16-bit chunks, candidates meet on a shared
    * chunk (any pair within distance 3 shares one), chunks whose bucket
    * exceeds [[MosaicChunkCap]] rows across the two sides drop (capped
    * with observed counts — at billion-item scale even uniform 16-bit
    * chunks hub quadratically without this), and each surviving pair
    * emits exactly ONCE at its first shared SURVIVING chunk. Survival
    * of a shared chunk is a bucket property, identical on both sides,
    * so the image-side survival mask alone decides first-emission —
    * the [[Dedup.chunkedHammingPairs]] mask discipline, two-sided. */
  def mosaicMatches(spark: SparkSession, media: DataFrame,
      k: Int = MosaicGrid): DataFrame =
    mosaicMatchesFrom(imageHashes(spark, media).toDF(), mosaicHashes(spark, media, k).toDF())

  /** [[mosaicMatches]] over already-extracted image and mosaic hash
    * frames — the form the persisted hash store serves. */
  def mosaicMatchesFrom(imageHashes: DataFrame, mosaicHashes: DataFrame): DataFrame = {
    val imgs = imageHashes
      .select(col("media_id").as("image_id"), col("phash"))
    val mosaics = mosaicHashes
      .select(col("media_id").as("video_id"), col("mosaic_phash"))
    def chunks(sig: Column) = (0 until Dedup.Chunks).map { c =>
      struct(lit(c).as("c"),
        shiftrightunsigned(sig, c * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }
    def chunkOf(sig: Column, cp: Int): Column =
      shiftrightunsigned(sig, cp * 16).bitwiseAND(lit(0xFFFFL))
    val left0 = imgs.select(col("image_id"), col("phash"),
      explode(array(chunks(col("phash")): _*)).as("ch"))
      .select(col("image_id"), col("phash"), col("ch.c").as("c"), col("ch.v").as("v"))
      .localCheckpoint(eager = false)
    val right0 = mosaics.select(col("video_id"), col("mosaic_phash"),
      explode(array(chunks(col("mosaic_phash")): _*)).as("ch"))
      .select(col("video_id"), col("mosaic_phash"), col("ch.c").as("c"), col("ch.v").as("v"))
      .localCheckpoint(eager = false)
    val hot = left0.select(col("c"), col("v"))
      .unionByName(right0.select(col("c"), col("v")))
      .groupBy(col("c"), col("v")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MosaicChunkCap)
      .observe(s"mosaic_hot_drops_${Dedup.nextObsId()}",
        count(lit(1)).as("hot_buckets"),
        coalesce(sum(col("df")), lit(0L)).as("dropped_chunk_rows"))
      .select(col("c"), col("v"))
    val bitOf = (1 until Dedup.Chunks).foldLeft(when(col("c") === 0, 1L)) {
      (acc, c) => acc.when(col("c") === c, 1L << c)
    }
    // image-side survival mask; the surviving chunk streams re-derive
    // from (hash, mask) — bitshifts of columns in hand
    val leftMask = left0.join(hot, Seq("c", "v"), "left_anti")
      .groupBy(col("image_id"), col("phash")).agg(sum(bitOf).as("mask"))
    val left = leftMask
      .select(col("image_id"), col("phash"), col("mask"),
        explode(array(chunks(col("phash")): _*)).as("ch"))
      .select(col("image_id"), col("phash"), col("mask"),
        col("ch.c").as("c"), col("ch.v").as("v"))
      .filter(col("mask").bitwiseAND(bitOf) =!= 0L)
    val right = right0.join(hot, Seq("c", "v"), "left_anti")
    // emit only at the first shared SURVIVING chunk: for every earlier
    // chunk index, either the chunks differ or that bucket was hot
    val firstShared = (0 until Dedup.Chunks).map { cp =>
      when(lit(cp) < col("c"),
        !((chunkOf(col("phash"), cp) === chunkOf(col("mosaic_phash"), cp)) &&
          (col("mask").bitwiseAND(lit(1L << cp)) =!= 0L)))
        .otherwise(lit(true))
    }.reduce(_ && _)
    left.join(right, Seq("c", "v"))
      .filter(firstShared)
      .select(col("image_id"), col("video_id"),
        bit_count(col("phash").bitwiseXOR(col("mosaic_phash"))).as("hamming"))
      .filter(col("hamming") <= MosaicHammingMax)
  }

  // ------------------------------------------------------------------
  // Persisted media-hash generations
  // ------------------------------------------------------------------

  /** One row of the persisted hash store: `family` is which hash table
    * the row belongs to (image | audio | frame | mosaic), `frame_idx`
    * and `n_frames` only carry meaning for family=frame (and n_frames
    * for mosaic); `hash` is the family's 64-bit perceptual hash. */
  case class MediaHashRow(media_id: Long, family: String, frame_idx: Int,
      n_frames: Int, hash: Long)

  /** Bumped on any change to the corpus derivation or hash semantics:
    * the store generation is keyed by (corpus fingerprint, version), so
    * a code change can never serve a generation built under older
    * semantics — the fingerprint alone only sees the FILES.
    * v2: planted thumbnails transcode lossless-only (r14). */
  private[operators] val HashStoreVersion = 2

  /** ALL four hash families in ONE decode pass over the media corpus —
    * the build behind [[ensureMediaHashes]]. Per video, every frame is
    * decoded exactly once and feeds both its per-frame dHash row and the
    * contact-sheet mosaic row; frames persist UNSAMPLED (every frame),
    * so any serving stride filters rather than re-decodes. Narrow
    * mapPartitions, no shuffle — payload bytes never move. */
  def hashRows(spark: SparkSession, media: DataFrame): Dataset[MediaHashRow] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.flatMap { m =>
        m.meta.kind match {
          case "image" =>
            decodeImage(m.payload).map { case (w, h, rgb) =>
              MediaHashRow(m.media_id, "image", 0, 1, dHash64(w, h, rgb))
            }.iterator
          case "audio" =>
            WavCodec.decode(m.payload).map { case (rate, samples) =>
              MediaHashRow(m.media_id, "audio", 0, 1, Dsp.audioHash64(rate, samples))
            }.iterator
          case _ =>
            splitPpmFrames(m.payload) match {
              case Some(fbs) =>
                val decodedAll = fbs.map(decodeImage)
                val frameRows = decodedAll.zipWithIndex.collect {
                  case (Some((w, h, rgb)), idx) =>
                    MediaHashRow(m.media_id, "frame", idx, fbs.length, dHash64(w, h, rgb))
                }
                val decoded = decodedAll.flatten.toIndexedSeq
                val mosaicRow =
                  if (decoded.isEmpty) Nil
                  else {
                    val (w, h, rgb) = mosaicRaster(decoded, MosaicGrid, MosaicCell)
                    MediaHashRow(m.media_id, "mosaic", 0, fbs.length,
                      dHash64(w, h, rgb)) :: Nil
                  }
                (frameRows ++ mosaicRow).iterator
              case None =>
                // mirror the from-scratch stub path exactly: fixed-stride
                // slices (stride 1 here — serving re-applies any stride by
                // index), decode attempted, undecodables drop; no mosaic
                // ([[mosaicHashes]] requires real PPM frames)
                StubCodec.sampleFrames(m.payload, m.meta.nFrames, 1).flatMap {
                  case (idx, bytes) =>
                    decodeImage(bytes).map { case (w, h, rgb) =>
                      MediaHashRow(m.media_id, "frame", idx, m.meta.nFrames,
                        dHash64(w, h, rgb))
                    }
                }
            }
        }
      }
    }
  }

  /** Ensure (and serve) the persisted media-hash generation for `dir`'s
    * documents corpus: [[ServingStore]] discipline — fingerprint-keyed,
    * crash-safe, lock-guarded, two-generation disk bound. The full
    * transcode+decode pipeline runs ONCE per corpus generation; all six
    * registered media queries serve from the resulting hash tables
    * (tiny — a few longs per asset — next to the payload bytes they
    * summarize). At 100 TB of media this is the difference between one
    * decode pass amortized across every dedup/search run and re-decoding
    * the corpus per query (the r12 media family's scale-killer). */
  def ensureMediaHashes(spark: SparkSession, dir: String): DataFrame = {
    val path = Similarity.servePath("media_hashes_", dir)
    val fp = mediaHashesFingerprint(spark, dir)
    ServingStore.ensure(spark, "media-hashes", path, fp) { gen =>
      hashRows(spark, corpus(spark, dir)).toDF()
        .write.mode("overwrite").parquet(gen)
    }
  }

  /** The fingerprint [[ensureMediaHashes]] keys its generation by —
    * callers snapshot it BEFORE landing a delta so the append can prove
    * the store still matches the pre-delta corpus. */
  def mediaHashesFingerprint(spark: SparkSession, dir: String): Long =
    Similarity.corpusFingerprint(spark, dir, "documents.parquet") * 31 +
      HashStoreVersion

  /** Incremental ingest for the media-hash store: decode ONLY the delta.
    *
    * `newDocs` are the document rows whose files have already landed in
    * `dir`; the corpus derivation is row-local end to end (payload-hash
    * kind/planting, per-row transcode seed — [[fromDocuments]],
    * [[plantIngestDups]], [[payloadSeed]]), so hashing the delta's
    * derived media alone produces EXACTLY the rows a full rebuild over
    * old ∪ delta would add — spec-asserted. At 100 TB of media this is
    * the difference between a day's ingest costing a day's decode and
    * costing the whole corpus's: the merge rewrite that follows is
    * hash-store-sized (a few longs per asset, orders below payload
    * bytes), and the decode — the part that dwarfs everything — runs on
    * the delta only.
    *
    * Same protocol as [[Forecast.appendDayStats]]: the whole append runs
    * under the build lock; the sidecar must prove the live generation
    * was built for `expectedFp` (else rebuild, don't append); the merged
    * state writes a NEW generation (live readers keep the previous one);
    * the post-delta fingerprint must differ from the stored one, so a
    * delta that never landed cannot stamp fresh-looking state. */
  def appendMediaHashes(spark: SparkSession, dir: String, newDocs: DataFrame,
      expectedFp: Long): Unit =
    ServingStore.append(spark, "media-hashes",
      Similarity.servePath("media_hashes_", dir), expectedFp,
      delta = hashRows(spark,
        transcode(spark, plantIngestDups(fromDocuments(newDocs))).toDF()).toDF(),
      postFp = () => mediaHashesFingerprint(spark, dir),
      uniqueKey = Some("media_id"))

  /** `(media_id, phash)` of decodable images, served from the persisted
    * hash generation (one decode pass per corpus generation). */
  def imageHashesServe(spark: SparkSession, dir: String): DataFrame =
    ensureMediaHashes(spark, dir).filter(col("family") === "image")
      .select(col("media_id"), col("hash").as("phash"))

  /** `(media_id, ahash)` of decodable audio clips, served. */
  def audioHashesServe(spark: SparkSession, dir: String): DataFrame =
    ensureMediaHashes(spark, dir).filter(col("family") === "audio")
      .select(col("media_id"), col("hash").as("ahash"))

  /** `(media_id, mosaic_phash)` of videos with decodable frames, served. */
  def mosaicHashesServe(spark: SparkSession, dir: String): DataFrame =
    ensureMediaHashes(spark, dir).filter(col("family") === "mosaic")
      .select(col("media_id"), col("hash").as("mosaic_phash"))

  /** `(media_id, frame_idx, phash)` of decodable sampled video frames,
    * served: frames persist unsampled, so the nominal stride (and the
    * short-clip every-frame rule — [[frameStride]]) filters by INDEX
    * here, reproducing [[frameHashes]] exactly without touching a
    * payload byte. */
  def frameHashesServe(spark: SparkSession, dir: String, every: Int = 2): DataFrame = {
    val e = math.max(1, every)
    ensureMediaHashes(spark, dir).filter(col("family") === "frame")
      .filter(col("n_frames") < 2 * e || col("frame_idx") % e === 0)
      .select(col("media_id"), col("frame_idx"), col("hash").as("phash"))
  }

  /** [[imageDedup]] served from the persisted hash generation, through
    * the DISTINCT-SIGNATURE collapse ([[Dedup.collapsedHammingPairs]],
    * r18): replicated ingests (identical payloads → identical dHash)
    * collapse to one representative per distinct hash before the
    * pigeonhole join, so a k-copy asset costs one candidate row instead
    * of k quadratic ones, and its k² clique pairs come from the
    * member-map expansion — the same exactness argument (and the same
    * spec pin, serve == inline on a duplicate-heavy corpus) as the text
    * simhash serve. */
  def imageDedupServe(spark: SparkSession, dir: String): DataFrame =
    Dedup.collapsedHammingPairs(
      imageHashesServe(spark, dir)
        .select(col("media_id").as("doc_id"), col("phash").as("simhash")))
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"), col("hamming"))

  /** [[videoDedup]] served from the persisted hash generation, through
    * the distinct-hash-set collapse ([[videoDedupCollapsed]]). */
  def videoDedupServe(spark: SparkSession, dir: String, every: Int = 2,
      minShared: Int = 2): DataFrame =
    videoDedupCollapsed(frameHashesServe(spark, dir, every), minShared)

  /** [[crossModalMatches]] served from the persisted hash generation,
    * through the collapse ([[crossModalCollapsed]]). */
  def crossModalServe(spark: SparkSession, dir: String, every: Int = 2): DataFrame =
    crossModalCollapsed(imageHashesServe(spark, dir), frameHashesServe(spark, dir, every))

  /** Split a payload of back-to-back binary PPMs at real frame
    * boundaries; None unless the WHOLE payload parses as PPM frames.
    * Header parsing is offset-based ([[PpmCodec.parseHeaderAt]]), so the
    * scan is O(total bytes) — the only copies are the per-frame outputs. */
  private[operators] def splitPpmFrames(payload: Array[Byte]): Option[Seq[Array[Byte]]] = {
    val frames = Seq.newBuilder[Array[Byte]]
    var off = 0
    while (off < payload.length) {
      PpmCodec.parseHeaderAt(payload, off) match {
        case Some((w, h, rasterStart)) =>
          val end = rasterStart + w * h * 3
          frames += java.util.Arrays.copyOfRange(payload, off, end)
          off = end
        case None => return None
      }
    }
    val out = frames.result()
    if (out.isEmpty) None else Some(out)
  }
}
