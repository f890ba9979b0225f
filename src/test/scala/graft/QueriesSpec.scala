package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Smoke + semantics checks for every SparkEntry query at sf0.001.
  * (The DuckDB hash-parity gate is driver-side; these specs assert the
  * invariants the oracle can't see: schema shape, plan properties, and
  * spot values.)
  */
class QueriesSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local("graft-test")

  override def afterAll(): Unit = spark.stop()

  test("every registered query runs and returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("every oracle entry has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry flagship returns the 6 flag/status groups") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Long]("count_order")).sum > 0)
  }

  test("pricing summary pushes the shipdate filter to the parquet scan") {
    val plan = operators.PricingSummary(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"filter not pushed:\n$plan")
  }

  test("star join broadcasts dimensions (no fact-side shuffle for dims)") {
    val plan = operators.StarSchema.starJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("unit normalization maps every part to a positive kg factor") {
    val bad = operators.Units.unitNormalize(spark, sf)
      .filter("value_in_kg IS NULL OR value_in_kg <= 0").count()
    assert(bad == 0)
  }

  test("mean imputation leaves valid rows untouched and fills invalid ones") {
    val df = operators.Impute.meanImpute(spark, sf)
    assert(df.filter("c_acctbal >= 0 AND acctbal_imputed != c_acctbal").count() == 0)
    assert(df.filter("c_acctbal < 0 AND acctbal_imputed < 0").count() == 0)
  }

  test("group mean imputation fills from the row's own nation") {
    val df = operators.Impute.groupMeanImpute(spark, sf)
    assert(df.filter("acctbal_imputed IS NULL").count() == 0)
  }

  /** Committed (row count, canonical checksum) pins for every query the
    * driver records `no_oracle` for (signature dedups, the ANN ladder,
    * packing, BPE, trained-model scoring, perceptual hashes) — the
    * driver-side hash gate can't see them, so a silent semantic drift in
    * this family must fail HERE instead. Pins generated by
    * `runMain graft.tools.Golden` against [[tools.Golden.PinSf]]
    * (= /root/testdata/sf0.001 — the tool's default and the corpus this
    * suite runs on; the pin test asserts the two agree, so regenerating
    * against a different sf cannot silently rebind the pins) and
    * verified stable across a cold sidecar rebuild (the model training
    * paths are fully deterministic). An intentional semantics change
    * regenerates them with the same tool. */
  val goldenPins: Map[String, (Long, String)] = Map(
    "q_audio_phash" -> (216L, "9139bd4994a49f33"),
    "q_dedup_minhash" -> (28L, "88633b77ac23a85b"),
    "q_dedup_simhash" -> (1176L, "e68a6bb6eda762e6"),
    "q_dedup_simhash_idf" -> (300L, "b4cb80e7bd1f1082"),
    "q_image_dedup" -> (79L, "239c89a9c0ad7b1c"),
    "q_image_phash" -> (244L, "6e7ac0ef54eb9886"),
    "q_media_crossmodal" -> (47L, "9dc9a65b8aea3e1b"),
    "q_quality_classifier" -> (500L, "cf09fef0c23c707e"),
    "q_video_dedup" -> (29L, "e017c3000b79dedd"),
    "q_video_mosaic" -> (181L, "9c2440f7ba8c58c0"),
    "q_winnow_fingerprint" -> (500L, "734360220d1946de"))

  /** Second, independent pin corpus (r12 verdict #9): a drift that
    * happens to cancel at one tiny sf (swapped pair, sf-correlated
    * constant) must trip on the other. Generated by
    * `runMain graft.tools.Golden /root/testdata/sf0.01`
    * ([[tools.Golden.PinSf2]]); regenerated in the same commit as any
    * registration or semantics change, like [[goldenPins]]. */
  val goldenPinsSf2: Map[String, (Long, String)] = Map(
    "q_audio_phash" -> (199L, "8042df361beaa5ea"),
    "q_dedup_minhash" -> (25L, "e5c88575a97ae86a"),
    "q_dedup_simhash" -> (1034L, "cc2d98210b4f1e0a"),
    "q_dedup_simhash_idf" -> (300L, "915b843949d4667a"),
    "q_image_dedup" -> (50L, "2f10e9c6c2feb233"),
    "q_image_phash" -> (245L, "9be4ee48a1f50c92"),
    "q_media_crossmodal" -> (62L, "c950bf748da12d5d"),
    "q_quality_classifier" -> (500L, "388f3324625c7811"),
    "q_video_dedup" -> (36L, "46829bc74bb95ac4"),
    "q_video_mosaic" -> (201L, "6202d0844c2d6f61"),
    "q_winnow_fingerprint" -> (500L, "00cec0deca32d401"))

  test("golden pins cover exactly the no-oracle query family") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == goldenPins.keySet,
      s"pin set drifted: missing=${noOracle -- goldenPins.keySet} " +
        s"stale=${goldenPins.keySet -- noOracle}")
    assert(noOracle == goldenPinsSf2.keySet,
      s"sf2 pin set drifted: missing=${noOracle -- goldenPinsSf2.keySet} " +
        s"stale=${goldenPinsSf2.keySet -- noOracle}")
  }

  test("no-oracle queries match their committed sf0.01 golden pins") {
    val bad = goldenPinsSf2.toSeq.sortBy(_._1).flatMap { case (name, (rows, hash)) =>
      val (n, h) = tools.Golden.checksum(
        SparkEntry.queries(name)(spark, tools.Golden.PinSf2))
      if (n == rows && h == hash) None
      else Some(s"$name: got ($n, $h) expected ($rows, $hash)")
    }
    assert(bad.isEmpty, "sf0.01 golden drift:\n" + bad.mkString("\n"))
  }

  test("no-oracle queries match their committed golden pins") {
    assert(sf == tools.Golden.PinSf,
      s"pin corpus drift: this suite runs at $sf but the committed pins " +
        s"bind ${tools.Golden.PinSf} — regenerate pins and update both")
    val bad = goldenPins.toSeq.sortBy(_._1).flatMap { case (name, (rows, hash)) =>
      val (n, h) = tools.Golden.checksum(SparkEntry.queries(name)(spark, sf))
      if (n == rows && h == hash) None
      else Some(s"$name: got ($n, $h) expected ($rows, $hash)")
    }
    assert(bad.isEmpty, "golden drift:\n" + bad.mkString("\n"))
  }

  /** Unit-visible pins for ORACLED queries whose oracle only gates
    * through the round-close pipeline (r17 ADVICE: dropping the pack
    * checksums when the recursive-CTE oracles landed left plain
    * `sbt test` blind to pack regressions until the next verify run).
    * Deliberately OUTSIDE goldenPins — the pin-set test asserts that
    * map equals the no-oracle set exactly. Regenerate with
    * `runMain graft.tools.Probe pins q_pack_sequences,q_pack_bucketed`. */
  val oracledPins: Map[(String, String), (Long, String)] = Map(
    (tools.Golden.PinSf, "q_dedup_embedding") -> (7L, "e09d44a024cb199c"),
    (tools.Golden.PinSf, "q_dedup_embedding_resolve") -> (14L, "ed728c76271126b8"),
    (tools.Golden.PinSf, "q_knn_lsh") -> (80L, "a052c3c4af5ca8e2"),
    (tools.Golden.PinSf2, "q_dedup_embedding") -> (13L, "7684178536df751e"),
    (tools.Golden.PinSf2, "q_dedup_embedding_resolve") -> (26L, "100ed6f3f25a85e7"),
    (tools.Golden.PinSf2, "q_knn_lsh") -> (80L, "17d346af0c8467bf"),
    (tools.Golden.PinSf, "q_dedup_embedding_cells") -> (4L, "9871dc627b1e65b4"),
    (tools.Golden.PinSf, "q_knn_ivf") -> (80L, "1ceeaf187944502f"),
    (tools.Golden.PinSf, "q_knn_ivfpq") -> (80L, "1ceeaf187944502f"),
    (tools.Golden.PinSf, "q_knn_opq") -> (80L, "cad079626365e9f9"),
    (tools.Golden.PinSf, "q_knn_pq") -> (80L, "cad079626365e9f9"),
    (tools.Golden.PinSf2, "q_dedup_embedding_cells") -> (13L, "540ea69ca5f12862"),
    (tools.Golden.PinSf2, "q_knn_ivf") -> (80L, "013672e344247301"),
    (tools.Golden.PinSf2, "q_knn_ivfpq") -> (80L, "013672e344247301"),
    (tools.Golden.PinSf2, "q_knn_opq") -> (80L, "d9ce3a408cea0d95"),
    (tools.Golden.PinSf2, "q_knn_pq") -> (80L, "05a4a9eea771547f"),
    // q_text_bpe's pins displaced here when its checker oracle landed
    // (r20) — same move as the r19 ANN checker rows
    (tools.Golden.PinSf, "q_text_bpe") -> (500L, "8b15f235c701a951"),
    (tools.Golden.PinSf2, "q_text_bpe") -> (500L, "06989a8f3ed345f3"),
    (tools.Golden.PinSf, "q_pack_sequences") -> (500L, "f19b9696c43a2075"),
    (tools.Golden.PinSf, "q_pack_bucketed") -> (500L, "b1431754af0aa037"),
    (tools.Golden.PinSf2, "q_pack_sequences") -> (500L, "bb66d3cd0a9f4cb0"),
    (tools.Golden.PinSf2, "q_pack_bucketed") -> (500L, "dee3baa8cc050b78"))

  test("oracled-pin family matches its committed unit-visible pins at both SFs") {
    val bad = oracledPins.toSeq.sortBy(_._1).flatMap { case ((dir, name), (rows, hash)) =>
      val (n, h) = tools.Golden.checksum(SparkEntry.queries(name)(spark, dir))
      if (n == rows && h == hash) None
      else Some(s"$name@$dir: got ($n, $h) expected ($rows, $hash)")
    }
    assert(bad.isEmpty, "pack pin drift:\n" + bad.mkString("\n"))
  }

  test("media hash store serves EXACTLY what a from-scratch decode derives") {
    import operators.Multimodal
    val media = Multimodal.corpus(spark, sf)
    val pairs: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
      ("image_phash", Multimodal.imageHashesServe(spark, sf),
        Multimodal.imageHashes(spark, media).toDF()),
      ("audio_phash", Multimodal.audioHashesServe(spark, sf),
        Multimodal.audioHashes(spark, media).toDF()),
      ("video_mosaic", Multimodal.mosaicHashesServe(spark, sf),
        Multimodal.mosaicHashes(spark, media).toDF()),
      ("frame_hashes", Multimodal.frameHashesServe(spark, sf),
        Multimodal.frameHashes(spark, media).toDF()),
      ("video_dedup", Multimodal.videoDedupServe(spark, sf),
        Multimodal.videoDedup(spark, media)),
      ("media_crossmodal", Multimodal.crossModalServe(spark, sf),
        Multimodal.crossModalMatches(spark, media)))
    val bad = pairs.flatMap { case (name, served, scratch) =>
      val s = tools.Golden.checksum(served)
      val f = tools.Golden.checksum(scratch)
      if (s == f) None else Some(s"$name: served $s != from-scratch $f")
    }
    assert(bad.isEmpty, "serve/from-scratch drift:\n" + bad.mkString("\n"))
  }

  test("media hash append: delta-only decode equals the full rebuild") {
    import org.apache.spark.sql.functions.col
    import operators.{Multimodal, ServingStore, Similarity}
    val tmp = java.nio.file.Files.createTempDirectory("graftmediaappend").toString
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite")
      .parquet(tmp + "/documents.parquet")
    Multimodal.ensureMediaHashes(spark, tmp).count()
    val preFp = Multimodal.mediaHashesFingerprint(spark, tmp)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    // refusal 1: the delta has not landed in dir — stamping merged state
    // as fresh for the pre-delta corpus would serve wrong state forever
    val notLanded = intercept[IllegalArgumentException] {
      Multimodal.appendMediaHashes(spark, tmp, delta, preFp)
    }
    assert(notLanded.getMessage.contains("fingerprint unchanged"),
      s"wrong refusal: ${notLanded.getMessage}")
    delta.write.mode("append").parquet(tmp + "/documents.parquet")
    // refusal 2: a stale expectedFp proves the caller snapshotted a
    // different store state — rebuild, don't append
    val staleFp = intercept[IllegalArgumentException] {
      Multimodal.appendMediaHashes(spark, tmp, delta, preFp + 1)
    }
    assert(staleFp.getMessage.contains("different corpus state"),
      s"wrong refusal: ${staleFp.getMessage}")
    Multimodal.appendMediaHashes(spark, tmp, delta, preFp)
    val path = Similarity.servePath("media_hashes_", tmp)
    val stamped = ServingStore.readSidecar("media-hashes", path)
    val served = Multimodal.ensureMediaHashes(spark, tmp)
    // the append stamped the post-delta fingerprint: ensure must SERVE
    // the merged generation, not rebuild a new one
    assert(ServingStore.readSidecar("media-hashes", path) == stamped,
      "ensure after append rebuilt instead of serving the merged generation")
    val s = tools.Golden.checksum(served)
    val f = tools.Golden.checksum(
      Multimodal.hashRows(spark, Multimodal.corpus(spark, tmp)).toDF())
    assert(s == f, s"append-merged store $s != full-rebuild decode $f")
    // refusal 3: re-appending already-stored documents would double
    // their rows. Snapshot the stamped fp FIRST and land a fresh file
    // before the call — otherwise the cheaper landed-delta refusal
    // fires before the key probe (by design: a refused append never
    // pays a decode)
    val stampedFp = Multimodal.mediaHashesFingerprint(spark, tmp)
    docs.filter(col("doc_id") === 0).withColumn("doc_id", col("doc_id") + 999999L)
      .write.mode("append").parquet(tmp + "/documents.parquet")
    val twice = intercept[IllegalArgumentException] {
      Multimodal.appendMediaHashes(spark, tmp, delta.limit(5), stampedFp)
    }
    assert(twice.getMessage.contains("appended twice"),
      s"wrong refusal: ${twice.getMessage}")
  }

  test("planted media ground truth is FOUND: duplicate-ingest video pairs " +
      "and thumbnail cross-modal extracts") {
    import org.apache.spark.sql.functions.col
    import operators.Multimodal
    // every planted video duplicate (same payload, id + DupIdOffset,
    // same modality by payload-hash kind) must surface as a pair
    val ingest = Multimodal.plantIngestDups(
      Multimodal.fromDocuments(Tables.documents(spark, sf)))
    val plantedVideos = ingest
      .filter(col("meta.kind") === "video" && col("media_id") >= Multimodal.DupIdOffset &&
        col("media_id") < Multimodal.ThumbIdOffset)
      .count()
    assert(plantedVideos > 0, "derivation planted no video duplicates at the pin SF")
    val vd = SparkEntry.queries("q_video_dedup")(spark, sf)
    val foundPlanted = vd
      .filter(col("media_b") - col("media_a") === Multimodal.DupIdOffset).count()
    assert(foundPlanted == plantedVideos,
      s"video dedup found $foundPlanted of $plantedVideos planted duplicate pairs")
    // planted thumbnail extracts: EVERY one must surface cross-modally.
    // Planted ids transcode through lossless containers only (r13
    // advice — the general round-robin's JPEG/GIF pixel drift broke
    // the exact dHash join and forced this down to an at-least-half
    // bound), so each planted image decodes to exactly its source
    // video's frame 0 and the match is a hard assertion.
    val plantedThumbs = ingest.filter(col("media_id") >= Multimodal.ThumbIdOffset).count()
    assert(plantedThumbs > 0, "derivation planted no thumbnail extracts at the pin SF")
    val cm = SparkEntry.queries("q_media_crossmodal")(spark, sf)
    val foundThumbs = cm
      .filter(col("image_id") - col("video_id") === Multimodal.ThumbIdOffset)
      .filter(col("first_frame_idx") === 0)
      .count()
    assert(foundThumbs == plantedThumbs,
      s"cross-modal found only $foundThumbs of $plantedThumbs planted thumbnails")
  }
}
