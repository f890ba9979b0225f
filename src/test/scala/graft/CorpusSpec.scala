package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Correctness of the dedup / similarity / text operators — these carry the
  * semantics the DuckDB oracle can't express (hash signatures, LSH).
  */
class CorpusSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local("graft-corpus-test")
  import scala.jdk.CollectionConverters._

  override def afterAll(): Unit = spark.stop()

  /** Tiny corpus with exact and near duplicates planted. */
  lazy val planted = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val nearDup = base.replace("kappa", "lambda") // differs in 3 words of 30
    val other = "one two three four five six seven eight nine ten " * 3
    spark.createDataFrame(
      Seq((1L, base), (2L, base), (3L, nearDup), (4L, other))
        .map { case (i, t) => (i, t.trim) })
      .toDF("doc_id", "text")
  }

  test("ngram jaccard finds planted near-dups with correct similarity") {
    val pairs = operators.Dedup.ngramJaccard(planted, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val exact = pairs.find(p => p._1 == 1 && p._2 == 2)
    assert(exact.exists(_._3 == 1.0), s"exact dup pair missing: $pairs")
    assert(pairs.exists(p => p._1 == 1 && p._2 == 3 && p._3 > 0.3 && p._3 < 1.0))
    assert(!pairs.exists(p => p._2 == 4 || p._1 == 4))
  }

  test("minhash signatures are identical for identical docs, close for near-dups") {
    val sigs = operators.Dedup.minhashSignatures(planted)
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong).toVector).toMap
    assert(sigs(1L) == sigs(2L))
    // 3 of 30 words changed alters ~15 of 26 shingles -> true J ~= 0.27,
    // so expect roughly a quarter of slots to agree (far above the ~0
    // agreement of unrelated docs).
    val agree = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree >= 4 && agree < operators.Dedup.MinHashK, s"$agree slots agree")
    val unrelated = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(unrelated < agree, s"unrelated doc agrees more ($unrelated >= $agree)")
  }

  test("minhash dedup surfaces exact and near pairs, not unrelated docs") {
    val pairs = operators.Dedup.minhashDedup(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs at distance 0; near-dups within threshold") {
    val pairs = operators.Dedup.simhashDedup(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs.exists(p => p._1 == 1 && p._2 == 2 && p._3 == 0))
  }

  test("knn brute: top neighbor of each query is its most-similar vector") {
    val res = operators.Similarity.knnBrute(spark, sf, k = 3)
    val top = res.filter("rk = 1")
    assert(top.count() == res.select("query_id").distinct().count())
    assert(res.filter("cosine < -1.0001 OR cosine > 1.0001").count() == 0)
    // ranks within each query strictly ordered by cosine desc
    assert(res.filter("rk > 1").join(
      top.select(col("query_id"), col("cosine").as("c1")), "query_id")
      .filter("cosine > c1").count() == 0)
  }

  test("knn lsh returns a subset ranking consistent with brute force") {
    val brute = operators.Similarity.knnBrute(spark, sf, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.Similarity.knnLsh(spark, sf, k = 10)
    // every LSH hit is a real vector pair with correct cosine sign bounds
    assert(lsh.filter("cosine < -1.0001 OR cosine > 1.0001").count() == 0)
    // recall over the evaluated queries should be nontrivial (>30%)
    val hits = lsh.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).count(brute.contains)
    assert(hits * 10 >= 3 * brute.size / 8 , s"LSH recall too low: $hits of ${brute.size}")
  }

  test("component resolution assigns the min id of each planted dup cluster") {
    val pairs = operators.Dedup.ngramJaccard(planted, threshold = 0.3)
      .select("doc_a", "doc_b")
    val resolved = operators.Dedup.resolveComponents(pairs, verify = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1,2,3 form one cluster (1-2 exact, 1-3 near) -> canonical 1
    assert(resolved(1L) == 1L && resolved(2L) == 1L && resolved(3L) == 1L)
    assert(!resolved.contains(4L), "doc 4 has no dup pair and no component")
  }

  test("component resolution: 1k-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // a path graph is the adversarial case for min-label propagation
    // (diameter rounds); large-star/small-star must stay logarithmic.
    // driverBound = 0 forces the distributed loop (the default bound
    // would solve 999 edges on the driver and skip the rounds under test)
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val resolved = operators.Dedup.resolveComponents(pairs, verify = true,
      driverBound = 0L)
    assert(resolved.count() == 1000)
    assert(resolved.filter(col("canonical_id") =!= 1L).count() == 0)
    assert(operators.Dedup.lastResolveRounds < 20,
      s"chain took ${operators.Dedup.lastResolveRounds} rounds")
  }

  test("simhash hot-bucket cap bounds degenerate chunk joins") {
    import spark.implicits._
    // 1000 identical docs -> one simhash -> every 16-bit chunk bucket holds
    // all 1000 docs; without the cap the pigeonhole join is quadratic
    // (~500k candidate pairs). All buckets exceed the cap and are dropped.
    val degenerate = (1L to 1000L)
      .map(i => (i, "same words repeated here forever and ever"))
      .toDF("doc_id", "text")
    val pairs = operators.Dedup.simhashDedup(degenerate)
    assert(pairs.count() == 0,
      "hot chunk buckets must be dropped, not joined quadratically")
  }

  test("band hot-bucket cap bounds degenerate LSH joins without losing capped pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1200 identical docs -> identical minhash signatures -> every band
    // bucket holds all 1200; without the cap the band join is quadratic
    // (~720k candidate pairs). Every bucket exceeds the cap, so the
    // all-pairs expansion is refused — but the cluster must NOT vanish
    // (r13 advice: keep-one-copy downstream would keep all 1200):
    // the bucket's representative star pairs doc 1 with each of the
    // other 1199, linear in cluster size, one component.
    val degenerate = (1L to 1200L)
      .map(i => (i, "same words repeated here forever and ever more"))
      .toDF("doc_id", "text")
    val degeneratePairs = operators.Dedup.minhashDedup(degenerate)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(degeneratePairs == (2L to 1200L).map(m => (1L, m)).toSet,
      s"expected the 1199-pair representative star, got ${degeneratePairs.size} pairs")
    // survival-mask discipline: a pair whose FIRST shared band is hot
    // must still be emitted at its first surviving band, exactly once —
    // NOT again through the hot bucket's star. Hand-built (id, bks)
    // frames: ids 1/2 share band 0 (hot: 600 fillers share its bucket)
    // AND band 1 (cold) — (1,2) surfaces once via band 1, while the hot
    // band-0 bucket contributes its star (rep id 1 x each filler; the
    // filler pairs share no surviving band).
    val fillers = (10L until 610L).map(i => (i, Seq(7L, 100L + i, 10000L + i)))
    val pair = Seq((1L, Seq(7L, 9L, 301L)), (2L, Seq(7L, 9L, 302L)))
    val ids = (fillers ++ pair).toDF("id", "bks")
    val got = operators.Dedup.firstSharedBandPairs(ids, 3, bucketCap = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.length == got.distinct.length,
      s"capped emission duplicated pairs: ${got.diff(got.distinct)}")
    assert(got.toSet ==
      (Set((1L, 2L)) ++ (10L until 610L).map(f => (1L, f))),
      s"capped emission lost the surviving pair or the hot star: ${got.size} pairs")
  }

  test("embedding dedup blockers: recall quantified against exact cosine ground truth") {
    // r13 verdict #8: the ANN ladder carries recall_at_k in every row;
    // the dedup BLOCKERS (LSH bands, cells) emitted pairs with no
    // recall figure. Quantify both against the exact all-pairs cosine
    // ground truth at the pin corpus: precision is 1 by construction
    // (both verify candidates with exact cosine), so blocking quality
    // IS recall — the cells variant (the at-scale path) must hold >= 0.9.
    val dir = tools.Golden.PinSf2
    val vecs = spark.read.parquet(dir + "/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    val exact = (for {
      i <- vecs.indices.iterator; j <- (i + 1) until vecs.length
      if cos(vecs(i)._2, vecs(j)._2) >= 0.45
    } yield {
      val (a, b) = (vecs(i)._1, vecs(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(exact.nonEmpty, "no exact pairs at 0.45 — the recall bound is vacuous")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cells = pairsOf(operators.Similarity.embeddingDedupCells(spark, dir))
    val lsh = pairsOf(operators.Similarity.embeddingDedup(spark, dir))
    assert(cells.subsetOf(exact) && lsh.subsetOf(exact),
      "verified pairs outside the exact ground truth — precision broke")
    val cellsRecall = cells.size.toDouble / exact.size
    val lshRecall = lsh.size.toDouble / exact.size
    info(f"exact=${exact.size} cells recall=$cellsRecall%.3f lsh recall=$lshRecall%.3f")
    assert(cellsRecall >= 0.9,
      f"cells blocking recall $cellsRecall%.3f < 0.9 against ${exact.size} exact pairs")
  }

  test("idf-simhash drift valve: stale weights serve bounded deltas, typed refusal past the bound") {
    import operators.{Dedup, ServingStore, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graftidfvalve").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").localCheckpoint()
    val n = docs.count()
    // ~6% delta: inside the SimhashIdfMaxGrowth=0.10 staleness bound
    val cut = docs.stat.approxQuantile("doc_id", Array(0.94), 0.0)(0)
    val base = docs.filter(col("doc_id") <= cut)
    val delta = docs.filter(col("doc_id") > cut).localCheckpoint()
    base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // full build over the base corpus (weights + signatures)
    val basePairs = Dedup.simhashIdfDedup(spark, dir).count()
    val wPath = Dedup.idfWeightsServePath(dir)
    val wBefore = ServingStore.readSidecar("simhash-idf-weights", wPath)
      .getOrElse(fail("no weight generation after the full build"))
    val preFp = Similarity.corpusFingerprint(spark, dir, "documents.parquet")
    // land the bounded delta and append THROUGH the valve
    delta.write.mode("append").parquet(s"$dir/documents.parquet")
    Dedup.appendSimhashIdf(spark, dir, delta, preFp)
    // the valve's whole point: the WEIGHT generation did not move
    assert(ServingStore.readSidecar("simhash-idf-weights", wPath)
      .contains(wBefore),
      "bounded append must serve the STALE weight generation, not retrain")
    // the serve path picks the appended signatures up without a rebuild
    // (sigs store restamped to the post-delta fingerprint) and still
    // does not touch the weights
    val servedPairs = Dedup.simhashIdfDedup(spark, dir).count()
    assert(servedPairs >= basePairs, "appended corpus lost served pairs")
    assert(ServingStore.readSidecar("simhash-idf-weights", wPath)
      .contains(wBefore), "serve after append retrained the weights")
    // QUANTIFIED drift: signatures under the stale weights vs a fresh
    // full retrain over the post-delta corpus — the staleness the
    // bound admits must leave the overwhelming share of signatures
    // bit-identical (the SimhashIdfMaxGrowth scaladoc's figure)
    val sigsGen = ServingStore.readSidecar("simhash-idf-sigs",
      Similarity.servePath("simhash_idf_sigs_", dir))
      .getOrElse(fail("no signature generation after append"))._2
    val served = spark.read.parquet(sigsGen)
      .select(col("doc_id"), col("simhash").as("served"))
    val fresh = Dedup.simhashIdfSignatures(Tables.documents(spark, dir))
      .select(col("doc_id"), col("simhash").as("fresh"))
    val joined = served.join(fresh, Seq("doc_id")).localCheckpoint()
    val total = joined.count().toDouble
    val same = joined.filter(col("served") === col("fresh")).count()
    info(f"drift-valve signature stability at growth ${ (n - base.count()).toDouble / base.count() }%.3f: " +
      f"$same of ${total.toLong} (${same / total}%.4f)")
    assert(same / total >= 0.95,
      f"stale-weight signatures drifted past the bound's contract: ${same / total}%.4f < 0.95")
    // past the bound: a >10%-growth delta draws the TYPED refusal and
    // the serve path then retrains under the lock
    val big = docs.select((col("doc_id") + 10000000L).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
      .limit((n / 5).toInt).localCheckpoint()
    val preFp2 = Similarity.corpusFingerprint(spark, dir, "documents.parquet")
    big.write.mode("append").parquet(s"$dir/documents.parquet")
    intercept[ServingStore.ModelDriftRefusal] {
      Dedup.appendSimhashIdf(spark, dir, big, preFp2)
    }
    Dedup.simhashIdfDedup(spark, dir).count()
    assert(!ServingStore.readSidecar("simhash-idf-weights", wPath)
      .contains(wBefore),
      "post-refusal serve must RETRAIN the weights for the grown corpus")
  }

  test("text dedup blockers: minhash banding recall vs exact Jaccard ground truth") {
    // r14 verdict #4: the embedding blockers carry a quantified recall
    // spec; extend the discipline to the text blockers. Ground truth is
    // the exact all-pairs Jaccard over the kernel's own shingle sets
    // (500-doc pin corpus — 125k pairs, driver-side). The banding
    // blocker's recall over true >= 0.7 pairs must clear the theoretical
    // floor for the (Bands, RowsPerBand) choice (1-(1-j^r)^b ~= 0.89 at
    // j = 0.7, higher above); drops are observed, not silent.
    val dir = tools.Golden.PinSf2
    val docs = Tables.documents(spark, dir)
    val sets = operators.Dedup.shingleSets(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    val exact = (for {
      i <- sets.indices.iterator; j <- (i + 1) until sets.length
      inter = (sets(i)._2 & sets(j)._2).size
      union = sets(i)._2.size + sets(j)._2.size - inter
      if union > 0 && inter.toDouble / union >= 0.7
    } yield {
      val (a, b) = (sets(i)._1, sets(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(exact.nonEmpty, "no exact-Jaccard pairs at 0.7 — the recall bound is vacuous")
    // threshold 0 disables the estimate filter: the output IS the
    // banding blocker's candidate set
    val blocked = operators.Dedup.minhashDedup(docs, threshold = 0.0)
      .select("doc_a", "doc_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    val hits = exact.count(blocked)
    val recall = hits.toDouble / exact.size
    info(f"minhash banding: exact(j>=0.7)=${exact.size} blocked-hits=$hits recall=$recall%.3f")
    assert(recall >= 0.85,
      f"banding recall $recall%.3f < 0.85 over ${exact.size} exact pairs " +
        f"(${exact.size - hits} dropped)")
  }

  test("text dedup blockers: simhash chunking recall vs exact hamming ground truth") {
    // same discipline for the pigeonhole chunk blocker: ground truth is
    // the exact all-pairs hamming distance over the kernel's own 64-bit
    // signatures. The 16-bit-chunk pigeonhole is COMPLETE for distance
    // <= HammingMax by construction, so any miss is a hot-bucket-cap
    // drop — the recall floor pins how much the valve actually costs.
    val dir = tools.Golden.PinSf2
    val docs = Tables.documents(spark, dir)
    val sigs = operators.Dedup.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val exact = (for {
      i <- sigs.indices.iterator; j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= operators.Dedup.HammingMax
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(exact.nonEmpty, "no exact hamming pairs — the recall bound is vacuous")
    val found = operators.Dedup.simhashDedup(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    assert(found.subsetOf(exact),
      "simhash emitted a pair beyond HammingMax — the verifier broke")
    val hits = exact.count(found)
    val recall = hits.toDouble / exact.size
    info(f"simhash chunking: exact(h<=${operators.Dedup.HammingMax})=${exact.size} " +
      f"hits=$hits recall=$recall%.3f")
    assert(recall >= 0.9,
      f"chunking recall $recall%.3f < 0.9 over ${exact.size} exact pairs " +
        f"(${exact.size - hits} cap-dropped)")
  }

  test("embedding dedup switches to the cells blocking above the band-saturation bound") {
    import spark.implicits._
    // 8100 vectors (> LshSaturationBound = 8000): the fixed 16-bucket
    // band space saturates (every bucket ~8100/16 >> BandBucketCap), so
    // the registered query must delegate to the corpus-adaptive cells
    // blocking and keep finding the planted exact-duplicate pairs —
    // r13's registered LSH variant served 0 here (disclosed vacuity).
    val dir = java.nio.file.Files.createTempDirectory("graftswitch").toString
    val rnd = new scala.util.Random(7)
    val base = (0L until 8000L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat), 0))
    val planted = (0 until 100).map(j => (100000L + j, base(j * 79)._2, 0))
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(dir + "/embeddings.parquet")
    val got = operators.Similarity.embeddingDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cells = operators.Similarity.embeddingDedupCells(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == cells,
      s"above the saturation bound the query must BE the cells blocking " +
        s"(got ${got.size} vs cells ${cells.size} pairs)")
    val plantedPairs = (0 until 100).map(j => (j * 79L, 100000L + j)).toSet
    assert(plantedPairs.subsetOf(got),
      s"planted duplicate pairs lost: ${(plantedPairs -- got).take(5)}")
  }

  test("idf simhash keeps true dups and rejects boilerplate-driven false pairs") {
    import spark.implicits._
    // 40 shared boilerplate words dominate the unweighted signature; each
    // doc differs only in 3 content words; doc 21 is a true dup of doc 1
    val stop = (1 to 40).map(i => s"stopword$i").mkString(" ")
    val docs = (1L to 20L).map { i =>
      (i, s"$stop unique${i}a unique${i}b unique${i}c")
    } :+ (21L, s"$stop unique1a unique1b unique1c")
    val df = docs.toDF("doc_id", "text")
    val plain = operators.Dedup.simhashDedup(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idf = operators.Dedup.simhashIdfDedup(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idf == Set((1L, 21L)),
      s"idf must yield exactly the true dup pair, got $idf")
    assert(plain.contains((1L, 21L)))
    assert(plain.size > idf.size,
      s"unweighted signatures should admit boilerplate false pairs here ($plain)")
  }

  test("ivf knn: probes find high-recall neighbors with valid ranks") {
    val brute = operators.Similarity.knnBrute(spark, sf, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = operators.Similarity.knnIvf(spark, sf, k = 10)
    val got = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length, "duplicate neighbors emitted")
    val hits = got.count(brute.contains)
    assert(hits * 4 >= brute.size, s"IVF recall too low: $hits of ${brute.size}")
  }

  test("corpus mix downsamples skewed sources toward the smallest-source quota") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graftmix").toString
    val docs = (
      (1L to 100L).map(i => (i, s"alpha doc number $i content", "big")) ++
      (101L to 150L).map(i => (i, s"beta doc number $i content", "mid")) ++
      (151L to 160L).map(i => (i, s"gamma doc number $i content", "small")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val mix = operators.TextAnalysis.corpusMix(spark, tmp)
    val kept = mix.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // quota = ceil(10 * 0.6) = 6 per source; hash selection is binomial
    // around it — bound loosely but meaningfully
    Seq("big", "mid", "small").foreach { s =>
      assert(kept.getOrElse(s, 0L) >= 1 && kept(s) <= 15,
        s"source $s kept ${kept.getOrElse(s, 0L)} of quota ~6")
    }
    // skew actually flattened: the 10x source no longer dominates
    assert(kept("big") < 20, s"big source not downsampled: $kept")
    // deterministic: same inputs -> identical selection
    val again = operators.TextAnalysis.corpusMix(spark, tmp)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again == mix.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("sequence packing: every doc exactly once, bins within budget, dense fill") {
    val packed = operators.TextAnalysis.packSequences(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(packed.length == docs, "every doc must be packed exactly once")
    assert(packed.map(_.getLong(0)).distinct.length == packed.length)
    val byBin = packed.groupBy(_.getLong(2))
    byBin.foreach { case (bin, rows) =>
      val total = rows.map(_.getInt(1).toLong).sum
      assert(total == rows.map(_.getLong(3)).max,
        s"bin $bin: running fill inconsistent with token sum")
      // a bin may exceed the budget only as a single oversized doc
      assert(total <= operators.TextAnalysis.PackBudget || rows.length == 1,
        s"bin $bin over budget with ${rows.length} docs")
    }
    // the packer must actually pack: multi-doc bins exist and average
    // fill of within-budget bins clears half the budget
    assert(byBin.exists(_._2.length > 1), "no multi-doc bins — not packing")
    val fills = byBin.values.filter(_.length > 1)
      .map(_.map(_.getInt(1).toLong).sum).toSeq
    assert(fills.sum / fills.size > operators.TextAnalysis.PackBudget / 2,
      s"packed bins too sparse: avg ${fills.sum / fills.size}")
  }

  test("ivf inverted-list index: partition pruning at the scan, results equal in-memory ivf") {
    val ix = operators.Similarity.ivfIndex(spark, sf)
    val indexed = operators.Similarity.knnIvfIndexed(spark, sf, ix.gen.path("lists"), ix.centroids)
    // the probe filter must prune PARTITIONS (cid is the directory key),
    // not merely filter rows after a full scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"), s"probe not pruning partitions:\n$plan")
    // same corpus + same quantizer -> identical results to the in-memory form
    val direct = operators.Similarity.knnIvf(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaIndex = indexed
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaIndex == direct, "indexed search diverged from in-memory IVF")
  }

  test("sampled lloyd fit: deterministic, partition-invariant, recovers planted clusters") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 well-separated planted clusters x 200 vectors; a 50-per-centroid
    // sample cap (cap = 150 < 600) forces the hash-range sample to engage
    val corpus = (0L until 600L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(8)(d => (if (d == c) 10f else 0f) + (i % 7) * 0.01f).toSeq)
    }.toDF("vec_id", "vec")
    def fit(df: org.apache.spark.sql.DataFrame) =
      operators.Similarity.ivfFit(df, nList = 3, maxFitPointsPerCentroid = 50)
        .map(_.toSeq).toSeq
    val a = fit(corpus)
    val b = fit(corpus.repartition(13, col("vec_id")))
    assert(a == b, "sampled fit is partition-dependent")
    // each planted cluster direction is some centroid's dominant axis
    val dominant = a.map(c => c.indexOf(c.max)).toSet
    assert(dominant == Set(0, 1, 2),
      s"sampled fit missed a planted cluster: dominant axes $dominant")
    // unsampled path unchanged when n is under the cap
    val small = corpus.limit(100)
    assert(operators.Similarity.ivfFit(small, nList = 3).map(_.toSeq).toSeq ==
      operators.Similarity.ivfFit(small, nList = 3, maxFitPointsPerCentroid = Int.MaxValue)
        .map(_.toSeq).toSeq,
      "cap changed the fit on a corpus it should never engage for")
  }

  test("driver-side probe ranking is bit-identical to the expression form") {
    import org.apache.spark.sql.functions.col
    val full = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("vec"))
    val cents = operators.Similarity.ivfFit(full)
    val nProbe = operators.Similarity.IvfNProbe
    val exprProbes = full.filter(col("vec_id") < 8)
      .select(col("vec_id"),
        operators.Similarity.probeIdxByMargin(cents, col("vec"), nProbe).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val driverProbes = full.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("vec")).collect()
      .map(r => r.getLong(0) ->
        operators.Similarity.probeCellsDriver(cents, r.getSeq[Float](1).toArray, nProbe).toList)
      .toMap
    assert(driverProbes == exprProbes,
      s"driver probe order diverged from expression form:\n$driverProbes\nvs\n$exprProbes")
  }

  test("ivf serve: cold call builds the generation, warm call reuses it, both equal in-memory ivf") {
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    val servePath = operators.Similarity.ivfServePath(sf)
    rmrf(new java.io.File(servePath))
    rmrf(new java.io.File(servePath + "_model"))
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = resultSet(operators.Similarity.knnIvf(spark, sf))
    val cold = resultSet(operators.Similarity.knnIvfServe(spark, sf))
    assert(cold == direct, "cold serve (fresh build) diverged from in-memory IVF")
    // warm call must NOT rewrite the generation: the sidecar-named
    // generation and every one of its files untouched
    def sidecar() = operators.ServingStore.readSidecar("ivf-index", servePath).get
    val (fp, gen) = sidecar()
    val stamp = genStamp(gen)
    assert(stamp.keys.exists(_.startsWith("model/")) && stamp.keys.exists(_.startsWith("lists/cid=")))
    val warm = resultSet(operators.Similarity.knnIvfServe(spark, sf))
    assert(warm == direct, "warm serve diverged from in-memory IVF")
    assert(sidecar() == ((fp, gen)) && genStamp(gen) == stamp,
      "warm serve rewrote the index generation instead of reusing it")
    // staleness is keyed on the corpus CONTENT fingerprint, not row count:
    // a sidecar whose fingerprint no longer matches (an equal-row-count
    // corpus swap) must trigger a rebuild, and the rebuilt serve must
    // still equal the in-memory result
    operators.ServingStore.writeSidecar(servePath, fp + 1, gen)
    val rebuilt = resultSet(operators.Similarity.knnIvfServe(spark, sf))
    assert(rebuilt == direct, "post-rebuild serve diverged from in-memory IVF")
    val (fpAfter, genAfter) = sidecar()
    assert(fpAfter == fp && genAfter != gen,
      "fingerprint mismatch did not trigger an index rebuild")
  }

  test("ANN ladder emits recall@k vs persisted ground truth, above pinned floors") {
    val k = 10
    val brute = operators.Similarity.knnBrute(spark, sf, k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def check(name: String, df: org.apache.spark.sql.DataFrame, floor: Double): Unit = {
      val rows = df.select("query_id", "neighbor_id", "recall_at_k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.nonEmpty, s"$name returned nothing")
      // the emitted recall equals an independent per-query computation
      rows.groupBy(_._1).foreach { case (q, qRows) =>
        val want = qRows.count(t => brute.contains((t._1, t._2))).toDouble / k
        val emitted = qRows.map(_._3).distinct.toSeq
        assert(emitted == Seq(want),
          s"$name query $q: emitted recall ${emitted.mkString(",")} != computed $want")
      }
      // aggregate recall floor (hits over the full ground truth)
      val hits = rows.count(t => brute.contains((t._1, t._2)))
      assert(hits.toDouble / brute.size >= floor,
        s"$name aggregate recall ${hits.toDouble / brute.size} below $floor")
    }
    check("lsh", operators.Similarity.knnLsh(spark, sf, k), 0.3)
    check("ivf", operators.Similarity.knnIvfServe(spark, sf, k), 0.25)
    check("pq", operators.Similarity.knnPqServe(spark, sf, k), 0.9)
    check("opq", operators.Similarity.knnOpqServe(spark, sf, k), 0.9)
    check("ivfpq", operators.Similarity.knnIvfPqServe(spark, sf, k), 0.25)
    // ground truth is generation-keyed: a second call reuses the sidecar
    val gtDir = new java.io.File(operators.Similarity.gtServePath(sf, k))
    val stamp = gtDir.listFiles.map(f => f.getName -> f.lastModified).toMap
    operators.Similarity.knnLsh(spark, sf, k).count()
    assert(gtDir.listFiles.map(f => f.getName -> f.lastModified).toMap == stamp,
      "warm recall path rewrote the ground-truth generation")
  }

  /** (relative path, mtime) of every data file under a generation dir —
    * _SUCCESS markers and .crc shadows excluded. */
  private def genStamp(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith("_") ||
          f.getFileName.toString.startsWith("."))
        .map(f => root.relativize(f).toString -> f.toFile.lastModified).toMap
    } finally s.close()
  }

  test("postings serve: cold builds, warm reuses, catalog loss re-registers, stale fp rebuilds") {
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    val path = operators.Dedup.postingsServePath(sf)
    rmrf(new java.io.File(path)); rmrf(new java.io.File(path + "_model"))
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val direct = resultSet(operators.Dedup.ngramJaccard(spark, sf))
    val cold = resultSet(operators.Dedup.ngramJaccardServe(spark, sf))
    assert(cold == direct, "cold serve (fresh index build) diverged from the shuffle variant")
    // warm call must NOT rewrite the generation: the sidecar-named
    // generation and every one of its files untouched
    val gen = operators.Dedup.postingsGeneration(spark, sf)
    val stamp = genStamp(gen.dir)
    assert(stamp.keys.exists(_.startsWith("postings/")) && stamp.keys.exists(_.startsWith("rep/")))
    val warm = resultSet(operators.Dedup.ngramJaccardServe(spark, sf))
    assert(warm == direct, "warm serve diverged")
    assert(operators.Dedup.postingsGeneration(spark, sf).dir == gen.dir && genStamp(gen.dir) == stamp,
      "warm serve rewrote the posting index instead of reusing it")
    // a lost catalog keeps the files: the serve path — in the session
    // that already served this generation, too — must re-register the
    // existing generation, not rebuild it
    Seq("postings", "rep").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${gen.table(t)}"))
    val reregistered = resultSet(operators.Dedup.ngramJaccardServe(spark, sf))
    assert(reregistered == direct, "re-registered serve diverged")
    assert(Seq("postings", "rep").forall(t => spark.catalog.tableExists(gen.table(t))),
      "generation not re-registered")
    assert(operators.Dedup.postingsGeneration(spark, sf).dir == gen.dir && genStamp(gen.dir) == stamp,
      "catalog re-registration rewrote the generation")
    // staleness is keyed on the corpus fingerprint: a sidecar mismatch
    // (equal-row-count corpus swap) must trigger a rebuild
    val (storedFp, _) = operators.ServingStore.readSidecar("posting-index", path).get
    operators.ServingStore.writeSidecar(path, storedFp + 1, gen.dir)
    val rebuilt = resultSet(operators.Dedup.ngramJaccardServe(spark, sf))
    assert(rebuilt == direct, "post-rebuild serve diverged")
    val (fpAfter, genAfter) = operators.ServingStore.readSidecar("posting-index", path).get
    assert(fpAfter == storedFp && genAfter != gen.dir,
      "fingerprint mismatch did not trigger an index rebuild")
    // resolve shares the serve path and must equal the from-scratch resolve
    val rServe = operators.Dedup.dedupResolveServe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rDirect = operators.Dedup.dedupResolve(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rServe == rDirect, "served resolve diverged from from-scratch resolve")
  }

  test("postings append: delta-only indexing equals a from-scratch build, old buckets untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("graftappend").toString
    val docs = graft.Tables.documents(spark, sf)
    // two delta slices: a modulo cut appended from this session, then a
    // hash cut appended from the serving lane's child session
    val slice2 = pmod(xxhash64(col("doc_id")), lit(4L)) === 0
    val base = docs.filter(col("doc_id") % 5 =!= 0 && !slice2)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    base.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val gen0 = operators.Dedup.postingsGeneration(spark, tmp)
    def screenOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    // q_contamination_delta as the driver runs it (prepared-plan cache +
    // serving lane) is constructed BEFORE any append, so the lane's
    // child session resolves the posting tables of the first generation
    val lane = graft.Lane.sessionFor(spark, tmp, graft.Lane.ExpandingMaxBytes)
    assert(lane ne spark, "premise: the lane engages on the test corpus")
    def servedScreen() = screenOf(graft.SparkEntry.queries("q_contamination_delta")(spark, tmp))
    def reference() = screenOf(operators.Curation.contamination(spark, tmp))
    assert(servedScreen() == reference())
    val pre = genStamp(gen0.dir)
    // the ingest lands the delta files in the corpus dir FIRST, then the
    // index absorbs exactly that delta; the pre-delta fingerprint proves
    // the generation matches the corpus the delta extends
    val fp0 = operators.Similarity.corpusFingerprint(spark, tmp, "documents.parquet")
    delta.write.mode("append").parquet(tmp + "/documents.parquet")
    // a generation that does NOT match the pre-append corpus is stale:
    // append must refuse (full rebuild path), never re-stamp it fresh
    intercept[IllegalArgumentException] {
      operators.Dedup.appendPostings(spark, tmp, delta, expectedFp = Some(fp0 + 1))
    }
    operators.Dedup.appendPostings(spark, tmp, delta, expectedFp = Some(fp0))
    val gen1 = operators.Dedup.postingsGeneration(spark, tmp)
    assert(gen1.dir != gen0.dir, "append did not commit a new generation")
    val post = genStamp(gen1.dir)
    // the carried artifacts' files are hard links into the previous
    // generation: same name, same mtime, same inode — never rewritten
    pre.filter { case (n, _) => !n.startsWith("cls/") && !n.startsWith("docclass/") }
      .foreach { case (n, m) =>
        assert(post.get(n).contains(m), s"append rewrote existing bucket file $n")
        assert(java.nio.file.Files.isSameFile(
          java.nio.file.Paths.get(gen0.dir, n), java.nio.file.Paths.get(gen1.dir, n)),
          s"append copied $n instead of linking it")
      }
    Seq("postings/", "docstats/").foreach { a =>
      assert(post.keys.count(_.startsWith(a)) > pre.keys.count(_.startsWith(a)),
        s"append wrote no new $a files")
    }
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // append-then-serve == a from-scratch scan over the full corpus
    val served = resultSet(operators.Dedup.ngramJaccardServe(spark, tmp))
    val scratch = resultSet(operators.Dedup.ngramJaccard(spark, tmp))
    assert(served == scratch, "appended index diverged from a from-scratch scan")
    assert(served.nonEmpty, "planted near-dups missing from the appended corpus")
    // resolve rides the same appended generation
    val rServe = operators.Dedup.dedupResolveServe(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rDirect = operators.Dedup.dedupResolve(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rServe == rDirect, "resolve over appended index diverged")
    // the doc stats absorbed the delta incrementally and the
    // index-served contamination screen equals the batch scan over the
    // full appended corpus — in this session and through the lane
    assert(screenOf(operators.Curation.contaminationServe(spark, tmp)) ==
      screenOf(operators.Curation.contamination(spark, tmp)),
      "served screen over appended stats diverged from the batch scan")
    assert(servedScreen() == reference(),
      "served q_contamination_delta after an append diverged from the batch scan")
    // the serves saw the advanced fingerprint: no rebuild happened
    assert(operators.Dedup.postingsGeneration(spark, tmp).dir == gen1.dir &&
      genStamp(gen1.dir) == post, "serve after append rebuilt the generation")
    // second, hash-cut slice appended FROM the lane session while this
    // session holds resolved relations over the first append
    val fp1 = operators.Similarity.corpusFingerprint(spark, tmp, "documents.parquet")
    val delta2 = lane.read.parquet(sf + "/documents.parquet")
      .filter(col("doc_id") % 5 =!= 0 && slice2)
    delta2.write.mode("append").parquet(tmp + "/documents.parquet")
    operators.Dedup.appendPostings(lane, tmp, delta2, expectedFp = Some(fp1))
    val want = reference()
    assert(servedScreen() == want,
      "served q_contamination_delta after the lane-session append diverged")
    assert(screenOf(operators.Curation.contaminationServe(spark, tmp)) == want,
      "caller-session screen after the lane-session append diverged")
    assert(resultSet(operators.Dedup.ngramJaccardServe(spark, tmp)) ==
      resultSet(operators.Dedup.ngramJaccard(spark, tmp)),
      "caller-session pairs after the lane-session append diverged")
  }

  test("reader survival: posting frames served before an append and a compaction collect identical rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graftpostreader").toString
    val docs = graft.Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 5 =!= 0).write.mode("overwrite").parquet(tmp + "/documents.parquet")
    // a fresh Dataset over the held plan re-plans and re-scans (a second
    // action on the same Dataset could reuse its earlier shuffle output)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.map(c => col(s"`$c`")): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val heldPairs = operators.Dedup.ngramJaccardServe(spark, tmp, threshold = 0.3)
    val heldScreen = operators.Curation.contaminationServe(spark, tmp)
    val (pairs0, screen0) = (rows(heldPairs), rows(heldScreen))
    assert(pairs0.nonEmpty && screen0.nonEmpty, "premise: non-empty served frames")
    val fp0 = operators.Similarity.corpusFingerprint(spark, tmp, "documents.parquet")
    val delta = docs.filter(col("doc_id") % 5 === 0)
    delta.write.mode("append").parquet(tmp + "/documents.parquet")
    operators.Dedup.appendPostings(spark, tmp, delta, expectedFp = Some(fp0))
    assert(rows(heldPairs) == pairs0 && rows(heldScreen) == screen0,
      "a frame served before the append changed or broke after it")
    val heldAppended = operators.Dedup.ngramJaccardServe(spark, tmp, threshold = 0.3)
    val appended = rows(heldAppended)
    // a prepared plan memoized over the appended generation
    val prepared = rows(graft.SparkEntry.queries("q_dedup_ngram")(spark, tmp))
    operators.Dedup.compactPostings(spark, tmp)
    assert(rows(heldAppended) == appended,
      "a frame served before the compaction changed or broke after it")
    assert(rows(operators.Dedup.ngramJaccardServe(spark, tmp, threshold = 0.3)) == appended,
      "compaction changed query results")
    // the second compaction prunes the generation that plan read: the
    // same-fingerprint commits must have dropped it
    operators.Dedup.compactPostings(spark, tmp)
    assert(rows(graft.SparkEntry.queries("q_dedup_ngram")(spark, tmp)) == prepared,
      "a prepared plan memoized before the compactions served a pruned generation")
  }

  test("reader survival: ANN frames served before an append, a compaction and a refresh collect identical rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graftannreader").toString
    val all = graft.Tables.embeddings(spark, sf)
    all.filter(col("vec_id") % 5 =!= 0 || col("vec_id") < 8)
      .write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    // a fresh Dataset over the held plan re-plans and re-scans (a second
    // action on the same Dataset could reuse its earlier shuffle output)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.map(c => col(s"`$c`")): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // frames served before `step` must collect the same rows after it
    def survives(step: String, ivfPq: Boolean)(run: => Unit): Unit = {
      val held = Seq(operators.Similarity.knnIvfServe(spark, tmp)) ++
        (if (ivfPq) Seq(operators.Similarity.knnIvfPqServe(spark, tmp)) else Nil)
      val before = held.map(rows)
      assert(before.forall(_.nonEmpty), "premise: non-empty served frames")
      run
      assert(held.map(rows) == before, s"a frame served before the $step changed or broke after it")
    }
    val delta = all.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 8)
    survives("append", ivfPq = true) {
      val fp0 = operators.Similarity.corpusFingerprint(spark, tmp)
      delta.write.mode("append").parquet(tmp + "/embeddings.parquet")
      val vecs = delta.select(col("vec_id"), col("embedding").as("vec"))
      operators.Similarity.appendIvfPq(spark, tmp, vecs, expectedFp = Some(fp0))
      operators.Similarity.appendIvf(spark, tmp, vecs, expectedFp = Some(fp0))
    }
    survives("compaction", ivfPq = true) {
      operators.Similarity.compactIvfPq(spark, tmp)
      operators.Similarity.compactIvf(spark, tmp)
    }
    survives("refresh", ivfPq = false) {
      assert(operators.Similarity.refreshIvfIfStale(spark, tmp, staleness = 0.1),
        "premise: the appended delta is past the staleness bound")
    }
  }

  test("collapse serve: duplicate-heavy corpus equals the doc-level formulation exactly") {
    // the r17 distinct-text collapse exists for THIS shape (sf10's
    // 100-copy cliques): k-copy corpora must serve the identical pair
    // set — cross-class pairs expanded over both member lists, k-copy
    // cliques as jaccard-1.0 self pairs — and the class-graph resolve
    // must equal the doc-graph resolve
    val tmp = java.nio.file.Files.createTempDirectory("graftdupheavy").toString
    val docs = graft.Tables.documents(spark, sf)
    (0 until 5).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val direct = pairSet(operators.Dedup.ngramJaccard(spark, tmp))
    val served = pairSet(operators.Dedup.ngramJaccardServe(spark, tmp))
    assert(served == direct,
      s"collapse serve diverged on a 5-copy corpus: ${served.size} vs ${direct.size} pairs")
    // every doc has 4 exact copies: the self arm must be present and
    // dominated by jaccard-1.0 rows
    assert(served.count(_._4 == 1.0) >= 10 * served.size / 20,
      "duplicate cliques missing from the served pair set")
    val rDirect = operators.Dedup.dedupResolve(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rServed = operators.Dedup.dedupResolveServe(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rServed == rDirect, "class-graph resolve diverged from doc-graph resolve")
  }

  test("signature collapse serve: duplicate-heavy corpus equals the doc-level form exactly") {
    // the r18 distinct-SIGNATURE collapse (minhash / simhash / IDF):
    // k-copy corpora must serve the identical pair set — cross-class
    // pairs expanded over both member lists, k-copy cliques as
    // est-1.0 / hamming-0 self pairs
    val tmp = java.nio.file.Files.createTempDirectory("graftsigdup").toString
    val docs = graft.Tables.documents(spark, sf)
    (0 until 5).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val full = graft.Tables.documents(spark, tmp)

    def mSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mDirect = mSet(operators.Dedup.minhashDedup(full))
    val mServed = mSet(operators.Dedup.minhashDedup(spark, tmp))
    assert(mServed == mDirect,
      s"minhash collapse diverged on a 5-copy corpus: ${mServed.size} vs ${mDirect.size}")
    assert(mServed.count(_._3 == 1.0) >= 5000,
      "duplicate cliques missing from the served minhash pair set")

    def hSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sDirect = hSet(operators.Dedup.simhashDedup(full))
    val sServed = hSet(operators.Dedup.simhashDedup(spark, tmp))
    assert(sServed == sDirect,
      s"simhash collapse diverged on a 5-copy corpus: ${sServed.size} vs ${sDirect.size}")
    assert(sServed.count(_._3 == 0) >= 5000,
      "duplicate cliques missing from the served simhash pair set")

    val iDirect = hSet(operators.Dedup.simhashIdfDedup(full))
    val iServed = hSet(operators.Dedup.simhashIdfDedup(spark, tmp))
    assert(iServed == iDirect,
      s"IDF-simhash collapse diverged on a 5-copy corpus: ${iServed.size} vs ${iDirect.size}")
  }

  test("image collapse serve: duplicate-heavy media corpus equals the doc-level form") {
    // replicated document ids derive replicated media payloads
    // (identical payload → identical dHash), so the media twin of the
    // duplicate-heavy shape exercises the same collapse
    val tmp = java.nio.file.Files.createTempDirectory("graftimgdup").toString
    val docs = graft.Tables.documents(spark, sf)
    (0 until 3).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    def hSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val media = operators.Multimodal.corpus(spark, tmp).localCheckpoint()
    val direct = hSet(operators.Multimodal.imageDedup(spark, media))
    val served = hSet(operators.Multimodal.imageDedupServe(spark, tmp))
    assert(served == direct,
      s"image collapse diverged on a 3-copy corpus: ${served.size} vs ${direct.size}")
    assert(served.count(_._3 == 0) > 0,
      "replicated payload cliques missing from the served image pair set")
    // video and crossmodal ride the same corpus: set-collapse and
    // map-collapse must equal the doc-level forms while the doc-level
    // census stays under FrameHashCap (3 copies)
    def vSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val vDirect = vSet(operators.Multimodal.videoDedup(spark, media))
    val vServed = vSet(operators.Multimodal.videoDedupServe(spark, tmp))
    assert(vServed == vDirect,
      s"video collapse diverged on a 3-copy corpus: ${vServed.size} vs ${vDirect.size}")
    assert(vServed.nonEmpty, "replicated video cliques missing")
    def xSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val xDirect = xSet(operators.Multimodal.crossModalMatches(spark, media))
    val xServed = xSet(operators.Multimodal.crossModalServe(spark, tmp))
    assert(xServed == xDirect,
      s"crossmodal collapse diverged on a 3-copy corpus: ${xServed.size} vs ${xDirect.size}")
  }

  test("video collapse serve: replication past FrameHashCap stays lossless") {
    // the sf10 vacuity shape: at k copies > FrameHashCap (64) the
    // doc-level census drops EVERY frame hash and the inline form
    // silently emits zero pairs; the collapsed census counts distinct
    // hash SETS, so the replicated corpus keeps its full pair set
    val tmp = java.nio.file.Files.createTempDirectory("graftvidcap").toString
    val k = operators.Multimodal.FrameHashCap + 6 // 70 copies
    val base = graft.Tables.documents(spark, sf)
      .orderBy(col("doc_id")).limit(20).localCheckpoint()
    (0 until k).map(i => base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val media = operators.Multimodal.corpus(spark, tmp).localCheckpoint()
    val inline = operators.Multimodal.videoDedup(spark, media).count()
    assert(inline == 0L,
      s"premise drifted: doc-level census no longer saturates at $k copies ($inline pairs)")
    val served = operators.Multimodal.videoDedupServe(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every base video's k replicas form a clique: k*(k-1)/2 pairs each
    val vids = operators.Multimodal.frameHashes(spark, media).toDF()
      .select(col("media_id")).distinct().count()
    assert(vids > 0, "premise: the base slice derives at least one video")
    assert(served.size >= (vids / k * (k.toLong * (k - 1) / 2)).toInt,
      s"collapse under-emitted on the saturated corpus: ${served.size} pairs from $vids videos")
  }

  test("lossless collapse past the caps emits a SUPERSET of the inline valve output") {
    // r18 advice: the cap-vacuity fixes ride the collapse (serve)
    // paths only; inline doc-level forms keep the census valves, so
    // once a cap engages the two diverge — by CONTRACT in one
    // direction only (serve ⊇ inline). Pinned here at the mechanism
    // level with planted signature frames (no corpus IO): k docs over
    // ONE signature, k past the cap.
    import spark.implicits._

    // hamming family: all 4 chunk buckets go hot at k > SimHashChunkCap
    // -> inline survival masks zero out and it emits NOTHING; the
    // collapse's self arm keeps the full clique
    val hk = operators.Dedup.SimHashChunkCap + 10
    val hsigs = (0L until hk.toLong).map((_, 0x1234567890abcdefL))
      .toDF("doc_id", "simhash").localCheckpoint()
    val hInline = operators.Dedup.chunkedHammingPairs(hsigs).count()
    assert(hInline == 0L,
      s"premise drifted: chunk census no longer saturates at $hk copies ($hInline pairs)")
    val hCollapsed = operators.Dedup.collapsedHammingPairs(hsigs).count()
    assert(hCollapsed == hk.toLong * (hk - 1) / 2,
      s"hamming collapse lost clique pairs: $hCollapsed of ${hk.toLong * (hk - 1) / 2}")

    // minhash family: every band bucket goes hot at k > BandBucketCap
    // -> inline degrades to the representative STAR (k-1 pairs, the
    // r13 no-silent-drop valve); the collapse keeps the full clique —
    // star ⊂ clique, never the reverse
    val mk = operators.Dedup.BandBucketCap + 10
    val sigCols = col("id").as("doc_id") +: (0 until operators.Dedup.MinHashK)
      .map(j => lit(j * 1000L + 7).as(s"sig_$j"))
    val msigs = spark.range(mk.toLong).select(sigCols: _*).localCheckpoint()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mInline = pairSet(operators.Dedup.minhashDedupFromSigs(msigs))
    val mCollapsed = pairSet(operators.Dedup.minhashDedupCollapsed(msigs))
    assert(mInline.size == mk - 1,
      s"premise drifted: band star no longer ${mk - 1} pairs (${mInline.size})")
    assert(mCollapsed.size == mk * (mk - 1) / 2,
      s"minhash collapse lost clique pairs: ${mCollapsed.size}")
    assert(mInline.subsetOf(mCollapsed),
      "divergence direction violated: inline emitted a pair the collapse lost")
  }

  test("collapse upgrade: a dataless rep dir under a valid fp reads incomplete and rebuilds") {
    // a dataless rep artifact must never register and serve silently
    // empty pairs — neither in an uncommitted generation (a crash
    // before the stamp) nor in the sidecar-named one
    val tmp = java.nio.file.Files.createTempDirectory("graftupgrade").toString
    graft.Tables.documents(spark, sf)
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val want = pairSet(operators.Dedup.ngramJaccardServe(spark, tmp, threshold = 0.3))
    assert(want.nonEmpty, "premise: the corpus has near-dup pairs at t=0.3")
    val gen = operators.Dedup.postingsGeneration(spark, tmp)
    val path = operators.Dedup.postingsServePath(tmp)
    // uncommitted crash state: a newer generation dir whose rep holds no
    // data files, the sidecar still naming the committed generation
    val (fp, _) = operators.ServingStore.readSidecar("posting-index", path).get
    val orphan = new java.io.File(operators.ServingStore.newGenerationPath(path, fp))
    assert(new java.io.File(orphan, "rep").mkdirs())
    new java.io.File(orphan, "rep/_SUCCESS").createNewFile()
    assert(pairSet(operators.Dedup.ngramJaccardServe(spark, tmp, threshold = 0.3)) == want,
      "an uncommitted generation was served")
    assert(operators.Dedup.postingsGeneration(spark, tmp).dir == gen.dir)
    assert(pairSet(operators.Dedup.ngramJaccardServe(spark.newSession(), tmp, threshold = 0.3)) == want,
      "an uncommitted generation was served to a new session")
    // committed-generation damage: the named generation's rep dir loses
    // its data files; fp still proves the generation, and this session
    // has served it before
    new java.io.File(gen.path("rep")).listFiles
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .foreach(f => assert(f.delete(), s"could not empty $f"))
    assert(pairSet(operators.Dedup.ngramJaccardServe(spark, tmp, threshold = 0.3)) == want,
      "a dataless rep dir served empty/wrong pairs instead of triggering a rebuild")
    assert(operators.Dedup.postingsGeneration(spark, tmp).dir != gen.dir,
      "a dataless rep artifact did not trigger a rebuild")
  }

  test("postings compaction: fragmented buckets collapse to one file each, content unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graftcompact").toString
    val docs = graft.Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    base.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    operators.Dedup.ensurePostings(spark, tmp)
    val fp0 = operators.Similarity.corpusFingerprint(spark, tmp, "documents.parquet")
    delta.write.mode("append").parquet(tmp + "/documents.parquet")
    operators.Dedup.appendPostings(spark, tmp, delta, expectedFp = Some(fp0))
    val path = operators.Dedup.postingsServePath(tmp)
    // data files of the sidecar-named generation's doc-level postings
    def dataFiles = new java.io.File(
        operators.Dedup.postingsGeneration(spark, tmp).path("postings")).listFiles
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    assert(dataFiles.length > operators.Dedup.PostingsBuckets,
      "append did not fragment the buckets — the compaction premise is gone")
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val before = resultSet(operators.Dedup.ngramJaccardServe(spark, tmp))
    val (fpBefore, genBefore) = operators.ServingStore.readSidecar("posting-index", path).get
    operators.Dedup.compactPostings(spark, tmp)
    assert(dataFiles.length == operators.Dedup.PostingsBuckets,
      s"compaction left ${dataFiles.length} data files, expected one per bucket")
    assert(resultSet(operators.Dedup.ngramJaccardServe(spark, tmp)) == before,
      "compaction changed query results")
    val (fpAfter, genAfter) = operators.ServingStore.readSidecar("posting-index", path).get
    assert(fpAfter == fpBefore, "compaction changed the generation fingerprint")
    assert(genAfter != genBefore && new java.io.File(genBefore).isDirectory,
      "compaction must commit a new generation and keep the previous one for its readers")
    // the compacted generation still serves bucket-locally: no h-keyed
    // exchange anywhere in the candidate join
    val plan = operators.Dedup.ngramJaccardServe(spark, tmp)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(h#"),
      s"compacted index lost bucket locality:\n$plan")
    // and a subsequent serve reuses it (no rebuild): data files untouched
    val stamp = dataFiles.map(f => f.getName -> f.lastModified).toMap
    resultSet(operators.Dedup.ngramJaccardServe(spark, tmp))
    assert(dataFiles.map(f => f.getName -> f.lastModified).toMap == stamp,
      "serve after compaction rewrote the generation")
    // a generation pruned by ANOTHER process leaves this JVM's catalog
    // entries behind: the next new registration of the store drops them
    val live = operators.Dedup.postingsGeneration(spark, tmp)
    val prevGen = live.copy(dir = genBefore)
    assert(spark.catalog.tableExists(prevGen.table("postings")), "premise: previous generation registered")
    operators.Dedup.deleteTree(genBefore)
    Seq("postings", "rep").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${live.table(t)}"))
    assert(resultSet(operators.Dedup.ngramJaccardServe(spark, tmp)) == before,
      "serve after re-registration diverged")
    assert(Seq("postings", "rep").forall(t => spark.catalog.tableExists(live.table(t))),
      "served generation not re-registered")
    assert(Seq("postings", "rep").forall(t => !spark.catalog.tableExists(prevGen.table(t))),
      "catalog kept tables over a pruned generation")
  }


  test("ivfpq residual encoding: tighter reconstruction and no worse ADC ranking than raw-book PQ") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val corpus = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("vec"))
    val cents = operators.Similarity.ivfFit(corpus)
    val cl = typedLit(cents.map(_.toSeq).toSeq)
    val residuals = corpus
      .select(col("vec_id"),
        graft.functions.GraftFunctions.graftArgminL2(col("vec"), cl).as("cid"),
        col("vec"))
      .select(col("vec_id"), col("cid"),
        zip_with(col("vec"), element_at(cl, col("cid") + 1),
          (x, c) => x.cast("double") - c).as("vec"))
      .localCheckpoint()
    // equal code size by construction: same PqM x PqK books either way
    val rawBooks = operators.Similarity.pqFit(corpus)
    val resBooks = operators.Similarity.pqFit(residuals)
    def reconOf(df: org.apache.spark.sql.DataFrame,
        books: Array[Array[Array[Double]]], addCent: Boolean) = {
      val coded = df.select(col("vec_id"), col("vec"),
        (if (addCent) col("cid") else lit(0)).as("cid"))
        .withColumn("codes", operators.Similarity.pqCodesCol(books))
      val rec = operators.Similarity.pqReconCol(books)
      coded.select(col("vec_id"),
        (if (addCent) zip_with(element_at(cl, col("cid") + 1), rec, (c, r) => c + r)
         else rec).as("recon"))
    }
    val rawRecon = reconOf(corpus, rawBooks, addCent = false)
    val resRecon = reconOf(residuals, resBooks, addCent = true)
    def collectVecs(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col("vec_id"), col(c)).collect()
        .map(r => r.getLong(0) -> r.getSeq[Any](1).map {
          case d: Double => d; case f: Float => f.toDouble
        }.toArray).toMap
    val orig = collectVecs(corpus, "vec")
    val raw = collectVecs(rawRecon, "recon")
    val res = collectVecs(resRecon, "recon")
    def mse(recon: Map[Long, Array[Double]]) = orig.iterator.map { case (id, v) =>
      v.zip(recon(id)).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sum / orig.size
    val (rawMse, resMse) = (mse(raw), mse(res))
    // residuals concentrate each cell around its centroid, so the same
    // 8-byte budget reconstructs measurably tighter (IVFADC's rationale).
    // The synthetic harness embeddings barely cluster — the observed gain
    // here is ~10%; clustered real corpora gain far more — so the pinned
    // margin is 5%: strict, but below the corpus' incidental structure.
    assert(resMse < rawMse * 0.95,
      f"residual reconstruction $resMse%.5f not measurably below raw $rawMse%.5f")
    // OPQ leg: rotating the residuals before coding must not reconstruct
    // worse than plain-residual books (the alternation starts AT the
    // plain-residual solution and descends; measured in the rotated
    // space, = original space by orthogonal invariance)
    val (rotM, rotBooks) = operators.Similarity.opqFit(residuals)
    val rotated = residuals.select(col("vec_id"),
      operators.Similarity.rotateCol(rotM, col("vec")).as("vec")).localCheckpoint()
    val rotRec = collectVecs(reconOf(rotated, rotBooks, addCent = false), "recon")
    val rotOrig = collectVecs(rotated, "vec")
    val rotMse = rotOrig.iterator.map { case (id, v) =>
      v.zip(rotRec(id)).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sum / rotOrig.size
    assert(rotMse <= resMse * 1.001,
      f"rotated-residual reconstruction $rotMse%.5f worse than residual $resMse%.5f")
    // ADC ranking fidelity: top-10-by-reconstructed-cosine hits vs exact
    // top-10, summed over the standard queries — residual >= raw
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def topk(q: Long, vecs: Map[Long, Array[Double]]) = orig.keys
      .filter(_ != q).toSeq
      .sortBy(n => (-cos(orig(q), vecs(n)), n)).take(10).toSet
    val queries = orig.keys.filter(_ < 8)
    def hits(vecs: Map[Long, Array[Double]]) = queries.map { q =>
      (topk(q, orig) intersect topk(q, vecs)).size
    }.sum
    val (rawHits, resHits) = (hits(raw), hits(res))
    assert(resHits >= rawHits,
      s"residual ADC ranking ($resHits hits) fell below raw-book ranking ($rawHits)")
  }

  test("ivf serve keys: fingerprint tracks file content; distinct dirs never share a serve path") {
    // sanitization alone maps a/b and a_b to the same name — the digest
    // suffix must keep them apart
    assert(operators.Similarity.ivfServePath("data/sf1") !=
      operators.Similarity.ivfServePath("data_sf1"))
    val tmp = java.nio.file.Files.createTempDirectory("graftfp")
    val corpus = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val src =
      if (java.nio.file.Files.isDirectory(corpus))
        java.nio.file.Files.list(corpus).iterator().next()
      else corpus
    val dst = tmp.resolve("embeddings.parquet")
    java.nio.file.Files.copy(src, dst)
    val fp1 = operators.Similarity.corpusFingerprint(spark, tmp.toString)
    // a pure mtime touch — e.g. a deterministic generator re-emitting the
    // same bytes — must KEEP the fingerprint: an mtime-keyed fingerprint
    // invalidated every standing index generation on every regeneration,
    // retraining per round with zero content change
    assert(dst.toFile.setLastModified(dst.toFile.lastModified + 123000))
    val fp2 = operators.Similarity.corpusFingerprint(spark, tmp.toString)
    assert(fp1 == fp2, "mtime-only touch changed the content fingerprint")
    // a same-length content swap (flip one byte mid-file, then one in the
    // footer) must CHANGE it — a length-only key would serve stale
    val bytes = java.nio.file.Files.readAllBytes(dst)
    val flipped = bytes.clone()
    flipped(flipped.length - 100) = (flipped(flipped.length - 100) ^ 0x7f).toByte
    java.nio.file.Files.write(dst, flipped)
    val fp3 = operators.Similarity.corpusFingerprint(spark, tmp.toString)
    assert(fp1 != fp3, "same-length footer content swap did not change the fingerprint")
    val headFlip = bytes.clone()
    headFlip(64) = (headFlip(64) ^ 0x7f).toByte
    java.nio.file.Files.write(dst, headFlip)
    val fp4 = operators.Similarity.corpusFingerprint(spark, tmp.toString)
    assert(fp1 != fp4, "same-length head content swap did not change the fingerprint")
    // a MID-file flip (far from both head and footer) must change it
    // too — the interior sample windows exist exactly for this; flip a
    // byte at an interior window anchor so the coverage is guaranteed
    if (bytes.length > 16384) {
      val step = (bytes.length - 12288) / 7
      val midFlip = bytes.clone()
      val at = 4096 + step * 3 + 17
      midFlip(at) = (midFlip(at) ^ 0x7f).toByte
      java.nio.file.Files.write(dst, midFlip)
      val fp5 = operators.Similarity.corpusFingerprint(spark, tmp.toString)
      assert(fp1 != fp5, "mid-file content swap did not change the fingerprint")
    }
  }

  test("adaptive clean keeps the top quality mass per language; approx sketch tracks exact floors") {
    import org.apache.spark.sql.functions._
    val th = operators.TextAnalysis.qualityThresholds(spark, sf).collect()
    assert(th.nonEmpty)
    val adaptive = operators.TextAnalysis.corpusCleanAdaptive(spark, sf)
    // per language, the kept fraction is >= 1 - q (ties can only keep more)
    val q = operators.TextAnalysis.QualityQuantile
    th.foreach { t =>
      val lang = t.getString(0)
      val total = t.getLong(1).toDouble
      val kept = adaptive.filter(col("pred_lang") === lang).count().toDouble
      assert(kept / total >= 1.0 - q - 1e-9, s"$lang kept ${kept / total}")
      assert(kept / total <= 1.0, s"$lang kept more than exists")
    }
    // no kept doc sits below its language's floor
    val floors = th.map(t => t.getString(0) -> t.getDouble(2)).toMap
    adaptive.collect().foreach { r =>
      assert(r.getDouble(2) >= floors(r.getString(1)) - 1e-12)
    }
    // the 100 TB path: approx_percentile's mergeable sketch lands within
    // tolerance of the exact interpolated quantile on this corpus
    val scored = operators.TextAnalysis.corpusClean(spark, sf, minQuality = -1.0)
    val approx = scored
      .groupBy(col("pred_lang"))
      .agg(approx_percentile(col("quality_score"), lit(q), lit(10000)).as("aq"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    floors.foreach { case (lang, exact) =>
      assert(math.abs(approx(lang) - exact) < 0.1, s"$lang approx ${approx(lang)} vs $exact")
    }
  }

  test("bucketed packing: valid, deterministic across partitionings, never more bins than first-fit") {
    val budget = operators.TextAnalysis.PackBudget
    val plain = operators.TextAnalysis.packSequences(spark, sf).collect()
    val bucketed = operators.TextAnalysis.packSequencesBucketed(spark, sf).collect()
    // same doc universe, same token counts, bins within budget
    assert(bucketed.map(_.getLong(0)).sorted.toSeq == plain.map(_.getLong(0)).sorted.toSeq)
    val byBin = bucketed.groupBy(_.getLong(2))
    byBin.foreach { case (bin, rows) =>
      val fill = rows.map(_.getInt(1).toLong).sum
      assert(rows.length == 1 && rows.head.getInt(1) > budget || fill <= budget,
        s"bin $bin over budget: $fill")
      assert(rows.map(_.getLong(3)).max == fill, "bin_fill must end at the bin total")
    }
    // fragmentation: FFD must not use MORE bins than arrival-order
    // first-fit in any id-range group (empirically strict on this corpus)
    def binsPerGroup(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(2) >> 20).view.mapValues(_.map(_.getLong(2)).distinct.length).toMap
    val pg = binsPerGroup(plain)
    val bg = binsPerGroup(bucketed)
    assert(bg.keySet == pg.keySet)
    bg.foreach { case (g, nb) => assert(nb <= pg(g), s"group $g: bucketed $nb > plain ${pg(g)}") }
    assert(bg.values.sum <= pg.values.sum)
    // partition-invariance: the determinism contract — identical output
    // from a skewed repartitioning of the input
    val docsDf = Tables.documents(spark, sf)
    val shuffled = operators.TextAnalysis
      .packSequencesBucketedOf(spark, docsDf.repartition(3), operators.TextAnalysis.PackBudget)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val straight = bucketed.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(shuffled == straight, "bin assignment depends on partitioning")
  }

  test("ivf index lifecycle: append preserves search exactly, staleness refresh retrains") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graftivf2").toString
    val all = Tables.embeddings(spark, sf)
    val full = all.select(col("vec_id"), col("embedding").as("vec"))
    // build from the first 60% of vectors, hold the rest back as arrivals
    val cut = full.agg(org.apache.spark.sql.functions
      .percentile_approx(col("vec_id"), org.apache.spark.sql.functions.lit(0.6),
        org.apache.spark.sql.functions.lit(10000))).collect()(0).getLong(0)
    all.filter(col("vec_id") <= cut).write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    val built = operators.Similarity.ivfIndex(spark, tmp)
    assert(built.trained == full.filter(col("vec_id") <= cut).count())

    // append WITHOUT retraining: search over the index == in-memory
    // search over the union corpus with the SAME (stale) quantizer
    val fp0 = operators.Similarity.corpusFingerprint(spark, tmp)
    all.filter(col("vec_id") > cut).write.mode("append").parquet(tmp + "/embeddings.parquet")
    operators.Similarity.appendIvf(spark, tmp, full.filter(col("vec_id") > cut),
      expectedFp = Some(fp0))
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaIndex = resultSet(operators.Similarity.knnIvfServe(spark, tmp))
    val inMemory = resultSet(operators.Similarity.knnIvfOf(full, built.centroids))
    assert(viaIndex == inMemory, "appended index diverged from union-corpus search")
    val appended = operators.Similarity.ivfIndex(spark, tmp)
    assert(appended.gen.dir != built.gen.dir && appended.trained == built.trained,
      "append retrained instead of encoding the delta with the committed quantizer")

    // arrivals are ~2/3 of the trained count — over the 0.5 staleness
    // threshold, so the refresh must fire, retrain over the full
    // contents, and leave search identical to a from-scratch fit
    assert(operators.Similarity.refreshIvfIfStale(spark, tmp, staleness = 0.5))
    val refreshed = operators.Similarity.ivfIndex(spark, tmp)
    assert(refreshed.trained == full.count())
    val viaRefreshed = resultSet(operators.Similarity.knnIvfServe(spark, tmp))
    val fromScratch = resultSet(
      operators.Similarity.knnIvfOf(full, operators.Similarity.ivfFit(full)))
    assert(viaRefreshed == fromScratch, "refreshed index diverged from retrained search")
    // and a second refresh is a no-op: nothing new appended
    assert(!operators.Similarity.refreshIvfIfStale(spark, tmp, staleness = 0.5))
  }

  test("exact dedup keeps the minimum doc id per content hash") {
    val dups = operators.TextAnalysis.dedupExact(spark, sf)
    assert(dups.agg(sum("n_copies")).collect()(0).getLong(0) ==
      Tables.documents(spark, sf).count())
  }

  test("margin-ranked probes: recall vs brute >= distance-ranked at equal NProbe") {
    import org.apache.spark.sql.functions.col
    val full = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("vec"))
    val cents = operators.Similarity.ivfFit(full)
    val brute = operators.Similarity.knnBrute(spark, sf, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect brute).size.toDouble / brute.size
    }
    val margin = recall(operators.Similarity.knnIvfOf(full, cents, marginProbes = true))
    val distance = recall(operators.Similarity.knnIvfOf(full, cents, marginProbes = false))
    assert(margin >= distance,
      s"margin probe order lost recall: margin=$margin distance=$distance")
    assert(margin > 0.5, s"ivf recall degenerate: $margin")
  }

  test("scoredDocs lineage barrier: consumers never re-invoke the stats kernel") {
    // r14 regression guard: without the barrier, a caller's pred_lang
    // filter pushes below the scoredDocs projection and Catalyst's
    // rewrite re-invokes graft_text_stats PER FIELD REFERENCE inside
    // the Filter condition (the executed sf1 plan showed 14
    // invocations in one predicate — the kernel paid twice per row
    // end-to-end). Behind the lazy localCheckpoint the consumers'
    // plans must reference materialized columns only: zero kernel
    // calls visible above the barrier.
    for ((name, df) <- Seq(
        "qualityThresholds" -> operators.TextAnalysis.qualityThresholds(spark, sf),
        "corpusClean" -> operators.TextAnalysis.corpusClean(spark, sf),
        "corpusCleanAdaptive" -> operators.TextAnalysis.corpusCleanAdaptive(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      val kernelCalls = plan.sliding(functions.GraftFunctions.TextStatsName.length)
        .count(_ == functions.GraftFunctions.TextStatsName)
      assert(kernelCalls == 0,
        s"$name re-invokes the stats kernel above the barrier ($kernelCalls call sites)")
      assert(df.limit(1).count() == 1, s"$name serves no rows")
    }
  }

  test("approx quality thresholds: rank drift bounded vs the exact quantile") {
    import org.apache.spark.sql.functions._
    val exact = operators.TextAnalysis.qualityThresholds(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val approx = operators.TextAnalysis.qualityThresholds(spark, sf, approx = true)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    val scored = operators.TextAnalysis.scoredCorpus(spark, sf)
      .select(col("pred_lang"), col("quality_score")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val q = operators.TextAnalysis.QualityQuantile
    approx.foreach { case (lang, qa) =>
      val scores = scored.filter(_._1 == lang).map(_._2)
      val n = scores.length.toDouble
      // the KLL sketch's deterministic rank-error bound (0 while a group
      // fits one compactor level — stored verbatim); the returned value
      // is a real element, so its empirical rank must straddle the
      // target quantile within that bound plus one element of
      // discreteness
      val eps = graft.functions.KllSketch.rankErrorBound(scores.length.toLong) + 1.0 / n
      val below = scores.count(_ < qa) / n
      val atOrBelow = scores.count(_ <= qa) / n
      assert(below <= q + eps, s"$lang: approx q ranks too high ($below > $q + $eps)")
      assert(atOrBelow >= q - eps, s"$lang: approx q ranks too low ($atOrBelow < $q - $eps)")
      // and the value itself stays close to the exact interpolated quantile
      assert(math.abs(qa - exact(lang)) <= 0.05,
        s"$lang: approx $qa vs exact ${exact(lang)}")
    }
  }

  test("approx rarity thresholds: rank drift bounded vs the exact quantile") {
    import org.apache.spark.sql.functions._
    val exact = operators.Curation.rarityThresholds(spark, sf).collect()(0)
    val approx = operators.Curation.rarityThresholds(spark, sf, approx = true).collect()(0)
    assert(approx.getLong(0) == exact.getLong(0), "n_docs must be exact either way")
    val signals = operators.Curation.rarityScore(spark, sf)
      .select(col("mean_df"),
        col("n_rare").cast("double") / col("n_distinct_words").cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val q = operators.Curation.RarityQuantile
    for ((vals, qa, qe, tag) <- Seq(
        (signals.map(_._1), approx.getDouble(1), exact.getDouble(1), "mean_df"),
        (signals.map(_._2), approx.getDouble(2), exact.getDouble(2), "rare_frac"))) {
      val n = vals.length.toDouble
      val eps = graft.functions.KllSketch.rankErrorBound(vals.length.toLong) + 1.0 / n
      val below = vals.count(_ < qa) / n
      val atOrBelow = vals.count(_ <= qa) / n
      assert(below <= q + eps, s"$tag: approx q ranks too high ($below > $q + $eps)")
      assert(atOrBelow >= q - eps, s"$tag: approx q ranks too low ($atOrBelow < $q - $eps)")
      assert(math.abs(qa - qe) <= 0.05 * math.max(1.0, math.abs(qe)),
        s"$tag: approx $qa vs exact $qe")
    }
  }

  test("bpe tokenization: trained merges compress, counts bounded by symbols") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.documents(spark, sf)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // no-merge baseline: every code point of every word is its own token
    val baseline = d.select(col("doc_id"),
      call_function(graft.functions.GraftFunctions.BpeCountName,
        col("text"), typedlit(Seq.empty[String])).as("n0"))
    val trained = operators.TextAnalysis.textBpe(spark, sf)
    val both = trained.join(baseline, "doc_id").collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val (bpe, base) = (r.getAs[Int]("n_bpe_tokens"), r.getAs[Int]("n0"))
      assert(bpe >= 0 && bpe <= base, s"merges must never increase counts: $r")
    }
    // the trained table actually fires on the corpus it was trained on
    val sums = both.map(r => (r.getAs[Int]("n_bpe_tokens").toLong, r.getAs[Int]("n0").toLong))
    assert(sums.map(_._1).sum < sums.map(_._2).sum, "trained merges never applied")
    // deterministic across retrains
    val again = operators.TextAnalysis.bpeTrain(d).toSeq
    assert(again == operators.TextAnalysis.bpeTrain(d).toSeq)
  }

  test("winnow sketch covers short docs and tail-position minima") {
    // operator reads from a dir; exercise semantics via a temp write
    val tmp = java.nio.file.Files.createTempDirectory("graftwin").toString
    val docs = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma"),                       // exactly k words -> 1 gram
      (2L, "one two three four five six seven"),      // minimal gram may sit in the tail
      (3L, "a b c d e f g h i j k l m n o p q r s"))) // long doc
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sk = operators.TextAnalysis.winnowFingerprint(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk.contains(1L), "doc with a single gram must still get a sketch")
    assert(sk(1L) == 1L)
    assert(sk.contains(2L) && sk.contains(3L))
    // every doc's full min-gram-hash must be in its sketch (winnowing
    // guarantee: the global minimum is the min of some window)
    val grams = operators.TextAnalysis.winnowFingerprint(spark, tmp)
      .select("doc_id", "sketch_min").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rawMin = spark.read.parquet(s"$tmp/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), i -> xxhash64(concat_ws(' ', slice(w, i, 3))))")).as("h"))
      .groupBy("doc_id").agg(min("h").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rawMin.foreach { case (d, m) =>
      assert(grams(d) == m, s"doc $d: global min gram hash missing from sketch")
    }
  }

  test("winnow sketch: identical docs share sketches; size bounded by gram count") {
    val df = operators.TextAnalysis.winnowFingerprint(spark, sf)
    val docs = Tables.documents(spark, sf).count()
    assert(df.count() == docs)
    assert(df.filter("sketch_size <= 0").count() == 0)
    // winnowing picks at most one hash per window position: size <= grams
    val sizes = df.join(
      operators.TextAnalysis.textTokens(spark, sf).select("doc_id", "n_ws_tokens"), "doc_id")
    assert(sizes.filter(col("sketch_size") > col("n_ws_tokens")).count() == 0)
    // planted identical docs -> identical sketches
    val twins = operators.TextAnalysis.winnowFingerprint(spark, sf) // determinism re-run
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val first = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(twins == first, "winnow sketch not deterministic across runs")
  }

  test("language id only emits known codes and deterministic ties") {
    val df = operators.TextAnalysis.langId(spark, sf)
    val codes = df.select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(codes.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  test("quality score stays in [0, 1]") {
    val df = operators.TextAnalysis.textQuality(spark, sf)
    assert(df.filter("quality_score < 0 OR quality_score > 1").count() == 0)
  }

  test("fingerprint is whitespace/punctuation-insensitive") {
    val df = spark.createDataFrame(Seq(
      (1L, "Hello,   World! Foo"),
      (2L, "hello world foo"))).toDF("doc_id", "text")
    // reuse the operator's normalization through a temp view round trip
    val fps = operators.TextAnalysis.fingerprint(
      spark, sf) // corpus smoke
    assert(fps.select("fingerprint").distinct().count() > 0)
    import org.apache.spark.sql.functions.{col, md5, lower, regexp_replace, trim, length}
    val norm = (c: org.apache.spark.sql.Column) =>
      md5(trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))
        .cast(org.apache.spark.sql.types.BinaryType))
    val two = df.select(norm(col("text")).as("fp")).distinct().count()
    assert(two == 1, "normalization should collapse formatting variants")
  }

  /** Driver-side replica of [[operators.TextAnalysis.trainSplitOf]]'s md5
    * content split, used to PLANT docs into chosen splits. */
  private def splitOf(text: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
    val key = f"${d(0) & 0xff}%02x"
    if (key < "cc") "train" else if (key < "e6") "val" else "test"
  }

  /** Finds a salt word making `salt + base` land in the wanted split —
    * deterministic (first matching index wins). */
  private def salted(base: String, want: String): String =
    Iterator.from(0).map(i => s"salt$i $base").find(t => splitOf(t) == want).get

  test("contamination flags the planted train copy of an eval doc, not bystanders") {
    val shared = (1 to 40).map(i => s"w$i").mkString(" ")
    val trainDup = salted(shared, "train") // shares 36+ 5-grams with evalDoc
    val evalDoc = salted(shared, "test")
    val bystander = salted((1 to 40).map(i => s"b$i").mkString(" "), "train")
    val df = spark.createDataFrame(Seq(
      (1L, trainDup), (2L, evalDoc), (3L, bystander))).toDF("doc_id", "text")
    val rows = operators.Curation.contaminationOf(df)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(rows.keySet == Set(1L, 3L), "output is the train split only")
    val (n1, c1, rate1, flag1) = rows(1L)
    assert(c1 > 0 && c1 <= n1 && rate1 > 0.9 && flag1,
      s"planted near-copy must be flagged: $rows")
    val (_, c3, rate3, flag3) = rows(3L)
    assert(c3 == 0L && rate3 == 0.0 && !flag3, "bystander must stay clean")
  }

  test("contamination invariants hold corpus-wide") {
    val res = operators.Curation.contamination(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (n, c, rate, flag) =
        (r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
      assert(c >= 0 && c <= n, s"0 <= n_contaminated <= n_shingles: $r")
      assert(math.abs(rate - c.toDouble / n) == 0.0, s"rate consistent: $r")
      assert(flag == (rate >= operators.Curation.ContaminationMax), s"flag: $r")
    }
  }

  test("posting-served contamination screen: full-eval parity and delta additivity") {
    def keyOf(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
    // instantiated with the whole eval gram set, the index-served screen
    // must equal the batch scan computation exactly
    val batch = operators.Curation.contamination(spark, sf).collect().map(keyOf).toMap
    val served = operators.Curation.contaminationServe(spark, sf).collect().map(keyOf).toMap
    assert(served == batch, "index-served screen diverged from the batch scan")
    // additivity over disjoint gram sets: per-benchmark delta screens
    // compose into the full report (the production absorb-a-new-benchmark
    // path). Split the eval grams by hash parity — disjoint by construction.
    val docs = Tables.documents(spark, sf)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val grams = docs
      .select(
        operators.TextAnalysis.splitCol(operators.TextAnalysis.splitKeyCol).as("split"),
        call_function(graft.functions.GraftFunctions.ShingleSetName, col("text")).as("hs"))
      .filter(col("split") === "test" && col("hs").isNotNull)
      .select(explode(col("hs")).as("h"))
    def counts(g: org.apache.spark.sql.DataFrame) =
      operators.Curation.contaminationDeltaServe(spark, sf, g)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val even = counts(grams.filter(pmod(col("h"), lit(2)) === 0))
    val odd = counts(grams.filter(pmod(col("h"), lit(2)) === 1))
    val full = counts(grams)
    assert(full.keySet == even.keySet && full.keySet == odd.keySet,
      "screens over the same corpus must report the same train docs")
    full.foreach { case (id, n) =>
      assert(even(id) + odd(id) == n,
        s"delta screens must add: doc $id ${even(id)}+${odd(id)} != $n")
    }
  }

  test("stratified sample: per-stratum sizes, contiguous ranks, partition-invariant") {
    val d = Tables.documents(spark, sf)
    val strata = d.groupBy("lang", "source").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def runOn(parts: Int) = operators.Curation
      .sampleStratifiedOf(d.repartition(parts))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sortBy(identity)
    val one = runOn(1)
    val many = runOn(17)
    assert(one.toSeq == many.toSeq, "content-keyed sample is partition-invariant")
    val byStratum = one.groupBy(t => (t._1, t._2))
    byStratum.foreach { case (k, rows) =>
      val expect = math.min(operators.Curation.SampleN.toLong, strata(k))
      assert(rows.length.toLong == expect, s"stratum $k size")
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length).toSeq,
        s"ranks contiguous in $k")
    }
  }

  test("pq knn: high recall vs brute force; serve generation reused and bit-equal") {
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = rows(operators.Similarity.knnBrute(spark, sf))
      .map(t => (t._1, t._2))
    val direct = rows(operators.Similarity.knnPq(spark, sf))
    val recall = brute.intersect(direct.map(t => (t._1, t._2))).size.toDouble / brute.size
    assert(recall >= 0.9, s"PQ recall@10 after exact re-rank: $recall")
    // recalled pairs carry EXACT cosines (re-rank re-scores true vectors)
    val bruteScores = rows(operators.Similarity.knnBrute(spark, sf))
      .map(t => (t._1, t._2) -> t._3).toMap
    direct.foreach { case (q, n, c, _) =>
      bruteScores.get((q, n)).foreach(b =>
        assert(b == c, s"re-ranked cosine of ($q,$n) diverged from exact"))
    }
    // serve: cold builds the generation, warm reuses it, both == direct
    val servePath = operators.Similarity.pqServePath(sf)
    rmrf(new java.io.File(servePath))
    rmrf(new java.io.File(servePath + "_model"))
    val cold = rows(operators.Similarity.knnPqServe(spark, sf))
    assert(cold == direct, "cold PQ serve diverged from the from-scratch form")
    val model = java.nio.file.Paths.get(servePath + "_model")
    def stampOf() = (java.nio.file.Files.getLastModifiedTime(model),
      java.nio.file.Files.readAllBytes(model).toSeq)
    val stamp = stampOf()
    val warm = rows(operators.Similarity.knnPqServe(spark, sf))
    assert(warm == direct, "warm PQ serve diverged")
    assert(stampOf() == stamp,
      "warm PQ serve rewrote the generation instead of reusing it")
    // codes are bounded by the codebook size
    import org.apache.spark.sql.functions.{col, explode}
    val bad = spark.read.parquet(
        operators.ServingStore.readSidecar("pq-index", servePath).get._2 + "/codes")
      .select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= operators.Similarity.PqK).count()
    assert(bad == 0L, "PQ code out of [0, PqK)")
  }

  test("ivfpq append: delta encodes into the existing generation, old files untouched") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftivfappend").toString
    val all = graft.Tables.embeddings(spark, sf)
    val base = all.filter(col("vec_id") % 5 =!= 0 || col("vec_id") < 8)
    val delta = all.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 8)
    base.write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    // build the generation over the base corpus
    operators.Similarity.knnIvfPqServe(spark, tmp).count()
    val indexPath = operators.Similarity.ivfPqServePath(tmp)
    def gen() = operators.ServingStore.readSidecar("ivfpq-index", indexPath).get._2
    val gen0 = gen()
    val pre = genStamp(gen0)
    assert(pre.keys.exists(_.startsWith("lists/cid=")), "premise: codes live in cid= cells")
    val fp0 = operators.Similarity.corpusFingerprint(spark, tmp)
    delta.write.mode("append").parquet(tmp + "/embeddings.parquet")
    // stale-generation proof: a wrong pre-append fingerprint must refuse
    intercept[IllegalArgumentException] {
      operators.Similarity.appendIvfPq(spark, tmp,
        delta.select(col("vec_id"), col("embedding").as("vec")),
        expectedFp = Some(fp0 + 1))
    }
    operators.Similarity.appendIvfPq(spark, tmp,
      delta.select(col("vec_id"), col("embedding").as("vec")),
      expectedFp = Some(fp0))
    val gen1 = gen()
    assert(gen1 != gen0, "append did not commit a new generation")
    val post = genStamp(gen1)
    // every committed file — the model and the codes in the nested cid=
    // dirs — is a hard link into the previous generation: same name,
    // same mtime, same inode, never rewritten
    pre.foreach { case (n, m) =>
      assert(post.get(n).contains(m), s"append rewrote existing file $n")
      assert(java.nio.file.Files.isSameFile(
        java.nio.file.Paths.get(gen0, n), java.nio.file.Paths.get(gen1, n)),
        s"append copied $n instead of linking it")
    }
    assert(post.keys.count(_.startsWith("lists/")) > pre.keys.count(_.startsWith("lists/")),
      "append wrote no new code files")
    // serve over the appended generation: no rebuild (fingerprint
    // advanced), delta vectors are searchable, cosines exact
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cosine", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val served = rows(operators.Similarity.knnIvfPqServe(spark, tmp))
    assert(gen() == gen1 && genStamp(gen1) == post, "serve after append rebuilt the generation")
    val brute = rows(operators.Similarity.knnBrute(spark, tmp))
    val bruteScores = brute.map(t => (t._1, t._2) -> t._3).toMap
    served.foreach { case (q, n, c, _) =>
      bruteScores.get((q, n)).foreach(b =>
        assert(b == c, s"re-ranked cosine of ($q,$n) diverged from exact"))
    }
    val deltaIds = delta.select("vec_id").collect().map(_.getLong(0)).toSet
    val servedIds = served.map(_._2).toSet
    assert(deltaIds.intersect(servedIds).nonEmpty,
      "no appended vector ever surfaced in search results — the delta is invisible")
    // aggregate recall floor over the appended corpus (the quantizer was
    // trained on the base corpus only — the production shape)
    val hits = served.map(t => (t._1, t._2)).toSet
      .intersect(brute.map(t => (t._1, t._2)).toSet).size
    assert(hits.toDouble / brute.size >= 0.25,
      s"appended-index recall ${hits.toDouble / brute.size} below floor")
  }

  test("training-shard export: written shards reproduce the manifest; one file per shard") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .localCheckpoint()
    def mkey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val want = mkey(operators.Export.manifestOf(docs))
    assert(want.values.map(_._1).sum == docs.count(), "manifest lost docs")
    // checksum is order-independent: any partitioning gives the same map
    assert(mkey(operators.Export.manifestOf(docs.repartition(13))) == want,
      "manifest changed under repartitioning")
    val out = java.nio.file.Files.createTempDirectory("graftexport").toString + "/shards"
    val written = mkey(operators.Export.writeTrainingShards(spark, docs, out))
    assert(written == want, "written shards diverged from the input manifest")
    val shardDirs = new java.io.File(out).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == want.size, s"expected ${want.size} shard dirs")
    shardDirs.foreach { d =>
      val files = d.listFiles.filterNot(f =>
        f.getName.startsWith("_") || f.getName.startsWith("."))
      assert(files.length == 1, s"${d.getName} has ${files.length} files, want 1")
    }
  }

  test("cluster-blocked embedding dedup: exact precision, high recall vs brute force") {
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("vec")).localCheckpoint()
    // brute-force ground truth at sf0.001 (all pairs, exact cosine)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val a = corpus.select(col("vec_id").as("ia"), col("vec").as("va"))
    val b = corpus.select(col("vec_id").as("ib"), col("vec").as("vb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        call_function(graft.functions.GraftFunctions.CosineName,
          col("va"), col("vb")).as("c"))
      .filter(col("c") >= 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = operators.Similarity.embeddingDedupCells(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision is exact by construction: every emitted pair is verified
    // by true cosine, so it must be a brute pair (recall on LOOSE
    // 0.45-similarity pairs is inherently blocking-limited — the planted
    // test below pins it for actual near-identical vectors)
    assert(found.keySet.subsetOf(brute),
      s"non-dup pairs emitted: ${found.keySet -- brute}")
    found.values.foreach(c => assert(c >= 0.45))
    assert(brute.nonEmpty, "degenerate ground truth")
    assert(found.nonEmpty, s"cluster blocking found none of ${brute.size} pairs")
    // second call serves the persisted cell quantizer (no retrain):
    // the sidecar file must be byte-stable across calls
    val model = java.nio.file.Paths.get(operators.Similarity.semCellsServePath(sf) + "_model")
    def stampOf() = (java.nio.file.Files.getLastModifiedTime(model),
      java.nio.file.Files.readAllBytes(model).toSeq)
    val stamp = stampOf()
    operators.Similarity.embeddingDedupCells(spark, sf).count()
    assert(stampOf() == stamp,
      "second call retrained the cell quantizer")
  }

  test("cluster-blocked dedup finds every planted near-identical pair exactly once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 40 base vectors; every 4th gets a near-identical twin (tiny
    // deterministic perturbation) — the SemDeDup target pairs
    val dim = 16
    def vec(seed: Long): Array[Float] = {
      var s = seed
      Array.fill(dim) {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt / 8388608.0f) - 1.0f
      }
    }
    val base = (0L until 40L).map(i => (i, vec(i * 7 + 1)))
    val twins = base.collect { case (i, v) if i % 4 == 0 =>
      (100L + i, v.zipWithIndex.map { case (x, j) => x + (if (j == 0) 1e-3f else 0f) })
    }
    val corpus = (base ++ twins).toDF("vec_id", "vec").localCheckpoint()
    val cents = operators.Similarity.ivfFit(corpus, nList = 8)
    val pairs = operators.Similarity.embeddingDedupCellsOf(corpus, cents, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = base.collect { case (i, _) if i % 4 == 0 => (i, 100L + i) }.toSet
    assert(pairs.toSet == want, s"planted pairs: got ${pairs.toSet}, want $want")
    // exactly-once emission: no pair may appear twice (the old
    // formulation emitted once per shared cell and deduped with a
    // pair-stream distinct; the smallest-shared-cell filter replaces it)
    assert(pairs.size == pairs.toSet.size, s"duplicate emissions in $pairs")
  }

  test("cluster-blocked dedup: a pair whose smallest shared cell is hot still pairs at its surviving cell") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand-built geometry: centroid 0 at the origin is the HOT hub
    // (many unrelated vectors), centroid 1 far away holds a planted
    // near-identical pair whose top-2 cells are [0-or-1 ordering]
    // arranged so the pair's SMALLEST shared cell is the hot one
    val dim = 4
    val cents = Array(
      Array(0.0, 0.0, 0.0, 0.0),
      Array(10.0, 0.0, 0.0, 0.0),
      // near decoy: the hub's SECONDARY cell is 2, not 1, so cell 1
      // holds only the planted pair and stays under the cap
      Array(0.0, 5.0, 0.0, 0.0))
    // the planted pair sits between cents 0 and 1 (closer to 1), so its
    // top-2 = [1, 0]; its smallest shared cell is 0 — the hot hub
    val twinA = (1000L, Array(6.0f, 0.1f, 0f, 0f))
    val twinB = (1001L, Array(6.0f, 0.1001f, 0f, 0f))
    // 10 hub vectors near the origin make cell 0 hot at cap 8
    val hub = (0L until 10L).map(i => (i, Array(0.1f * i, -0.05f * i, 0f, 0f)))
    val corpus = (hub ++ Seq(twinA, twinB)).toDF("vec_id", "vec").localCheckpoint()
    val pairs = operators.Similarity
      .embeddingDedupCellsOf(corpus, cents, threshold = 0.99, cellCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1000L, 1001L)),
      s"pair lost when its smallest shared cell went hot: $pairs")
    assert(pairs.size == pairs.toSet.size, s"duplicate emissions: $pairs")
  }

  /** Data files per `cid=` cell of a generation's inverted lists. */
  private def cellFiles(gen: String): Map[String, Int] =
    new java.io.File(gen + "/lists").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
      .map(d => d.getName -> d.listFiles.filterNot(f =>
        f.getName.startsWith("_") || f.getName.startsWith(".")).length).toMap

  /** A compaction carries the model: same files, same inodes. */
  private def assertModelCarried(from: String, to: String): Unit = {
    val model = genStamp(from).filter(_._1.startsWith("model/"))
    assert(model.nonEmpty && genStamp(to).filter(_._1.startsWith("model/")) == model &&
      model.keys.forall(n => java.nio.file.Files.isSameFile(
        java.nio.file.Paths.get(from, n), java.nio.file.Paths.get(to, n))),
      "compaction rewrote the model")
  }

  test("ivf compaction: fragmented raw-vector cells collapse to one file each, search unchanged") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftivfrawcompact").toString
    val all = graft.Tables.embeddings(spark, sf)
    val base = all.filter(col("vec_id") % 5 =!= 0 || col("vec_id") < 8)
    val delta = all.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 8)
    base.write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    operators.Similarity.knnIvfServe(spark, tmp).count()
    val fp0 = operators.Similarity.corpusFingerprint(spark, tmp)
    delta.write.mode("append").parquet(tmp + "/embeddings.parquet")
    operators.Similarity.appendIvf(spark, tmp,
      delta.select(col("vec_id"), col("embedding").as("vec")), expectedFp = Some(fp0))
    val indexPath = operators.Similarity.ivfServePath(tmp)
    def sidecar() = operators.ServingStore.readSidecar("ivf-index", indexPath).get
    val (fp, g0) = sidecar()
    assert(cellFiles(g0).values.exists(_ > 1),
      "append did not fragment any cell — the compaction premise is gone")
    // the index must hold the full union before and after
    def contents(gen: String) = spark.read.parquet(gen + "/lists")
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cosine", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val before = contents(g0)
    val served = rows(operators.Similarity.knnIvfServe(spark, tmp))
    operators.Similarity.compactIvf(spark, tmp)
    val (fpAfter, g1) = sidecar()
    assert(g1 != g0 && fpAfter == fp, "compaction did not commit a same-fingerprint generation")
    val filesAfter = cellFiles(g1)
    assert(filesAfter.nonEmpty && filesAfter.values.forall(_ == 1),
      s"compaction left multi-file cells: $filesAfter")
    assert(contents(g1) == before, "compaction changed index contents")
    assertModelCarried(g0, g1)
    assert(rows(operators.Similarity.knnIvfServe(spark, tmp)) == served,
      "compaction changed served results")
  }

  test("ivfpq compaction: fragmented cells collapse to one file each, serve and sidecar unchanged") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftivfcompact").toString
    val all = graft.Tables.embeddings(spark, sf)
    val base = all.filter(col("vec_id") % 5 =!= 0 || col("vec_id") < 8)
    val delta = all.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 8)
    base.write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    operators.Similarity.knnIvfPqServe(spark, tmp).count()
    val fp0 = operators.Similarity.corpusFingerprint(spark, tmp)
    delta.write.mode("append").parquet(tmp + "/embeddings.parquet")
    operators.Similarity.appendIvfPq(spark, tmp,
      delta.select(col("vec_id"), col("embedding").as("vec")),
      expectedFp = Some(fp0))
    val indexPath = operators.Similarity.ivfPqServePath(tmp)
    def sidecar() = operators.ServingStore.readSidecar("ivfpq-index", indexPath).get
    val (fp, g0) = sidecar()
    assert(cellFiles(g0).values.exists(_ > 1),
      "append did not fragment any cell — the compaction premise is gone")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cosine", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val before = rows(operators.Similarity.knnIvfPqServe(spark, tmp))
    operators.Similarity.compactIvfPq(spark, tmp)
    val (fpAfter, g1) = sidecar()
    assert(g1 != g0 && fpAfter == fp, "compaction did not commit a same-fingerprint generation")
    val after = cellFiles(g1)
    assert(after.nonEmpty && after.values.forall(_ == 1),
      s"compaction left multi-file cells: $after")
    assert(rows(operators.Similarity.knnIvfPqServe(spark, tmp)) == before,
      "compaction changed served results")
    assertModelCarried(g0, g1)
    // a subsequent serve reuses the compacted generation (no rebuild)
    val stamp = genStamp(g1)
    operators.Similarity.knnIvfPqServe(spark, tmp).count()
    assert(sidecar() == ((fp, g1)) && genStamp(g1) == stamp,
      "serve after compaction rebuilt the generation")
  }

  test("opq: orthogonal rotation, no-worse reconstruction than PQ, serve bit-equal") {
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("vec"))
    val (r, books) = operators.Similarity.opqFit(corpus)
    val dim = r.length
    // R is orthogonal: RᵀR = I (the Procrustes constraint actually held)
    for (i <- 0 until dim; j <- 0 until dim) {
      val dot = (0 until dim).map(t => r(t)(i) * r(t)(j)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"RtR($i,$j) = $dot != $want")
    }
    // the alternation starts AT the plain-PQ solution and descends:
    // mean squared reconstruction error (measured in the rotated space,
    // = original space by orthogonal invariance) must not exceed PQ's
    def mseOf(frame: org.apache.spark.sql.DataFrame,
        b: Array[Array[Array[Double]]]) = frame
      .withColumn("codes", operators.Similarity.pqCodesCol(b))
      .withColumn("recon", operators.Similarity.pqReconCol(b))
      .select(aggregate(zip_with(col("vec"), col("recon"),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (a, v) => a + v).as("e"))
      .agg(avg(col("e"))).head().getDouble(0)
    val rotated = corpus.select(col("vec_id"),
      operators.Similarity.rotateCol(r, col("vec")).as("vec"))
    val opqMse = mseOf(rotated, books)
    val pqMse = mseOf(corpus, operators.Similarity.pqFit(corpus))
    assert(opqMse <= pqMse * 1.001,
      s"OPQ reconstruction worse than plain PQ: $opqMse > $pqMse")
    // serve == from-scratch, generation reused when warm
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cosine", "rk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))).toSet
    val direct = rows(operators.Similarity.knnOpq(spark, sf))
    val cold = rows(operators.Similarity.knnOpqServe(spark, sf))
    assert(cold == direct, "cold OPQ serve diverged from the from-scratch form")
    val model = java.nio.file.Paths.get(operators.Similarity.opqServePath(sf) + "_model")
    def stampOf() = (java.nio.file.Files.getLastModifiedTime(model),
      java.nio.file.Files.readAllBytes(model).toSeq)
    val stamp = stampOf()
    val warm = rows(operators.Similarity.knnOpqServe(spark, sf))
    assert(warm == direct, "warm OPQ serve diverged")
    assert(stampOf() == stamp,
      "warm OPQ serve rewrote the generation instead of reusing it")
    // recalled pairs carry EXACT cosines (re-rank scores original vectors)
    val brute = rows(operators.Similarity.knnBrute(spark, sf))
    val bruteScores = brute.map(t => (t._1, t._2) -> t._3).toMap
    direct.foreach { case (q, n, c, _) =>
      bruteScores.get((q, n)).foreach(b =>
        assert(b == c, s"re-ranked cosine of ($q,$n) diverged from exact"))
    }
    val recall = brute.map(t => (t._1, t._2))
      .intersect(direct.map(t => (t._1, t._2))).size.toDouble / brute.size
    assert(recall >= 0.9, s"OPQ recall@10 after exact re-rank: $recall")
  }

  test("quality classifier: partition-invariant training, converging loss, beats majority class") {
    import operators.QualityModel
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val feats = QualityModel.featureFrame(d)
    // bit-identical weights under any input partitioning: decimal
    // gradient/Hessian sums are associative, the solve is driver-side
    val w4 = QualityModel.fitQualityLr(QualityModel.featureFrame(d.repartition(4)))
    val w32 = QualityModel.fitQualityLr(QualityModel.featureFrame(d.repartition(32)))
    assert(w4.toSeq == w32.toSeq, "training depends on partitioning")
    // Newton steps actually fit: loss collapses from ln2
    val l0 = QualityModel.logLoss(feats, Array.fill(w4.length)(0.0))
    val l1 = QualityModel.logLoss(feats, w4)
    assert(l0 > 0.69 && l1 < 0.1, s"loss $l0 -> $l1 did not converge")
    // the distilled model reproduces the weak labels far above the
    // majority-class rate (predict-all-keep), i.e. it learned the
    // boundary, not the prior
    val res = operators.QualityModel.qualityClassifier(spark, sf).cache()
    val n = res.count().toDouble
    val acc = res.filter(col("keep") === (col("weak_label") > 0.5)).count() / n
    val posRate = res.filter(col("weak_label") > 0.5).count() / n
    assert(acc >= 0.95 && acc > posRate, s"acc $acc vs majority $posRate")
    res.unpersist()
    // scoring with literal weights is a pure scan projection — the plan
    // that scores 100 TB must have NO exchange
    val plan = QualityModel.scoreQualityLr(d, w4).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring shuffles:\n$plan")
    // serve: cold call trains + persists, warm call reuses the sidecar,
    // both bit-equal to the from-scratch form
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    val servePath = QualityModel.lrServePath(sf)
    rmrf(new java.io.File(servePath))
    def resRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getDouble(3))).toSet
    val direct = resRows(operators.QualityModel.qualityClassifier(spark, sf))
    val cold = resRows(operators.QualityModel.qualityClassifierServe(spark, sf))
    assert(cold == direct, "cold LR serve diverged from from-scratch training")
    val sidecar = new java.io.File(servePath)
    val stamp = sidecar.listFiles.map(f => f.getName -> f.lastModified).toMap
    val warm = resRows(operators.QualityModel.qualityClassifierServe(spark, sf))
    assert(warm == direct, "warm LR serve diverged")
    assert(sidecar.listFiles.map(f => f.getName -> f.lastModified).toMap == stamp,
      "warm LR serve rewrote the sidecar instead of reusing it")
  }

  test("embedding dedup resolve: endpoints co-labeled with the component min id") {
    val pairs = operators.Similarity.embeddingDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = operators.Similarity.embeddingDedupResolve(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty && pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across components")
    }
    labels.foreach { case (id, c) => assert(c <= id, s"canonical $c above member $id") }
    // every canonical id labels itself
    labels.values.toSet.foreach((c: Long) => assert(labels(c) == c))
  }

  test("tfidf terms: ranks dense and ordered, no empty terms, score consistent") {
    val rows = operators.Curation.tfidfTerms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2.nonEmpty), "empty token ranked as a term")
    val n = Tables.documents(spark, sf).count().toDouble
    rows.foreach { case (_, _, tf, df, score, _) =>
      assert(score == tf.toDouble * n / df.toDouble, "score != tf*n/df")
    }
    rows.groupBy(_._1).foreach { case (doc, ts) =>
      assert(ts.length <= operators.Curation.TfIdfTopK, s"doc $doc over K")
      val byRank = ts.sortBy(_._6)
      assert(byRank.map(_._6).toSeq == (1 to ts.length).toSeq, s"doc $doc ranks not dense")
      // rank order == (score desc, term asc)
      val resorted = ts.sortBy(t => (-t._5, t._2))
      assert(resorted.map(_._6).toSeq == (1 to ts.length).toSeq, s"doc $doc order")
    }
  }

  test("word-counts kernel equals the explode + groupBy tokenization on real data") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val d = Tables.documents(spark, sf)
    val kernel = d.select(col("doc_id"),
      explode(call_function(graft.functions.GraftFunctions.WordCountsName, col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term"), col("tc.tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val exploded = d.select(col("doc_id"),
      explode(operators.TextAnalysis.wsTokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(kernel == exploded, "kernel term counts diverged from the explode form")
    // multi-byte and mixed-whitespace text tokenizes identically
    import spark.implicits._
    val tricky = Seq((1L, "  café café\tnaïve\n世界 世界 x  "),
      (2L, ""), (3L, " \t\n ")).toDF("doc_id", "text")
    val k2 = tricky.select(col("doc_id"),
      explode(call_function(graft.functions.GraftFunctions.WordCountsName, col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term"), col("tc.tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(k2 == Map((1L, "café") -> 2L, (1L, "naïve") -> 1L,
      (1L, "世界") -> 2L, (1L, "x") -> 1L), s"tricky tokenization: $k2")
  }

  test("collocations: bounded top-k by lift, counts consistent, no empty endpoints") {
    val rows = operators.Curation.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getInt(6)))
    assert(rows.nonEmpty && rows.length <= operators.Curation.CollocTopK)
    assert(rows.forall(t => t._1.nonEmpty && t._2.nonEmpty), "empty endpoint")
    assert(rows.forall(_._3 >= operators.Curation.CollocMinCount), "below noise floor")
    assert(rows.forall(t => t._3 <= t._4 && t._3 <= t._5), "cab exceeds a position count")
    val byRank = rows.sortBy(_._7)
    assert(byRank.map(_._7).toSeq == (1 to rows.length).toSeq, "ranks not dense")
    val resorted = rows.sortBy(t => (-t._6, t._1, t._2))
    assert(resorted.map(_._7).toSeq == (1 to rows.length).toSeq, "rank order != lift desc")
  }

  test("pii scrub: planted PII redacted with exact counts, clean text untouched") {
    val df = spark.createDataFrame(Seq(
      (1L, "contact bob.smith+x@ex-ample.co.uk or jane@a.io today"),
      (2L, "server at 10.0.255.1 and 192.168.0.42 rebooted"),
      (3L, "call 555-867-5309 or 555 867 5309 x99"),
      (4L, "mixed a@b.co from 8.8.8.8 dial 123-456-7890"),
      (5L, "clean text with no identifiers at all"),
      (6L, "not-an-ip 1234.5.6.7890 and not@ an email"),
      (7L, "a@b.co1.2.3.4"))).toDF("doc_id", "text")
    val out = operators.Curation.piiScrubOf(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(out(1L) == (("contact <EMAIL> or <EMAIL> today", 2, 0, 0)))
    assert(out(2L) == (("server at <IP> and <IP> rebooted", 0, 2, 0)))
    assert(out(3L) == (("call <PHONE> or <PHONE> x99", 0, 0, 2)))
    assert(out(4L) == (("mixed <EMAIL> from <IP> dial <PHONE>", 1, 1, 1)))
    assert(out(5L) == (("clean text with no identifiers at all", 0, 0, 0)))
    // 1234.5.6.7890: \b\d{1,3}\. cannot start inside the 4-digit run;
    // 'not@ an' has no address tail — neither may redact
    assert(out(6L)._2 == 0 && out(6L)._3 == 0 && out(6L)._4 == 0,
      s"false positive: ${out(6L)}")
    // the <EMAIL> placeholder EXPOSES the glued IP (the original text
    // had no word boundary before the 1) — counts are taken per stage,
    // so they reconcile with the placeholders actually present
    assert(out(7L) == (("<EMAIL><IP>", 1, 1, 0)), s"stage counts: ${out(7L)}")
  }

  test("ivfpq knn: partition-pruned code probes, recall bounded, serve reuses generation") {
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val servePath = operators.Similarity.ivfPqServePath(sf)
    Seq("", "_model").foreach(s => rmrf(new java.io.File(servePath + s)))
    val cold = operators.Similarity.knnIvfPqServe(spark, sf)
    // probes must prune the codes scan at the PARTITION level
    val plan = cold.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"), s"probe not pruning partitions:\n$plan")
    val coldRows = rows(cold)
    // recall: same bar as the flat IVF spec (candidates limited by the
    // probed cells; the PQ shortlist + exact re-rank lose nothing more)
    val brute = rows(operators.Similarity.knnBrute(spark, sf)).map(t => (t._1, t._2))
    val hits = coldRows.map(t => (t._1, t._2)).count(brute.contains)
    assert(hits * 4 >= brute.size, s"IVFPQ recall too low: $hits of ${brute.size}")
    // re-ranked cosines are EXACT (they must match brute where recalled)
    val bruteScores = rows(operators.Similarity.knnBrute(spark, sf))
      .map(t => (t._1, t._2) -> t._3).toMap
    coldRows.foreach { case (q, n, c, _) =>
      bruteScores.get((q, n)).foreach(b => assert(b == c, s"($q,$n) cosine inexact"))
    }
    // the serve equals a from-scratch generation built independently
    // (training is deterministic, so a corrupt regroup in either copy
    // would break this equivalence loudly)
    val tmpGen = operators.ServingStore.Generation(
      java.nio.file.Files.createTempDirectory("graftivfpq").toString, Nil)
    val (c2, r2, b2) = operators.Similarity.writeIvfPqIndexOf(
      spark, graft.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").as("vec")), tmpGen)
    assert(rows(operators.Similarity.knnIvfPq(spark, sf, tmpGen.path("lists"), c2, r2, b2)) ==
      coldRows, "serve diverged from an independent from-scratch build")
    // warm serve reuses the generation bit-exactly: the sidecar-named
    // generation and every one of its files untouched
    def sidecar() = operators.ServingStore.readSidecar("ivfpq-index", servePath).get
    val (fp, gen) = sidecar()
    val stamp = genStamp(gen)
    val warm = rows(operators.Similarity.knnIvfPqServe(spark, sf))
    assert(warm == coldRows, "warm IVFPQ serve diverged")
    assert(sidecar() == ((fp, gen)) && genStamp(gen) == stamp,
      "warm IVFPQ serve rewrote the generation")
    // rebuild path: a sidecar stamped with a stale fingerprint must
    // trigger a full rebuild that again equals the original results
    operators.ServingStore.writeSidecar(servePath, fp + 1, gen)
    val rebuilt = rows(operators.Similarity.knnIvfPqServe(spark, sf))
    assert(rebuilt == coldRows, "post-rebuild IVFPQ serve diverged")
    val (fpAfter, genAfter) = sidecar()
    assert(fpAfter == fp && genAfter != gen, "stale fingerprint did not trigger a rebuild")
  }

  test("dup spans: planted cross-doc span flags exactly its gram positions") {
    // docs 1/2 share an 8-word span (4 five-gram positions each); doc 3
    // repeats ITS OWN span twice (within-doc only -> zero dup grams);
    // doc 4 is unique
    val span = "the quick brown fox jumps over lazy dogs"
    val docs = spark.createDataFrame(Seq(
      (1L, s"$span alpha beta gamma delta epsilon"),
      (2L, s"zeta eta theta iota kappa $span"),
      (3L, "one two three four five one two three four five"),
      (4L, "unique words only appearing here once ever")
    )).toDF("doc_id", "text")
    val res = operators.Dedup.dupSpans(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // 13 tokens per doc -> 9 gram positions; the shared 8-word span
    // contributes exactly 4 five-gram positions in each of docs 1 and 2
    assert(res(1L) == ((9L, 4L, 4.0 / 9.0)), s"doc1: ${res(1L)}")
    assert(res(2L) == ((9L, 4L, 4.0 / 9.0)), s"doc2: ${res(2L)}")
    // doc 3: 10 tokens -> 6 positions, all grams self-repeated only
    assert(res(3L) == ((6L, 0L, 0.0)), s"doc3: ${res(3L)}")
    assert(res(4L)._2 == 0L)
    // partition invariance of the integer counters + single division
    val rep = operators.Dedup.dupSpans(docs.repartition(5)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rep == res)
  }

  test("lm support: attested transitions outscore scrambled text; partition-invariant") {
    val fluent = "the cat sat on the mat " * 5
    val docs = spark.createDataFrame(Seq(
      (1L, fluent.trim),
      (2L, fluent.trim),
      // same unigrams as doc 1 (identical rarity profile) but shuffled
      // word order — only the TRANSITION signal can tell them apart
      (3L, ("mat the on cat the sat " * 5).trim),
      (4L, "sat")) // single token: no bigrams, must be absent
    ).toDF("doc_id", "text")
    val res = operators.Curation.lmScoreOf(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    assert(!res.contains(4L), "bigram-less doc leaked into the scores")
    res.values.foreach { case (nb, num, den, score, minSup) =>
      assert(nb > 0 && num <= den && minSup >= 1 && score > 0 && score <= 1.0)
    }
    assert(res(1L) == res(2L), "identical docs scored differently")
    assert(res(1L)._4 > res(3L)._4,
      s"scrambled text (${res(3L)._4}) not below fluent text (${res(1L)._4})")
    // bit-determinism under partitioning: the score is ONE division of two
    // integer sums, so any partition layout must give identical doubles
    val rep = operators.Curation.lmScoreOf(docs.repartition(7)).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    assert(rep == res, "lm_score changed under repartitioning")
  }

  test("dedup excise: planted shared spans are removed, unique text survives verbatim") {
    import spark.implicits._
    val boiler = "all rights reserved contact us for details" // 7 tokens > ShingleN
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler delta epsilon"),
      (2L, s"zeta eta theta $boiler iota kappa"),
      (3L, "completely unique text with no shared spans at all"),
      (4L, "tiny")) // shorter than a shingle: passes through untouched
      .toDF("doc_id", "text")
    val res = operators.Dedup.dedupExcise(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the shared boilerplate vanishes from BOTH carriers; their unique
    // flanks survive in order (the boundary grams straddling unique +
    // shared tokens are themselves unique, so flanks keep their edges)
    assert(res(1L)._3 == "alpha beta gamma delta epsilon", s"${res(1L)}")
    assert(res(2L)._3 == "zeta eta theta iota kappa", s"${res(2L)}")
    assert(res(1L)._1 == 12L && res(1L)._2 == 5L)
    // untouched docs come back token-joined but content-identical
    assert(res(3L)._3 == "completely unique text with no shared spans at all")
    assert(res(3L)._1 == res(3L)._2)
    assert(res(4L)._3 == "tiny" && res(4L)._2 == 1L)
    // real data: excision only ever removes (n_kept <= n_tokens), and
    // some doc actually loses a span on this corpus
    val real = operators.Dedup.dedupExcise(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(real.forall { case (n, k) => k <= n })
    assert(real.exists { case (n, k) => k < n }, "no spans excised on real data")
  }

  test("dedup excise: alternating-duplication worst case stays linear and exact") {
    // The pathological shape the r10 HOF form was quadratic on: every
    // shared 5-gram separated by ONE unique token, so coverage collapses
    // to nothing — M DISJOINT intervals over 6M tokens. The fused
    // two-pointer kernel decides each token in O(1) amortized; this spec
    // pins exactness on that shape (timing is bounded by the stress
    // tool, not a flaky wall-clock assert here).
    import spark.implicits._
    val m = 400
    def doc(tag: String): String = (0 until m).map { i =>
      s"p${i}a p${i}b p${i}c p${i}d p${i}e u$i$tag"
    }.mkString(" ")
    val docs = Seq((1L, doc("x")), (2L, doc("y"))).toDF("doc_id", "text")
    val res = operators.Dedup.dedupExcise(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // every shared 5-gram is excised; only the per-doc unique separators
    // survive, in order — the straddling grams contain a unique token and
    // never flag, so interval count is exactly m (disjoint)
    assert(res(1L)._1 == 6L * m && res(1L)._2 == m.toLong)
    assert(res(1L)._3 == (0 until m).map(i => s"u${i}x").mkString(" "))
    assert(res(2L)._3 == (0 until m).map(i => s"u${i}y").mkString(" "))
  }

  test("lm score: store-served equals from-scratch counts on real data") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(operators.Curation.lmScore(spark, sf)) ==
      rows(operators.Curation.lmScoreOf(Tables.documents(spark, sf))),
      "persisted LM-stats serve diverged from from-scratch counts")
  }

  test("rarity score invariants: rare counts bounded, min <= mean") {
    val res = operators.Curation.rarityScore(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (nd, minDf, meanDf, nRare) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))
      assert(nRare >= 0 && nRare <= nd, s"n_rare bounded: $r")
      assert(minDf >= 1 && minDf.toDouble <= meanDf, s"min <= mean: $r")
    }
  }
}
