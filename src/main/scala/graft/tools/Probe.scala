package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Mode-dispatched one-off probe main (r17 verdict #6): every
  * investigation probe lives here behind a mode keyword instead of its
  * own main.
  *
  * Run: `sbt 'runMain graft.tools.Probe <mode> [args]'`, modes:
  *   vd        — video/crossmodal/image dedup row counts at two SFs
  *   media     — media-query rows + planted ground-truth visibility
  *   idf       — inline vs served IDF-simhash timings
  *   recall    — ANN ladder mean recall@10
  *   resolve   — candidate-pair vs component-resolution stage costs
  *   lm        — LM-scoring stage decomposition
  *   qt        — quality-thresholds stage decomposition
  *   fusion    — cosine-fusion rule on/off timings
  *   barrier   — localCheckpoint pinned-storage bound over suite passes
  *   skew      — valve gate over a `MakeSf ... skew` corpus: candidate
  *               bounds asserted, drop accounting + dedup timings as
  *               one JSON line (round_close embeds it)
  *   pins      — (rows, checksum) generator for pins outside the
  *               no-oracle family
  *   exchanges — ShuffleExchange count of the collapse-serve plan under
  *               the PlatformSpec tripwire's conditions (no broadcast,
  *               no AQE) — the measurement the tripwire bound is set by
  * Not part of the driver contract.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("exchanges")
    val rest = args.drop(1)
    mode match {
      case "vd" => vd()
      case "media" => media(rest)
      case "idf" => idf()
      case "recall" => recall(rest)
      case "resolve" => resolve()
      case "lm" => lm()
      case "mh" => mh(rest)
      case "qt" => qt()
      case "fusion" => fusion()
      case "barrier" => barrier()
      case "exchanges" => exchanges(rest)
      case "pins" => pins(rest)
      case "skew" => skew(rest)
      case other =>
        System.err.println(s"unknown probe mode '$other'"); sys.exit(2)
    }
  }

  private def vd(): Unit = {
    val spark = GraftSession.local("vd-check")
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val n = SparkEntry.queries("q_video_dedup")(spark, sf).count()
      val nx = SparkEntry.queries("q_media_crossmodal")(spark, sf).count()
      val ni = SparkEntry.queries("q_image_dedup")(spark, sf).count()
      println(s"[vd] $sf video_dedup=$n crossmodal=$nx image_dedup=$ni")
    }
    spark.stop()
  }

  private def media(args: Array[String]): Unit = {
    val spark = GraftSession.local("media-check")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    Seq("q_image_phash", "q_audio_phash", "q_video_mosaic", "q_image_dedup",
      "q_video_dedup", "q_media_crossmodal").foreach { q =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      println(f"[mediacheck] $q%-20s rows=$n%-6d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // planted ground truth visibility
    val vd = SparkEntry.queries("q_video_dedup")(spark, dir)
    val planted = vd.filter(
      col("media_b") - col("media_a") === Multimodal.DupIdOffset).count()
    println(s"[mediacheck] video planted pairs found: $planted")
    val cm = SparkEntry.queries("q_media_crossmodal")(spark, dir)
    val thumb = cm.filter(
      col("image_id") - col("video_id") === Multimodal.ThumbIdOffset).count()
    println(s"[mediacheck] thumbnail matches found: $thumb")
    spark.stop()
  }

  private def idf(): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-idfprobe")
    def time(n: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[idf] $n%-14s ${(System.nanoTime() - t0) / 1e9}%6.2fs  $r rows")
    }
    Dedup.simhashIdfDedup(spark, dir).count() // warm both once
    Dedup.simhashIdfDedup(Tables.documents(spark, dir)).count()
    (1 to 4).foreach { i =>
      time(s"inline_$i") { Dedup.simhashIdfDedup(Tables.documents(spark, dir)).count() }
      time(s"served_$i") { Dedup.simhashIdfDedup(spark, dir).count() }
    }
    spark.stop()
  }

  /** ANN ladder mean recall@10 — the measurement harness for
    * index-quality changes: run before and after, compare. */
  private def recall(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local("graft-recall-probe")
    def mean(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val m = df.select(col("query_id"), col("recall_at_k")).distinct()
        .agg(avg(col("recall_at_k"))).head().getDouble(0)
      println(f"RECALL $name%-8s $m%.4f")
    }
    mean("lsh", Similarity.knnLsh(spark, dir))
    mean("ivf", Similarity.knnIvfServe(spark, dir))
    mean("pq", Similarity.knnPqServe(spark, dir))
    mean("ivfpq", Similarity.knnIvfPqServe(spark, dir))
    spark.stop()
  }

  /** Candidate-pair generation vs full component resolution for the
    * n-gram and embedding graphs; prints the star-loop round count
    * (0 = the size-adaptive driver union-find path served the call). */
  private def resolve(): Unit = {
    val spark = GraftSession.builder("probe").master("local[32]").getOrCreate()
    val dir = "/root/testdata/sf0.1"
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        s"(rounds=${Dedup.lastResolveRounds})")
      r
    }
    Dedup.dedupResolveServe(spark, dir).count() // warm
    for (i <- 1 to 2) {
      time(s"pairs_only_$i")(Dedup.ngramJaccardServe(spark, dir).count())
      time(s"resolve_default_$i")(Dedup.dedupResolveServe(spark, dir).count())
      time(s"emb_pairs_$i")(Similarity.embeddingDedup(spark, dir).count())
      time(s"emb_resolve_$i")(Similarity.embeddingDedupResolve(spark, dir).count())
    }
    spark.stop()
  }

  /** Stage-cost decomposition for the minhash serve (r19 verdict #7:
    * 0.232s at sf0.1 vs r17's 0.155s — find which expansion stage owns
    * the constant). Replicates [[Dedup.minhashDedupCollapsed]]'s
    * internals over ONE shared hot checkpoint so each arm times its own
    * marginal work, not a fresh materialization. */
  private def mh(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-mh-probe")
    def time(name: String, iters: Int = 5)(f: => Long): Unit = {
      f // warm
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[mhprobe] $name%-24s med=${ts.map(_._1).sorted.apply(iters / 2)}%.3f  rows=${ts.head._2}")
    }
    val full = SparkEntry.queries("q_dedup_minhash")(spark, dir)
    time("full_served_plan")(full.count())
    val sigs = Dedup.serveMinhashSigs(spark, dir)
    time("sig_scan")(sigs.count())
    val m0 = sigs.localCheckpoint(eager = true)
    time("checkpoint_scan")(m0.count())
    val sigCols = (0 until Dedup.MinHashK).map(j => col(s"sig_$j"))
    val reps = m0.filter(col("doc_id") === col("class_id"))
      .select(col("class_id").as("doc_id") +: sigCols: _*)
    val repPairs = Dedup.minhashDedupFromSigs(reps, 0.5)
    time("rep_pairs")(repPairs.count())
    val members = m0.select(col("doc_id"), col("class_id"))
    val cross = repPairs
      .join(members.select(col("class_id").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(members.select(col("class_id").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("est_jaccard"))
    time("cross_expand")(cross.count())
    val self = members.as("x")
      .join(members.as("y"),
        col("x.class_id") === col("y.class_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("est_jaccard"))
    time("self_expand")(self.count())
    time("union_all")(cross.unionByName(self).count())
    spark.stop()
  }

  /** Stage-cost probe for the LM scoring stream. */
  private def lm(): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-lmprobe")
    graft.operators.Curation.lmScore(spark, dir).count() // warm + store
    def time(name: String, iters: Int)(f: => Long): Unit = {
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[lmprobe] $name%-18s med=${ts(iters / 2)}%.3f min=${ts.head}%.3f")
    }
    val d = Tables.documents(spark, dir)
    time("scan_text", 5)(d.select(col("doc_id"), length(col("text"))).count())
    val words = split(regexp_replace(trim(col("text")), "\\s+", " "), " ")
    time("tokenize_regex", 5)(d.select(aggregate(
      transform(words, w => xxhash64(w)), lit(0L), (acc, x) => acc + x)).count())
    val h = d.select(col("doc_id"),
      transform(words, w => xxhash64(w)).as("h")).filter(size(col("h")) >= 2)
    time("bigram_stream", 5)(h.select(col("doc_id"),
      explode(expr("transform(sequence(1, size(h) - 1), " +
        "i -> struct(element_at(h, i) AS a, element_at(h, i + 1) AS b))")).as("bg"))
      .count())
    time("full_serve", 5)(graft.operators.Curation.lmScore(spark, dir).count())
    spark.stop()
  }

  /** Stage-cost decomposition for q_quality_thresholds (r14: the sf1
    * pair left it >2x with a 1.4s exec share — find the stage). */
  private def qt(): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-qtprobe")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def time(name: String)(f: => Long): Unit = {
      f // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[qtprobe] $name%-34s ${ts.map(_._1).sorted.apply(1)}%6.3fs  rows=${ts.head._2}")
    }
    val docs = Tables.documents(spark, dir)
    time("docs.count") { docs.count() }
    val ts0 = docs.select(col("doc_id"),
      call_function(graft.functions.GraftFunctions.TextStatsName, col("text")).as("ts"))
    time("kernel scan (agg over stats)") {
      ts0.select(col("ts")).agg(count(col("ts"))).collect()(0).getLong(0)
    }
    time("dedupExact census") { TextAnalysis.dedupExact(spark, dir).count() }
    time("scored = semi-join + kernel") {
      TextAnalysis.scoredCorpus(spark, dir).agg(count(lit(1))).collect()(0).getLong(0)
    }
    time("thresholds (exact percentile)") {
      TextAnalysis.qualityThresholds(spark, dir).count()
    }
    time("thresholds (KLL approx)") {
      TextAnalysis.qualityThresholds(spark, dir, approx = true).count()
    }
    spark.stop()
  }

  /** Cosine-fusion optimizer rule on/off timings. */
  private def fusion(): Unit = {
    val spark = GraftSession.local("fusion-probe")
    val dir = "/root/testdata/sf0.1"
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 1000)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val pairs = vecs.crossJoin(
      vecs.select(col("vec_id").as("vb"), col("embedding").as("eb")))
    def hof = pairs.select(Similarity.cosineHof(
        transform(col("embedding"), x => x.cast("double")),
        transform(col("eb"), x => x.cast("double"))).as("c"))
      .agg(count(when(col("c") > 0.9, 1)))
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[probe] $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    }
    println("[probe] optimized contains graft_cosine: " +
      hof.queryExecution.optimizedPlan.toString.contains("graft_cosine"))
    time("hof_with_rule") { hof.collect() }
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq.empty
    println("[probe] rule removed; contains graft_cosine: " +
      hof.queryExecution.optimizedPlan.toString.contains("graft_cosine"))
    time("hof_no_rule") { hof.collect() }
    time("hof_no_rule_2") { hof.collect() }
    spark.stop()
  }

  /** Storage-bound probe for the localCheckpoint lineage barriers (r14
    * verdict #5): a full suite pass, then repeated barrier-bearing
    * queries, reporting pinned RDD block storage after each stage.
    * Run with SPARK_GRAFT_SF_DIR=/tmp/sf1 for the r14 shape. */
  private def barrier(): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val spark = GraftSession.local("graft-barrier-probe")
    val sc = spark.sparkContext
    def report(stage: String): Unit = {
      val infos = sc.getRDDStorageInfo
      val bytes = infos.map(i => i.memSize + i.diskSize).sum
      println(f"[barrier] $stage%-28s blocks=${infos.map(_.numCachedPartitions).sum}%4d " +
        f"rdds=${infos.length}%3d pinned=${bytes / 1024.0 / 1024.0}%8.1f MiB")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, dir).count()
      catch { case e: Throwable =>
        println(s"[barrier] $n FAILED: ${e.getClass.getName}") }
    }
    report("after full suite pass")
    val barrierQs = Seq("q_corpus_clean", "q_corpus_stats", "q_quality_thresholds",
      "q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram")
    (1 to 5).foreach { i =>
      barrierQs.foreach(n => SparkEntry.queries(n)(spark, dir).count())
      report(s"after barrier round $i")
    }
    System.gc(); Thread.sleep(2000)
    report("after gc settle")
    spark.stop()
  }

  /** Skew-tier valve gate (r17 verdict #5; r18 verdict #3 hardening)
    * over a `MakeSf ... skew` corpus: mutated replicas are DISTINCT
    * texts, so they bypass the collapses and land on the hot-cap
    * valves. The gate censuses all THREE valves (posting shingles,
    * simhash chunk buckets, minhash band buckets) through the same hot
    * filters the operators apply, ASSERTS each bound (capped Σdf² <=
    * cap × rows), and — when the caps are lowered via the
    * GRAFT_*_CAP envs (round_close passes them; r18's committed run
    * showed the default caps never bind on this corpus, so the
    * drop-accounting path went untested) — REQUIRES that the
    * shingle valve demonstrably engaged (nonzero hot buckets AND
    * nonzero dropped rows AND capped < uncapped) and that the dedup
    * family still emits rows end to end THROUGH the engaged valves.
    * All drop accounting + wall times land in one [skewgate] JSON line
    * for round_close to embed. */
  private def skew(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1skew")
    val spark = GraftSession.local("graft-skew-probe")
    import graft.operators.Dedup
    val overridden = Seq("GRAFT_HOT_SHINGLE_CAP", "GRAFT_SIMHASH_CHUNK_CAP",
      "GRAFT_BAND_BUCKET_CAP").exists(sys.env.contains)
    // 1. posting-shingle census, computed independently of the query
    // plan through the same hot filter the operators apply
    val table = Dedup.ensurePostings(spark, dir)
    val dfs = spark.table(table).groupBy(col("h")).agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val row = dfs.agg(
      sum(col("df")).as("postings"),
      sum(col("df") * col("df")).as("uncapped_cand"),
      sum(when(col("df") <= Dedup.HotShingleCap, col("df") * col("df"))
        .otherwise(0L)).as("capped_cand"),
      sum(when(col("df") > Dedup.HotShingleCap, lit(1L)).otherwise(0L)).as("hot_shingles"),
      sum(when(col("df") > Dedup.HotShingleCap, col("df")).otherwise(0L)).as("dropped_postings"))
      .head()
    val postings = row.getLong(0)
    val uncapped = row.getLong(1)
    val capped = row.getLong(2)
    val hotShingles = row.getLong(3)
    val droppedPostings = row.getLong(4)
    require(capped <= postings * Dedup.HotShingleCap,
      s"posting candidate bound violated: $capped > $postings x ${Dedup.HotShingleCap}")
    // 2. simhash chunk census — the doc-level form the inline valve
    // filters on ([[Dedup.chunkedHammingPairs]]): one row per (doc,
    // chunk), hotness per 16-bit (c, v) bucket
    val sigs = Dedup.serveSimhashSigs(spark, dir)
    val chunkCensus = sigs.select(col("doc_id"),
        explode(array((0 until Dedup.Chunks).map(c =>
          struct(lit(c).as("c"),
            shiftrightunsigned(col("simhash"), c * 16)
              .bitwiseAND(lit(0xFFFFL)).as("v"))): _*)).as("ch"))
      .groupBy(col("ch.c").as("c"), col("ch.v").as("v"))
      .agg(count(lit(1)).as("df"))
      .agg(
        sum(when(col("df") > Dedup.SimHashChunkCap, lit(1L)).otherwise(0L)).as("hot"),
        sum(when(col("df") > Dedup.SimHashChunkCap, col("df")).otherwise(0L)).as("dropped"),
        max(col("df")).as("max_df"))
      .head()
    // 3. minhash band-bucket census — the [[Dedup.firstSharedBandPairs]]
    // hot probe's census over the served signature generation
    val msigs = Dedup.serveMinhashSigs(spark, dir)
    val bandCols = (0 until Dedup.Bands).map { b =>
      xxhash64((0 until Dedup.RowsPerBand)
        .map(r => col(s"sig_${b * Dedup.RowsPerBand + r}")): _*)
    }
    val bandCensus = msigs
      .select(posexplode(array(bandCols: _*)))
      .toDF("band", "bucket")
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("df"))
      .agg(
        sum(when(col("df") > Dedup.BandBucketCap, lit(1L)).otherwise(0L)).as("hot"),
        sum(when(col("df") > Dedup.BandBucketCap, col("df")).otherwise(0L)).as("dropped"),
        max(col("df")).as("max_df"))
      .head()
    if (overridden) {
      // PER-VALVE engagement (r19 ADVICE: the single shingle require let
      // the band valve ride the gate without ever engaging — its r19 run
      // showed max_df 18 vs cap 20, drop path untested; and a future
      // corpus change could silently un-engage the chunk valve too).
      // Every overridden cap must demonstrably BIND: nonzero hot buckets
      // and nonzero dropped rows, per valve.
      require(hotShingles > 0 && droppedPostings > 0 && capped < uncapped,
        s"cap override set but the shingle valve never engaged " +
          s"(hot=$hotShingles dropped=$droppedPostings capped=$capped " +
          s"uncapped=$uncapped) — the skew corpus or the override is wrong")
      require(chunkCensus.getLong(0) > 0 && chunkCensus.getLong(1) > 0,
        s"cap override set but the simhash chunk valve never engaged " +
          s"(hot=${chunkCensus.getLong(0)} dropped=${chunkCensus.getLong(1)} " +
          s"max_df=${chunkCensus.getLong(2)} cap=${Dedup.SimHashChunkCap})")
      require(bandCensus.getLong(0) > 0 && bandCensus.getLong(1) > 0,
        s"cap override set but the minhash band valve never engaged " +
          s"(hot=${bandCensus.getLong(0)} dropped=${bandCensus.getLong(1)} " +
          s"max_df=${bandCensus.getLong(2)} cap=${Dedup.BandBucketCap}) — " +
          "lower GRAFT_BAND_BUCKET_CAP below the corpus's band max_df")
    }
    def timed(name: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val timings = Seq("q_dedup_ngram", "q_dedup_resolve", "q_dedup_minhash",
      "q_dedup_simhash", "q_dup_spans").map { n => (n, timed(n)) }
    if (overridden) timings.foreach { case (n, (_, rows)) =>
      require(rows > 0, s"$n emitted 0 rows through the engaged valves — " +
        "a cap drop path is silently swallowing the corpus (the r17 " +
        "FrameHashCap vacuity shape)")
    }
    val qs = timings.map { case (n, (s, rows)) =>
      f""""$n":{"sec":$s%.2f,"rows":$rows}"""
    }
    println(s"""[skewgate] {"postings":$postings,"uncapped_cand":$uncapped,""" +
      s""""capped_cand":$capped,"hot_shingles":$hotShingles,""" +
      s""""dropped_postings":$droppedPostings,""" +
      s""""cand_bound":${postings * Dedup.HotShingleCap},""" +
      s""""caps":{"shingle":${Dedup.HotShingleCap},"chunk":${Dedup.SimHashChunkCap},""" +
      s""""band":${Dedup.BandBucketCap},"overridden":$overridden},""" +
      s""""simhash_chunks":{"hot":${chunkCensus.getLong(0)},""" +
      s""""dropped":${chunkCensus.getLong(1)},"max_df":${chunkCensus.getLong(2)}},""" +
      s""""minhash_bands":{"hot":${bandCensus.getLong(0)},""" +
      s""""dropped":${bandCensus.getLong(1)},"max_df":${bandCensus.getLong(2)}},""" +
      qs.mkString(",") + "}")
    spark.stop()
  }

  /** (rows, checksum) for arbitrary queries at both pin SFs — the
    * generator for pins OUTSIDE the no-oracle family (the pack pins,
    * QueriesSpec's oracledPins: queries whose oracle only gates through
    * the round-close pipeline keep a unit-visible pin too, r17 ADVICE).
    * `Probe pins q_pack_sequences,q_pack_bucketed` */
  private def pins(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_pack_sequences,q_pack_bucketed")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.local("graft-pin-probe")
    for (sf <- Seq(Golden.PinSf, Golden.PinSf2); q <- names) {
      val (n, h) = Golden.checksum(SparkEntry.queries(q)(spark, sf))
      println(s"""PIN $sf "$q" -> (${n}L, "$h"),""")
    }
    spark.stop()
  }

  /** ShuffleExchange census of the collapse-serve plan under the
    * PlatformSpec tripwire's exact conditions — the number the tripwire
    * bound is derived from (measured value + small margin, r17 ADVICE). */
  private def exchanges(args: Array[String]): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local("graft-exchange-probe")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val df = Dedup.ngramJaccardServe(spark, dir, threshold = 0.3)
    val n = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.size
    println(s"[exchanges] ngramJaccardServe($dir) shuffle exchanges = $n")
    spark.stop()
  }
}
