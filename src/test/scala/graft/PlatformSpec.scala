package graft

import graft.functions.GraftFunctions
import graft.operators.Multimodal
import graft.streaming.EventStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp

/** Streaming, multimodal, native-expression, and source surfaces. */
class PlatformSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local("graft-platform-test")

  override def afterAll(): Unit = spark.stop()

  test("native cosine matches the higher-order-function formulation") {
    GraftFunctions.ensureRegistered(spark)
    val df = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding"))
    val pairs = df.crossJoin(
      df.select(col("vec_id").as("vb"), col("embedding").as("eb"))).limit(500)
    val cmp = pairs.select(
      GraftFunctions.graftCosine(col("embedding"), col("eb")).as("native"),
      operators.Similarity.cosineHof(
        transform(col("embedding"), x => x.cast("double")),
        transform(col("eb"), x => x.cast("double"))).as("hof"))
    assert(cmp.filter("abs(native - hof) > 1e-9").count() == 0)
  }

  test("cosine fusion rule rewrites the HOF pattern into the fused kernel") {
    GraftFunctions.ensureRegistered(spark)
    val v = transform(col("embedding"), x => x.cast("double"))
    val df = Tables.embeddings(spark, sf).limit(20)
      .select(operators.Similarity.cosineHof(v, v).as("c"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_cosine"), s"fusion rule did not fire:\n$opt")
    assert(df.filter("abs(c - 1.0) > 1e-6").count() == 0)
    // zero-norm vectors: the HOF form evaluates 0.0/0.0 = NaN; the rewrite
    // must preserve that (NaN sorts greatest — NULL would reorder rankings)
    val zf = spark.sql("SELECT array(0.0d, 0.0d) AS z")
      .select(operators.Similarity.cosineHof(col("z"), col("z")).as("c"))
    assert(zf.queryExecution.optimizedPlan.toString.contains("graft_cosine"))
    assert(zf.filter(isnan(col("c"))).count() == 1, "fused zero-norm must stay NaN")
    // null element and length mismatch: HOF yields NULL; rewrite must too
    val ef = spark.sql(
      "SELECT array(1.0d, cast(null AS double)) AS v, array(1.0d, 2.0d) AS w, array(3.0d) AS s")
      .select(
        operators.Similarity.cosineHof(col("v"), col("w")).as("c_nullelem"),
        operators.Similarity.cosineHof(col("s"), col("w")).as("c_lenmismatch"))
    assert(ef.queryExecution.optimizedPlan.toString.contains("graft_cosine"))
    val er = ef.collect()(0)
    assert(er.isNullAt(0), "null element must stay NULL through the rewrite")
    assert(er.isNullAt(1), "length mismatch must stay NULL through the rewrite")
  }

  test("dot and l2 kernels match their higher-order-function equivalents") {
    GraftFunctions.ensureRegistered(spark)
    val df = Tables.embeddings(spark, sf).limit(40)
      .select(col("vec_id"), col("embedding"))
    val pairs = df.crossJoin(
      df.select(col("vec_id").as("vb"), col("embedding").as("eb"))).limit(400)
    val a = transform(col("embedding"), x => x.cast("double"))
    val b = transform(col("eb"), x => x.cast("double"))
    val cmp = pairs.select(
      GraftFunctions.graftDot(col("embedding"), col("eb")).as("ndot"),
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x).as("hdot"),
      GraftFunctions.graftL2sq(col("embedding"), col("eb")).as("nl2"),
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (s, x) => s + x).as("hl2"))
    assert(cmp.filter("abs(ndot - hdot) > 1e-9 OR abs(nl2 - hl2) > 1e-9").count() == 0)
  }

  test("native cosine of a vector with itself is 1") {
    GraftFunctions.ensureRegistered(spark)
    val df = Tables.embeddings(spark, sf)
      .select(GraftFunctions.graftCosine(col("embedding"), col("embedding")).as("c"))
    assert(df.filter("abs(c - 1.0) > 1e-6").count() == 0)
  }

  test("streaming windowed agg matches the batch twin's totals") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStream.Event]
    val events = Seq(
      EventStream.Event(1, 1, Timestamp.valueOf("2024-01-01 10:05:00"), "view", 1.0),
      EventStream.Event(1, 2, Timestamp.valueOf("2024-01-01 10:45:00"), "view", 2.0),
      EventStream.Event(2, 3, Timestamp.valueOf("2024-01-01 11:05:00"), "click", 3.0),
      // late-but-within-watermark event
      EventStream.Event(2, 4, Timestamp.valueOf("2024-01-01 10:55:00"), "view", 4.0))
    val q = EventStream.windowedAgg(input.toDF())
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
      val h11 = Timestamp.valueOf("2024-01-01 11:00:00").getTime
      assert(rows.contains((h10, "view", 3L)))
      assert(rows.contains((h11, "click", 1L)))
    } finally q.stop()
  }

  test("streaming sessionization closes a session after a >30min gap") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 09:00:00")
      val t1 = Timestamp.valueOf("2024-01-01 09:10:00")
      val t2 = Timestamp.valueOf("2024-01-01 10:00:00") // 50min gap -> new session
      input.addData(
        EventStream.Event(7, 1, t0, "view", 1.0),
        EventStream.Event(7, 2, t1, "view", 2.0),
        EventStream.Event(7, 3, t2, "view", 4.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[EventStream.Session].collect()
      assert(sessions.exists(s =>
        s.user_id == 7 && s.session_start_ms == t0.getTime &&
          s.session_end_ms == t1.getTime && s.n_events == 2 && s.total_value == 3.0),
        s"got: ${sessions.mkString(", ")}")
    } finally q.stop()
  }

  test("streaming sessionization merges state across micro-batches and emits on timeout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("xbatch_sessions")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 09:00:00")
      val t1 = Timestamp.valueOf("2024-01-01 09:10:00")
      input.addData(
        EventStream.Event(42, 1, t0, "view", 1.0),
        EventStream.Event(42, 2, t1, "view", 2.0))
      q.processAllAvailable()
      // second batch continues the same session (within the 30min gap)
      val t2 = Timestamp.valueOf("2024-01-01 09:20:00")
      input.addData(EventStream.Event(42, 3, t2, "view", 4.0))
      q.processAllAvailable()
      // advance the watermark far past the session so the timeout fires
      input.addData(EventStream.Event(
        99, 9, Timestamp.valueOf("2024-01-02 12:00:00"), "view", 0.0))
      q.processAllAvailable()
      input.addData(EventStream.Event(
        99, 10, Timestamp.valueOf("2024-01-03 12:00:00"), "view", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("xbatch_sessions").as[EventStream.Session].collect()
      val merged = sessions.find(_.user_id == 42)
      assert(merged.exists(s =>
        s.session_start_ms == t0.getTime && s.session_end_ms == t2.getTime &&
          s.n_events == 3 && s.total_value == 7.0),
        s"cross-batch session wrong: ${sessions.mkString(", ")}")
    } finally q.stop()
  }

  test("stream-stream interval join attaches in-window rates and drops stale ones") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ev = MemoryStream[EventStream.Event]
    val rt = MemoryStream[EventStream.Rate]
    val q = EventStream.enrichWithRates(ev.toDF(), rt.toDF())
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      rt.addData(
        EventStream.Rate(1, Timestamp.valueOf("2024-01-01 10:00:00"), 1.5),
        EventStream.Rate(1, Timestamp.valueOf("2024-01-01 08:00:00"), 9.9), // stale
        EventStream.Rate(2, Timestamp.valueOf("2024-01-01 10:00:00"), 2.5)) // other key
      ev.addData(
        EventStream.Event(1, 1, Timestamp.valueOf("2024-01-01 10:30:00"), "view", 1.0),
        EventStream.Event(3, 2, Timestamp.valueOf("2024-01-01 10:30:00"), "view", 1.0)) // no rate
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
      // only the in-window rate for the matching key joins; user 3 has no
      // rate and the 08:00 rate is older than the 1h interval
      assert(rows.toSet == Set((1L, 1L, 1.5)), s"got: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("streaming incremental rollup sink equals from-scratch aggregation") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStream.Event]
    val dir = java.nio.file.Files.createTempDirectory("graftroll").toString + "/state"
    val q = EventStream.incrementalRollupSink(input.toDF(), dir).start()
    val all = Seq(
      EventStream.Event(1, 1, Timestamp.valueOf("2024-01-05 10:00:00"), "view", 1.25),
      EventStream.Event(2, 2, Timestamp.valueOf("2024-01-20 11:00:00"), "view", 2.50),
      EventStream.Event(3, 3, Timestamp.valueOf("2024-02-01 12:00:00"), "click", 4.75),
      EventStream.Event(4, 4, Timestamp.valueOf("2024-01-09 13:00:00"), "view", 8.00))
    try {
      // batches split so the January "view" group must MERGE across them
      input.addData(all(0), all(1)); q.processAllAvailable()
      input.addData(all(2), all(3)); q.processAllAvailable()
      val state = spark.read.parquet(dir)
        .select("brand", "year", "month", "sum_dec", "n")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
          r.getDecimal(3).toPlainString, r.getLong(4))).toSet
      val direct = operators.Incremental.partialMonthly(
        all.toDF().select(col("event_type").as("brand"),
          year(col("ts")).as("year"), month(col("ts")).as("month"),
          col("value").as("price")))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
          r.getDecimal(3).toPlainString, r.getLong(4))).toSet
      assert(state == direct, s"state=$state direct=$direct")
    } finally q.stop()
  }

  test("rollup batch application is replay-idempotent and crash-recoverable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftrecov").toString + "/state"
    def ev(id: Long, v: Double) =
      EventStream.Event(id, id, Timestamp.valueOf("2024-01-05 10:00:00"), "view", v)
    def stateSum(): java.math.BigDecimal =
      spark.read.parquet(dir).agg(sum(col("sum_dec"))).collect()(0).getDecimal(0)
    EventStream.applyRollupBatch(Seq(ev(1, 1.0), ev(2, 2.0)).toDF(), 0L, dir)
    assert(stateSum() == new java.math.BigDecimal("3.00"))
    // at-least-once REPLAY of batch 0 must be a no-op, not a double count
    EventStream.applyRollupBatch(Seq(ev(1, 1.0), ev(2, 2.0)).toDF(), 0L, dir)
    assert(stateSum() == new java.math.BigDecimal("3.00"), "replayed batch double-counted")
    EventStream.applyRollupBatch(Seq(ev(3, 4.0)).toDF(), 1L, dir)
    assert(stateSum() == new java.math.BigDecimal("7.00"))
    // crash window: merge for batch 2 completed in tmp (marker present)
    // but the old state deletion/move never ran; replay must adopt the
    // COMPLETE tmp (newer marker) over the live state, then skip batch 2
    val state = java.nio.file.Paths.get(dir)
    val tmp = java.nio.file.Paths.get(dir + "_tmp")
    EventStream.applyRollupBatch(Seq(ev(4, 8.0)).toDF(), 2L, dir) // produce state for batch 2
    java.nio.file.Files.move(state, tmp)                          // simulate: swap never finished
    EventStream.applyRollupBatch(Seq(ev(4, 8.0)).toDF(), 2L, dir) // replay after "crash"
    assert(stateSum() == new java.math.BigDecimal("15.00"),
      "recovery must adopt the completed tmp and not re-merge the batch")
    // a STALE tmp (older marker) must lose to the live state
    val staleTmp = java.nio.file.Paths.get(dir + "_tmp")
    spark.read.parquet(dir).write.mode("overwrite").parquet(staleTmp.toString)
    java.nio.file.Files.write(staleTmp.resolve("_last_batch"), "0".getBytes("UTF-8"))
    EventStream.applyRollupBatch(Seq(ev(5, 16.0)).toDF(), 3L, dir)
    assert(stateSum() == new java.math.BigDecimal("31.00"))
    // a partial marker (crash mid-write) must degrade gracefully, not throw
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir + "_tmp"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir + "_tmp").resolve("_last_batch"), Array.empty[Byte])
    EventStream.applyRollupBatch(Seq(ev(6, 32.0)).toDF(), 4L, dir)
    assert(stateSum() == new java.math.BigDecimal("63.00"))
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      val e1 = EventStream.Event(1, 100, Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1.0)
      input.addData(e1, e1.copy(value = 9.9)) // same event_id re-delivered
      q.processAllAvailable()
      input.addData(e1.copy(event_id = 101, ts = Timestamp.valueOf("2024-01-01 10:01:00")))
      q.processAllAvailable()
      assert(spark.table("deduped").count() == 2)
    } finally q.stop()
  }

  test("streaming forecast model: maintained stats serve forecasts bit-identical to a fresh fit") {
    import graft.streaming.ForecastModelSink
    val obs = operators.Forecast.observationsFrame(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graftfmodel").toString + "/state"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // three micro-batches by month index; the maintained model must equal
    // one-shot training on everything seen, EXACTLY (decimal sums incl.)
    (0 to 2).foreach(i =>
      ForecastModelSink.applyModelBatch(obs.filter(pmod(col("x"), lit(3)) === i), i, dir))
    val oneShot = rows(operators.Forecast.forecastModelFrame(spark, sf))
    assert(rows(spark.read.parquet(dir)) == oneShot)
    // at-least-once replay: re-applying an already-folded batch is a no-op
    ForecastModelSink.applyModelBatch(obs.filter(pmod(col("x"), lit(3)) === 2), 2, dir)
    assert(rows(spark.read.parquet(dir)) == oneShot)
    // forecasts served from the streamed model are bit-identical to the
    // batch operator's fresh fact-scan fit
    assert(rows(operators.Forecast.forecastFromModel(spark, dir)) ==
      rows(operators.Forecast.forecastLinear(spark, sf)))
    // WIDENED state: the per-x layer serves the families whose group-level
    // stats are not associative under merge — monthly seasonality and
    // changepoint hinges (knots move when a batch extends the x-range) —
    // bit-identical to the batch operators' fresh fits
    assert(rows(ForecastModelSink.seasonalForecastFromState(spark, dir)) ==
      rows(operators.Forecast.seasonalForecast(spark, sf)),
      "streamed seasonal forecast diverged from the fact-scan fit")
    assert(rows(ForecastModelSink.changepointForecastFromState(spark, dir)) ==
      rows(operators.Forecast.forecastChangepoint(spark, sf)),
      "streamed changepoint forecast diverged from the fact-scan fit")
    // widened-layer replay idempotency (its own marker)
    ForecastModelSink.applyModelBatch(obs.filter(pmod(col("x"), lit(3)) === 1), 1, dir)
    assert(rows(ForecastModelSink.seasonalForecastFromState(spark, dir)) ==
      rows(operators.Forecast.seasonalForecast(spark, sf)),
      "replayed batch corrupted the widened state")
  }

  test("streaming quality floors: sketch state is replay-safe and rank-exact under capacity; histogram reference still bounds") {
    import graft.streaming.QualityFloors
    val scored = operators.TextAnalysis.scoredCorpus(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graftfloors").toString + "/state"
    def floorsMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    (0 to 2).foreach(i =>
      QualityFloors.applyFloorBatch(scored.filter(col("doc_id") % 3 === i), i, dir))
    val inc = floorsMap(QualityFloors.currentFloors(spark, dir))
    // at-least-once replay: re-applying an already-folded batch is a no-op
    QualityFloors.applyFloorBatch(scored.filter(col("doc_id") % 3 === 2), 2, dir)
    assert(floorsMap(QualityFloors.currentFloors(spark, dir)) == inc)
    val perLang = scored.select("pred_lang", "quality_score").collect()
      .groupBy(_.getString(0)).map { case (l, rows) => l -> rows.map(_.getDouble(1)).sorted }
    assert(perLang.nonEmpty && perLang.keySet == inc.keySet)
    val qq = operators.TextAnalysis.QualityQuantile
    perLang.foreach { case (lang, vs) =>
      val (nDocs, est) = inc(lang)
      // exact populations ride the state regardless of sketch error
      assert(nDocs == vs.length)
      val target = math.floor(qq * (vs.length - 1)).toInt
      if (vs.length < QualityFloors.SketchK)
        // a population under the compactor capacity is stored verbatim:
        // the streamed floor IS the exact order statistic
        assert(est == vs(target), s"$lang: under-capacity sketch not exact ($est vs ${vs(target)})")
      else {
        // compacted: the floor's RANK must sit within the deterministic
        // drift bound of the target (see KllSketch's n·H/k analysis)
        val lo = vs.indexWhere(_ >= est)
        val hi = vs.lastIndexWhere(_ <= est)
        val drift =
          if (lo <= target && target <= hi) 0
          else math.min(math.abs(lo - target), math.abs(hi - target))
        assert(drift <= math.max(1, (0.04 * vs.length).toInt),
          s"$lang: sketch floor rank drifted $drift of ${vs.length}")
      }
    }
    // the retired fixed-bucket histogram stays as the independent
    // reference: merge-order-free bit-exact state whose floor bounds the
    // exact order statistic from below by at most one bucket width
    val parts = (0 to 2).map(i =>
      QualityFloors.partialHistogram(scored.filter(col("doc_id") % 3 === i)))
    val href = floorsMap(QualityFloors.floorsOf(QualityFloors.mergeHistograms(parts)))
    assert(href == floorsMap(QualityFloors.floorsOf(QualityFloors.partialHistogram(scored))))
    perLang.foreach { case (lang, vs) =>
      val (_, est) = href(lang)
      val vLo = vs(math.floor(qq * (vs.length - 1)).toInt)
      assert(est <= vLo + 1e-12 && vLo - est <= 1.0 / QualityFloors.Buckets + 1e-12,
        s"$lang: histogram reference floor $est out of bound vs $vLo")
    }
  }

  test("kll sketch: quantile rank drift bounded under every merge order; exact under capacity; bytes round-trip") {
    import graft.functions.KllSketch
    val n = 60000
    val k = 256
    // deterministic uniform-ish values (byteswap64 as the hash mixer)
    val vals = Array.tabulate(n)(i =>
      (scala.util.hashing.byteswap64(i.toLong) >>> 11).toDouble / (1L << 53).toDouble)
    val sorted = vals.sorted
    val parts = vals.grouped(10000).toArray
    def build(order: Seq[Int]): KllSketch = {
      val sk = new KllSketch(k)
      order.foreach { j =>
        val p = new KllSketch(k)
        parts(j).foreach(p.update)
        sk.merge(p)
      }
      sk
    }
    val orders = Seq(0 until parts.length, (0 until parts.length).reverse,
      Seq(2, 0, 5, 1, 4, 3))
    for (o <- orders; q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val sk = build(o)
      assert(sk.count == n)
      val est = sk.quantile(q)
      val target = q * (n - 1)
      val lo = sorted.indexWhere(_ >= est)
      val hi = sorted.lastIndexWhere(_ <= est)
      val drift =
        if (lo <= target && target <= hi) 0.0
        else math.min(math.abs(lo - target), math.abs(hi - target))
      assert(drift <= 0.02 * n,
        s"order $o q=$q: rank drift $drift exceeds 2% of $n")
      // serialization round-trips the full state bit-exactly
      val rt = KllSketch.fromBytes(sk.toBytes)
      assert(java.util.Arrays.equals(rt.toBytes, sk.toBytes))
      assert(rt.quantile(q) == est)
    }
    // under-capacity sketches are exact at every rank
    val small = new KllSketch(k)
    sorted.take(k - 1).foreach(small.update)
    for (q <- Seq(0.0, 0.1, 0.5, 0.9, 1.0)) {
      val exact = sorted.take(k - 1)(math.floor(q * (k - 2)).toInt)
      assert(small.quantile(q) == exact, s"under-capacity q=$q")
    }
  }

  test("streaming dedup admission: id-ordered stream equals batch dedupExact, replay-safe, first-arrival canonical") {
    import graft.streaming.DedupAdmission
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graftadmit").toString + "/state"
    def storeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // id-ordered 3-way split: the maintained store must equal the batch
    // operator over everything seen (min-per-hash in the first batch
    // containing a hash IS the global min)
    val n = docs.count()
    val bounds = Seq(0L, n / 3, 2 * n / 3, n + 1)
    (0 to 2).foreach { i =>
      DedupAdmission.applyAdmissionBatch(
        docs.filter(col("doc_id") >= bounds(i) && col("doc_id") < bounds(i + 1)), i, dir)
    }
    val inc = storeMap(DedupAdmission.currentStore(spark, dir))
    val batch = storeMap(operators.TextAnalysis.dedupExact(spark, sf))
    assert(inc == batch, "id-ordered streamed store diverged from batch dedupExact")
    // replay: re-applying the last batch is a no-op
    DedupAdmission.applyAdmissionBatch(
      docs.filter(col("doc_id") >= bounds(2)), 2, dir)
    assert(storeMap(DedupAdmission.currentStore(spark, dir)) == inc)
    // first-arrival contract under ADVERSARIAL order: feed a duplicate of
    // an already-admitted text with a SMALLER doc_id — the canonical id
    // must not change, but the copy count must
    val victim = DedupAdmission.currentStore(spark, dir)
      .orderBy(col("keep_doc_id").desc).select("content_hash", "keep_doc_id", "n_copies")
      .head()
    val dupText = docs.filter(col("doc_id") === victim.getLong(1))
      .select("text").head().getString(0)
    val late = spark.createDataFrame(Seq((-1L, dupText))).toDF("doc_id", "text")
    DedupAdmission.applyAdmissionBatch(late, 3, dir)
    val after = storeMap(DedupAdmission.currentStore(spark, dir))
    assert(after(victim.getString(0))._1 == victim.getLong(1),
      "late duplicate evicted the admitted canonical")
    assert(after(victim.getString(0))._2 == victim.getLong(2) + 1,
      "late duplicate did not bump the copy count")
    // store size tracks distinct content, not stream length
    assert(after.size == inc.size)
  }

  test("streaming media admission: id-ordered stream equals the batch key census, " +
      "cross-container duplicates fold, replay-safe") {
    import graft.streaming.MediaAdmission
    import operators.Multimodal
    val media = Multimodal.corpus(spark, sf).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graftmediaadmit").toString + "/state"
    def storeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // id-ordered 3-way split (planted ids sit above 2^40, so percentile
    // bounds keep each batch contiguous in media_id)
    val bounds = media.stat.approxQuantile("media_id", Array(1.0 / 3, 2.0 / 3), 0.0)
    val batches = Seq(
      media.filter(col("media_id") <= bounds(0)),
      media.filter(col("media_id") > bounds(0) && col("media_id") <= bounds(1)),
      media.filter(col("media_id") > bounds(1)))
    batches.zipWithIndex.foreach { case (b, i) =>
      MediaAdmission.applyAdmissionBatch(b, i, dir)
    }
    val inc = storeMap(MediaAdmission.currentStore(spark, dir))
    // batch reference: the one-shot key census over everything seen.
    // The streamed store equals it up to HAMMING RECONCILIATION: the
    // tolerant gate folds a census key arriving AFTER a within-
    // HammingTol same-family key onto that admitted row (exactly what
    // batch hamming dedup would pair), so assert (a) every census key
    // is stored or refused-as-near-copy of a stored key, (b) stored
    // keys are a subset of census keys with their canonical ids,
    // (c) copy counts are conserved overall.
    val ref = storeMap(MediaAdmission.batchCanonical(spark, media))
    def parse(k: String): (String, Long) = {
      val Array(fam, hx) = k.split(":")
      (fam, java.lang.Long.parseUnsignedLong(hx, 16))
    }
    def withinTol(k: String, k2: String): Boolean = {
      val (fam, h) = parse(k); val (fam2, h2) = parse(k2)
      k != k2 && fam == fam2 && fam != "frameroll" &&
        java.lang.Long.bitCount(h ^ h2) <= MediaAdmission.HammingTol
    }
    // census keys with a within-tolerance same-family census neighbor
    // are drift-CLUSTER members: the tolerant gate (store probe +
    // in-batch fold) may legitimately fold them, transitively — their
    // stored canonical is the id of SOME exact copy (>= the census
    // min), not necessarily the census min itself
    val clustered = ref.keySet.filter(k => ref.keySet.exists(withinTol(k, _)))
    assert(inc.keySet.subsetOf(ref.keySet), "streamed store invented keys: " +
      (inc.keySet -- ref.keySet).take(3))
    inc.foreach { case (k, (keep, _)) =>
      if (clustered(k))
        assert(ref(k)._1 <= keep, s"stored canonical for drift-cluster key $k " +
          s"is not an exact copy's id: $keep < census min ${ref(k)._1}")
      else
        assert(ref(k)._1 == keep, s"canonical drifted for isolated key $k: " +
          s"$keep vs ${ref(k)._1}")
    }
    (ref.keySet -- inc.keySet).foreach { k =>
      // a missing census key was folded: by the store probe (within tol
      // of an admitted key) or by the in-batch drift fold (a member of
      // a drift component — within tol of another census key)
      assert(inc.keys.exists(withinTol(k, _)) || clustered(k),
        s"census key $k missing from the streamed store without a " +
          "within-tolerance twin")
    }
    assert(inc.values.map(_._2).sum == ref.values.map(_._2).sum,
      "copy counts not conserved across the hamming reconciliation")
    // the planted duplicate-ingest rows transcode content-identical in
    // (usually) DIFFERENT containers — the perceptual key must fold
    // them: some admitted key carries >1 copy with its canonical BELOW
    // the planted-id offset
    val folded = MediaAdmission.currentStore(spark, dir)
      .filter(col("n_copies") > 1 && col("keep_media_id") < Multimodal.DupIdOffset)
      .count()
    assert(folded > 0, "no planted duplicate folded under its perceptual key")
    // replay: re-applying the last batch is a no-op
    MediaAdmission.applyAdmissionBatch(batches(2), 2, dir)
    assert(storeMap(MediaAdmission.currentStore(spark, dir)) == inc,
      "replaying the last media batch changed the store")
  }

  test("media admission keys frame-only videos by their frame roll") {
    import graft.streaming.MediaAdmission
    import operators.Multimodal
    import spark.implicits._
    // a PPM image with trailing garbage: decodeImage parses the frame,
    // but splitPpmFrames rejects the WHOLE payload, so hashRows takes
    // the stub path and emits per-frame rows with NO mosaic — the
    // asset must still get an admission key (its ordered frame roll)
    val header = "P6\n2 2\n255\n".getBytes("US-ASCII")
    val payloadA = header ++ Array.tabulate(12)(_.toByte) ++ Array[Byte](9, 9, 9)
    // different raster -> different frame hash -> different roll
    val payloadB = header ++ Array.tabulate(12)(i => (255 - i * 20).toByte) ++ Array[Byte](1, 2, 3)
    val items = Seq(
      Multimodal.MediaItem(1L, payloadA, Multimodal.MediaMeta("video", 2, 2, 16000, 1)),
      Multimodal.MediaItem(2L, payloadA, Multimodal.MediaMeta("video", 2, 2, 16000, 1)),
      Multimodal.MediaItem(3L, payloadB, Multimodal.MediaMeta("video", 2, 2, 16000, 1)))
    val store = MediaAdmission.batchCanonical(spark, items.toDF())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rolls = store.filter(_._1.startsWith("frameroll:"))
    assert(rolls.nonEmpty, s"frame-only video produced no admission key: ${store.toSeq}")
    // the identical pair (ids 1, 2) must fold to the first arrival
    val dupRoll = rolls.find(_._2 == 1L)
    assert(dupRoll.exists(_._3 >= 2L),
      s"identical frame-only videos did not fold: ${rolls.toSeq}")
  }

  test("sig sink: streamed micro-batches equal the batch append chain and a cold rebuild") {
    import graft.streaming.SigSink
    import operators.Dedup
    val all = Tables.documents(spark, sf).localCheckpoint()
    val bounds = all.stat.approxQuantile("doc_id", Array(2.0 / 3, 5.0 / 6), 0.0)
    val b0 = all.filter(col("doc_id") <= bounds(0))
    val d1 = all.filter(col("doc_id") > bounds(0) && col("doc_id") <= bounds(1))
    val d2 = all.filter(col("doc_id") > bounds(1))
    def land(dir: String, df: org.apache.spark.sql.DataFrame, first: Boolean): Unit =
      df.write.mode(if (first) "overwrite" else "append")
        .parquet(dir + "/documents.parquet")
    def sigsOf(dir: String) = tools.Golden.checksum(Dedup.serveMinhashSigs(spark, dir))

    // streamed: the file-source shape — each batch's rows land, then
    // the sink folds their signatures (batch 0 = the full ensure)
    val dirS = java.nio.file.Files.createTempDirectory("graftsigsink").toString
    land(dirS, b0, first = true)
    SigSink.applyMinhashBatch(b0, 0, dirS)
    land(dirS, d1, first = false)
    SigSink.applyMinhashBatch(d1, 1, dirS)
    land(dirS, d2, first = false)
    SigSink.applyMinhashBatch(d2, 2, dirS)
    val streamed = sigsOf(dirS)

    // batch-append chain: the appenders' documented discipline
    // (fingerprint snapshotted BEFORE each landing)
    val dirB = java.nio.file.Files.createTempDirectory("graftsigbatch").toString
    land(dirB, b0, first = true)
    Dedup.serveMinhashSigs(spark, dirB).count()
    val fp1 = Dedup.minhashSigsFingerprint(spark, dirB)
    land(dirB, d1, first = false)
    Dedup.appendMinhashSigs(spark, dirB, d1, fp1)
    val fp2 = Dedup.minhashSigsFingerprint(spark, dirB)
    land(dirB, d2, first = false)
    Dedup.appendMinhashSigs(spark, dirB, d2, fp2)
    assert(streamed == sigsOf(dirB),
      "streamed sig store diverged from the batch append chain")

    // cold rebuild over the final corpus: the ground truth both
    // incremental paths must be bit-equal to
    val dirC = java.nio.file.Files.createTempDirectory("graftsigcold").toString
    land(dirC, all, first = true)
    assert(streamed == sigsOf(dirC),
      "streamed sig store diverged from a cold full rebuild")

    // replay of an applied batch id is a marker-skip no-op; a NEW batch
    // id re-delivering already-folded rows self-heals through the
    // protocol's own refusal (no new files -> fingerprint unchanged)
    SigSink.applyMinhashBatch(d2, 2, dirS)
    SigSink.applyMinhashBatch(d2, 3, dirS)
    assert(sigsOf(dirS) == streamed, "replayed/re-delivered batch changed the store")
  }

  test("sig sink: same-window landing race repairs instead of dropping the batch") {
    import graft.streaming.SigSink
    import operators.Dedup
    val all = Tables.documents(spark, sf).localCheckpoint()
    val bounds = all.stat.approxQuantile("doc_id", Array(2.0 / 3, 5.0 / 6), 0.0)
    val b0 = all.filter(col("doc_id") <= bounds(0))
    val d1 = all.filter(col("doc_id") > bounds(0) && col("doc_id") <= bounds(1))
    val d2 = all.filter(col("doc_id") > bounds(1))
    val dir = java.nio.file.Files.createTempDirectory("graftsigrace").toString
    b0.write.mode("overwrite").parquet(dir + "/documents.parquet")
    SigSink.applyMinhashBatch(b0, 0, dir)
    // the r14-review race: batch 2's files land DURING batch 1's append
    // window, so batch 1's postFp stamps a fingerprint that also covers
    // batch 2's files while only batch 1's rows were merged
    d1.write.mode("append").parquet(dir + "/documents.parquet")
    d2.write.mode("append").parquet(dir + "/documents.parquet")
    SigSink.applyMinhashBatch(d1, 1, dir)
    val served1 = Dedup.serveMinhashSigs(spark, dir)
    assert(served1.join(d2.select(col("doc_id")), Seq("doc_id")).isEmpty,
      "precondition lost: batch 2's rows should be missing after batch 1's append")
    // batch 2's own append sees no new files (fingerprint unchanged) —
    // the sink must detect the missing keys and run the repair rebuild,
    // NOT mark the batch applied with its rows absent
    SigSink.applyMinhashBatch(d2, 2, dir)
    val dirC = java.nio.file.Files.createTempDirectory("graftsigracecold").toString
    all.write.mode("overwrite").parquet(dirC + "/documents.parquet")
    assert(tools.Golden.checksum(Dedup.serveMinhashSigs(spark, dir)) ==
      tools.Golden.checksum(Dedup.serveMinhashSigs(spark, dirC)),
      "repaired store diverged from a cold rebuild over the full corpus")
    // and the marker advanced: a replay of batch 2 is a no-op skip
    SigSink.applyMinhashBatch(d2, 2, dir)
  }

  test("media admission refuses a hamming-drifted twin exact keys would admit") {
    import graft.streaming.MediaAdmission
    import operators.{Multimodal, PpmCodec}
    import spark.implicits._
    // the lossy re-encode shape, pixel-controlled: image B decodes to
    // the same 18x16 raster as A except one 2x2 grid cell nudged so
    // EXACTLY one dHash gradient bit flips — a drifted perceptual key
    // with a distinct content_hash (so the exact gate admits it as new
    // content) within HammingTol of the admitted one (so the tolerant
    // gate must refuse it)
    val w = 18; val h = 16
    def rgbOf(bump: Option[(Int, Int)]): Array[Byte] = {
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val v = bump match {
          case Some((bx, by)) if x == bx * 2 && y == by * 2 => 200
          case _ => x * 10
        }
        val p = (y * w + x) * 3
        rgb(p) = v.toByte; rgb(p + 1) = v.toByte; rgb(p + 2) = v.toByte
      }
      rgb
    }
    val a = Multimodal.MediaItem(1L, PpmCodec.encode(w, h, rgbOf(None)),
      Multimodal.MediaMeta("image", w, h, 16000, 1))
    val b = Multimodal.MediaItem(2L, PpmCodec.encode(w, h, rgbOf(Some((3, 4)))),
      Multimodal.MediaMeta("image", w, h, 16000, 1))
    val (keyA, hashA) = MediaAdmission.batchCanonical(spark, Seq(a).toDF())
      .collect().map(r => (r.getString(0), r.getAs[Long]("hash"))).head
    val (keyB, hashB) = MediaAdmission.batchCanonical(spark, Seq(b).toDF())
      .collect().map(r => (r.getString(0), r.getAs[Long]("hash"))).head
    assert(keyA != keyB, "twin must carry a DISTINCT exact key (else the " +
      "exact gate refuses it and the tolerant gate is not exercised)")
    val drift = java.lang.Long.bitCount(hashA ^ hashB)
    assert(drift > 0 && drift <= MediaAdmission.HammingTol,
      s"planted drift $drift outside (0, ${MediaAdmission.HammingTol}]")
    // flat store: A admits, B is refused as A's copy
    val dir = java.nio.file.Files.createTempDirectory("graftham").toString + "/state"
    MediaAdmission.applyAdmissionBatch(Seq(a).toDF(), 0, dir)
    MediaAdmission.applyAdmissionBatch(Seq(b).toDF(), 1, dir)
    val flat = MediaAdmission.currentStore(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(flat.toSeq == Seq((keyA, 1L, 2L)),
      s"tolerant gate admitted the drifted twin: ${flat.toSeq}")
    // bucketed store (chunk-index sidecar probe): same refusal
    val bdir = java.nio.file.Files.createTempDirectory("grafthamb").toString + "/state"
    MediaAdmission.applyAdmissionBatchBucketed(Seq(a).toDF(), 0, bdir, nBuckets = 8)
    MediaAdmission.applyAdmissionBatchBucketed(Seq(b).toDF(), 1, bdir, nBuckets = 8)
    val bkt = MediaAdmission.currentStore(spark, bdir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(bkt.toSeq == Seq((keyA, 1L, 2L)),
      s"bucketed tolerant gate admitted the drifted twin: ${bkt.toSeq}")
  }

  test("media admission folds two drifted twins arriving in ONE batch to one admission") {
    import graft.streaming.MediaAdmission
    import operators.{Multimodal, PpmCodec}
    import spark.implicits._
    // same planted geometry as the cross-batch hamming spec: B's raster
    // drifts A's by exactly one dHash gradient bit — but here BOTH
    // arrive in the SAME micro-batch (the r14-disclosed residue: with
    // neither in the store, the store probe saw no candidate and both
    // admitted)
    val w = 18; val h = 16
    def rgbOf(bump: Option[(Int, Int)]): Array[Byte] = {
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val v = bump match {
          case Some((bx, by)) if x == bx * 2 && y == by * 2 => 200
          case _ => x * 10
        }
        val p = (y * w + x) * 3
        rgb(p) = v.toByte; rgb(p + 1) = v.toByte; rgb(p + 2) = v.toByte
      }
      rgb
    }
    val a = Multimodal.MediaItem(1L, PpmCodec.encode(w, h, rgbOf(None)),
      Multimodal.MediaMeta("image", w, h, 16000, 1))
    val b = Multimodal.MediaItem(2L, PpmCodec.encode(w, h, rgbOf(Some((3, 4)))),
      Multimodal.MediaMeta("image", w, h, 16000, 1))
    val dir = java.nio.file.Files.createTempDirectory("graftinbatch").toString + "/state"
    MediaAdmission.applyAdmissionBatch(Seq(a, b).toDF(), 0, dir)
    val rows = MediaAdmission.currentStore(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 1 && rows.head._2 == 1L && rows.head._3 == 2L,
      s"two drifted twins in one batch did not fold to one admission: ${rows.toSeq}")
    // bucketed layout: same fold, batch 0
    val bdir = java.nio.file.Files.createTempDirectory("graftinbatchb").toString + "/state"
    MediaAdmission.applyAdmissionBatchBucketed(Seq(a, b).toDF(), 0, bdir, nBuckets = 8)
    val bkt = MediaAdmission.currentStore(spark, bdir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(bkt.length == 1 && bkt.head._2 == 1L && bkt.head._3 == 2L,
      s"bucketed in-batch drift fold failed: ${bkt.toSeq}")
  }

  test("media admission: exact duplicates fold onto their own key, never a near-dup reroute") {
    import graft.streaming.MediaAdmission
    import spark.implicits._
    // a store holding two admitted keys one bit apart (reachable via
    // legacy stores or the hot-bucket valve): an arrival EXACTLY equal
    // to K1 must fold onto K1, even though the reroute's min tie-break
    // would prefer K2's smaller key
    val h1 = 0x0F0F0F0F0F0F0F0FL
    val h2 = h1 ^ 1L
    def keyOf(h: Long) = "image:" + java.lang.Long.toHexString(h).toUpperCase
    val admitted = Seq(
      (keyOf(h2), 10L, 1L, "image", h2), // K2: smaller hex string (ends E)
      (keyOf(h1), 20L, 1L, "image", h1))
      .toDF("content_hash", "keep_media_id", "n_copies", "family", "hash")
    assert(keyOf(h2) < keyOf(h1), "tie-break bait lost: K2 must sort first")
    val arrival = Seq((keyOf(h1), 30L, 1L, "image", h1))
      .toDF("content_hash", "keep_media_id", "n_copies", "family", "hash")
    val out = MediaAdmission.rerouteByHamming(arrival, admitted)
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq(keyOf(h1)),
      s"exact twin was rerouted onto a different admitted key: ${out.toSeq}")
  }

  test("media admission resumes over a legacy 3-column store and migrates it forward") {
    import graft.streaming.MediaAdmission
    import operators.{Multimodal, PpmCodec}
    import spark.implicits._
    val w = 18; val h = 16
    def rgbOf(bump: Option[(Int, Int)]): Array[Byte] = {
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val v = bump match {
          case Some((bx, by)) if x == bx * 2 && y == by * 2 => 200
          case _ => x * 10
        }
        val p = (y * w + x) * 3
        rgb(p) = v.toByte; rgb(p + 1) = v.toByte; rgb(p + 2) = v.toByte
      }
      rgb
    }
    val a = Multimodal.MediaItem(1L, PpmCodec.encode(w, h, rgbOf(None)),
      Multimodal.MediaMeta("image", w, h, 16000, 1))
    val b = Multimodal.MediaItem(2L, PpmCodec.encode(w, h, rgbOf(Some((3, 4)))),
      Multimodal.MediaMeta("image", w, h, 16000, 1))
    val keyA = MediaAdmission.batchCanonical(spark, Seq(a).toDF())
      .collect().map(_.getString(0)).head
    // hand-write the PRE-tolerant 3-column layout (the r14 review's
    // resume scenario): triple only, batch marker 0
    val dir = java.nio.file.Files.createTempDirectory("graftlegacy").toString + "/state"
    MediaAdmission.batchCanonical(spark, Seq(a).toDF())
      .select(col("content_hash"), col("keep_media_id"), col("n_copies"))
      .write.parquet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir).resolve("_last_batch"), "0".getBytes("UTF-8"))
    // resuming with the drifted twin must not throw AND the tolerant
    // gate must still see A (family/hash derived from content_hash)
    MediaAdmission.applyAdmissionBatch(Seq(b).toDF(), 1, dir)
    val store = MediaAdmission.currentStore(spark, dir)
    val rows = store.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((keyA, 1L, 2L)),
      s"legacy-store resume lost the tolerant refusal: ${rows.toSeq}")
    assert(store.columns.contains("family") && store.columns.contains("hash"),
      "legacy store was not migrated forward to the family/hash layout")
  }

  test("bucketed media admission equals the flat store, replay-safe") {
    import graft.streaming.MediaAdmission
    import operators.Multimodal
    val media = Multimodal.corpus(spark, sf).localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("graftmediabkt").toString
    def storeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val bounds = media.stat.approxQuantile("media_id", Array(0.5), 0.0)
    val batches = Seq(
      media.filter(col("media_id") <= bounds(0)),
      media.filter(col("media_id") > bounds(0)))
    batches.zipWithIndex.foreach { case (b, i) =>
      MediaAdmission.applyAdmissionBatch(b, i, base + "/flat")
      MediaAdmission.applyAdmissionBatchBucketed(b, i, base + "/bkt", nBuckets = 8)
    }
    val flat = storeMap(MediaAdmission.currentStore(spark, base + "/flat"))
    val bkt = storeMap(MediaAdmission.currentStore(spark, base + "/bkt")
      .drop("b"))
    assert(bkt == flat, "bucketed media store diverged from the flat layout")
    MediaAdmission.applyAdmissionBatchBucketed(batches(1), 1, base + "/bkt", nBuckets = 8)
    assert(storeMap(MediaAdmission.currentStore(spark, base + "/bkt").drop("b")) == flat,
      "replaying the last bucketed media batch changed the store")
  }

  test("bucketed admission store: touched-bucket-only IO, replay-safe, torn swaps recover") {
    import graft.streaming.DedupAdmission
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graftbadmit")
    val dir = root.toString + "/state"
    def storeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("content_hash"),
        (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_copies")))).toMap
    val n = docs.count()
    val bounds = Seq(0L, n / 3, 2 * n / 3, n + 1)
    (0 to 2).foreach { i =>
      DedupAdmission.applyAdmissionBatchBucketed(
        docs.filter(col("doc_id") >= bounds(i) && col("doc_id") < bounds(i + 1)), i, dir)
    }
    // parity with the batch operator (id-ordered arrival), modulo the
    // extra bucket column
    val inc = storeMap(DedupAdmission.currentStore(spark, dir))
    assert(inc == storeMap(operators.TextAnalysis.dedupExact(spark, sf)),
      "bucketed streamed store diverged from batch dedupExact")
    // a single-doc batch touches ONE bucket: every other bucket's files
    // must not be rewritten (the whole point of the layout)
    def bucketStamps = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("b="))
      .map(f => f.getName ->
        f.listFiles.map(x => x.getName -> x.lastModified).toMap).toMap
    val pre = bucketStamps
    val one = spark.createDataFrame(Seq((900001L, "a brand new late document")))
      .toDF("doc_id", "text")
    DedupAdmission.applyAdmissionBatchBucketed(one, 3, dir)
    val post = bucketStamps
    val changed = pre.keys.filter(b => post.get(b) != pre.get(b)).toSeq
    assert(changed.size <= 1, s"single-key batch rewrote buckets: $changed")
    assert(storeMap(DedupAdmission.currentStore(spark, dir)).size == inc.size + 1)
    // replay of an applied batch is a per-bucket no-op
    val stamp = bucketStamps
    DedupAdmission.applyAdmissionBatchBucketed(one, 3, dir)
    assert(bucketStamps == stamp, "replayed batch rewrote bucket state")
    // torn swap, crashed BEFORE the new dir landed: the staged old dir
    // must be restored on the next batch (which carries fresh content —
    // re-presenting admitted content would legitimately bump its count)
    val full = storeMap(DedupAdmission.currentStore(spark, dir))
    val someB = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("b=")).head.getName
      .stripPrefix("b=")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, s"b=$someB"),
      java.nio.file.Paths.get(dir, s"_swap_$someB"))
    val two = spark.createDataFrame(Seq((900002L, "a second brand new late document")))
      .toDF("doc_id", "text")
    DedupAdmission.applyAdmissionBatchBucketed(two, 4, dir)
    val afterRollback = storeMap(DedupAdmission.currentStore(spark, dir))
    assert(full.forall { case (k, v) => afterRollback.get(k).contains(v) },
      "torn-swap rollback lost bucket state")
    assert(afterRollback.size == full.size + 1)
    // torn swap, crashed AFTER the new dir landed: the stale stage is
    // dropped and the live dir wins
    val liveB = java.nio.file.Paths.get(dir, s"b=$someB")
    val stage = java.nio.file.Paths.get(dir, s"_swap_$someB")
    java.nio.file.Files.createDirectory(stage)
    val three = spark.createDataFrame(Seq((900003L, "a third brand new late document")))
      .toDF("doc_id", "text")
    DedupAdmission.applyAdmissionBatchBucketed(three, 5, dir)
    assert(!java.nio.file.Files.exists(stage) && java.nio.file.Files.exists(liveB),
      "completed swap's stale stage not dropped")
    val afterForward = storeMap(DedupAdmission.currentStore(spark, dir))
    assert(afterRollback.forall { case (k, v) => afterForward.get(k).contains(v) })
    assert(afterForward.size == afterRollback.size + 1)
    // bucket-count drift is a loud layout error, not silent mis-routing
    intercept[IllegalArgumentException] {
      DedupAdmission.applyAdmissionBatchBucketed(one, 6, dir, nBuckets = 7)
    }
  }

  test("pipeline backfill: catch-up fills only missing year slices; explicit backfill touches one") {
    val out = java.nio.file.Files.createTempDirectory("graftbackfill").toString
    val layer = s"$out/monthly_trend"
    val full = operators.Seasonal.monthlyTrend(spark, sf)
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("brand", "year", "month", "avg_price", "n_obs").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getLong(4)))
      .toSet
    val want = cells(full)
    val years = full.select("year").distinct().collect().map(_.getInt(0)).sorted
    assert(years.length >= 3, s"need a few years to backfill, got ${years.toSeq}")
    // seed the layer with every year but the last two (a stalled pipeline)
    val seeded = years.dropRight(2)
    val conf = spark.conf
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    full.filter(col("year").isin(seeded.map(Integer.valueOf): _*))
      .write.mode("overwrite").partitionBy("year").parquet(layer)
    // catch-up: exactly the two missing years rebuild; seeded files untouched
    def stampOf(y: Int) = new java.io.File(s"$layer/year=$y").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    val preStamps = seeded.map(y => y -> stampOf(y)).toMap
    val caught = Pipeline.backfillMonthlyTrend(spark, sf, out)
    assert(caught == years.takeRight(2).toSeq, s"caught up $caught")
    seeded.foreach(y => assert(stampOf(y) == preStamps(y), s"catch-up rewrote year=$y"))
    assert(cells(spark.read.parquet(layer)) == want,
      "caught-up layer diverged from the from-scratch build")
    // caught-up layer: catch-up is a no-op
    assert(Pipeline.backfillMonthlyTrend(spark, sf, out).isEmpty)
    // explicit backfill of ONE year rewrites that slice and nothing else
    val target = years.head
    val others = years.filterNot(_ == target)
    val otherStamps = others.map(y => y -> stampOf(y)).toMap
    assert(Pipeline.backfillMonthlyTrend(spark, sf, out, Some(Seq(target))) == Seq(target))
    others.foreach(y => assert(stampOf(y) == otherStamps(y), s"backfill rewrote year=$y"))
    assert(cells(spark.read.parquet(layer)) == want,
      "backfilled layer diverged from the from-scratch build")
  }

  test("generic backfill harness: epoch-day event-window layer catches up and backfills") {
    val out = java.nio.file.Files.createTempDirectory("graftbackfill2").toString
    val layer = s"$out/event_windows"
    val full = operators.Events.eventWindows(spark, sf)
      .withColumn("day", expr("window_start_ms DIV 86400000"))
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("window_start_ms", "event_type", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = cells(full)
    val days = full.select("day").distinct().collect().map(_.getLong(0)).sorted
    assert(days.length >= 3, s"need a few days to backfill, got ${days.toSeq}")
    val seeded = days.dropRight(2)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    full.filter(col("day").isin(seeded.map(java.lang.Long.valueOf): _*))
      .write.mode("overwrite").partitionBy("day").parquet(layer)
    def stampOf(d: Long) = new java.io.File(s"$layer/day=$d").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    val preStamps = seeded.map(d => d -> stampOf(d)).toMap
    // catch-up fills exactly the missing tail, untouched slices byte-stable
    assert(Pipeline.backfillEventWindows(spark, sf, out) == days.takeRight(2).toSeq)
    seeded.foreach(d => assert(stampOf(d) == preStamps(d), s"catch-up rewrote day=$d"))
    assert(cells(spark.read.parquet(layer)) == want,
      "caught-up layer diverged from the from-scratch build")
    assert(Pipeline.backfillEventWindows(spark, sf, out).isEmpty, "no-op catch-up")
    // explicit one-day backfill rewrites that slice only
    val target = days.head
    val otherStamps = days.tail.map(d => d -> stampOf(d)).toMap
    assert(Pipeline.backfillEventWindows(spark, sf, out, Some(Seq(target))) == Seq(target))
    days.tail.foreach(d => assert(stampOf(d) == otherStamps(d), s"backfill rewrote day=$d"))
    assert(cells(spark.read.parquet(layer)) == want,
      "backfilled layer diverged from the from-scratch build")
  }

  test("streaming ingest gate: dedup + decontamination store equals the batch reference") {
    import graft.streaming.IngestGate
    val all = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // static eval gram set: the md5-test split's distinct shingle hashes
    // (the stand-in for a fixed benchmark suite)
    val split = operators.TextAnalysis.trainSplitOf(all).select("doc_id", "split")
    val evalDocs = all.join(split, "doc_id").filter(col("split") === "test")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val evalGrams = evalDocs
      .select(explode(call_function(
        graft.functions.GraftFunctions.ShingleSetName, col("text"))).as("h"))
      .distinct().localCheckpoint()
    val incoming = all.join(split, "doc_id").filter(col("split") =!= "test")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graftgate").toString + "/state"
    def storeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    val n = incoming.agg(max(col("doc_id"))).head().getLong(0) + 1
    val bounds = Seq(0L, n / 3, 2 * n / 3, n)
    (0 to 2).foreach { i =>
      IngestGate.applyGateBatch(
        incoming.filter(col("doc_id") >= bounds(i) && col("doc_id") < bounds(i + 1)),
        evalGrams, i, dir)
    }
    val inc = storeMap(IngestGate.currentStore(spark, dir))
    val ref = storeMap(IngestGate.gateReference(incoming, evalGrams))
    assert(inc == ref, "id-ordered streamed gate store diverged from the batch reference")
    // the screen must actually fire on this corpus (near-dups straddle
    // the content split), and pass clean docs
    val flags = inc.values.map(_._2).toSeq
    assert(flags.contains(true) && flags.contains(false),
      s"degenerate contamination screen: $flags")
    // replay is a no-op
    IngestGate.applyGateBatch(
      incoming.filter(col("doc_id") >= bounds(2)), evalGrams, 2, dir)
    assert(storeMap(IngestGate.currentStore(spark, dir)) == inc)
  }

  test("model-in-the-loop gate: store carries the canonical copy's classifier score") {
    import graft.streaming.IngestGate
    val all = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .localCheckpoint()
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // train on the same corpus the stream will carry (weights are FIXED
    // plan literals during serving — the production shape)
    val w = operators.QualityModel.fitQualityLr(
      operators.QualityModel.featureFrame(all))
    val evalGrams = spark.createDataFrame(Seq(Tuple1(0L))).toDF("h")
      .filter(col("h") =!= 0L) // empty gram set: isolate the model path
    val dir = java.nio.file.Files.createTempDirectory("graftmgate").toString + "/state"
    val n = all.agg(max(col("doc_id"))).head().getLong(0) + 1
    (0 to 1).foreach { i =>
      IngestGate.applyGateBatch(
        all.filter(if (i == 0) col("doc_id") < n / 2 else col("doc_id") >= n / 2),
        evalGrams, i, dir, Some(w))
    }
    def scoreMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("content_hash") ->
        ((r.getAs[Long]("keep_doc_id"), r.getAs[Double]("p_keep")))).toMap
    val store = scoreMap(IngestGate.currentStore(spark, dir))
    assert(store == scoreMap(IngestGate.gateReference(all, evalGrams, Some(w))),
      "streamed model-gate store diverged from the batch reference")
    // scores in the store are bit-equal to the batch scorer for the
    // canonical documents (same expressions over the same counters)
    val batchScores = operators.QualityModel.scoreQualityLr(all, w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    store.values.foreach { case (keepId, p) =>
      assert(p == batchScores(keepId),
        s"stored p_keep for doc $keepId diverged from the batch scorer")
    }
    // the model actually separates this corpus (not a constant column)
    assert(store.values.map(_._2).toSet.size > 1, "degenerate p_keep")
  }

  test("served model gate: the stream scores with the persisted classifier generation") {
    import graft.streaming.IngestGate
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val all = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val evalGrams = spark.createDataFrame(Seq(Tuple1(0L))).toDF("h")
      .filter(col("h") =!= 0L) // empty gram set: isolate the model path
    val dir = java.nio.file.Files.createTempDirectory("graftsgate").toString + "/state"
    // the served binding resolves weights from the SAME persisted
    // generation q_quality_classifier serves
    val w = operators.QualityModel.serveWeights(spark, sf)
    val n = all.agg(max(col("doc_id"))).head().getLong(0) + 1
    (0 to 1).foreach { i =>
      IngestGate.applyGateBatch(
        all.filter(if (i == 0) col("doc_id") < n / 2 else col("doc_id") >= n / 2),
        evalGrams, i, dir, Some(w))
    }
    val store = IngestGate.currentStore(spark, dir).collect()
      .map(r => r.getAs[Long]("keep_doc_id") -> r.getAs[Double]("p_keep")).toMap
    // stored scores are bit-equal to the batch SERVE path's for the
    // canonical docs — one model generation, two serving surfaces
    val served = operators.QualityModel.qualityClassifierServe(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    store.foreach { case (id, p) =>
      assert(p == served(id), s"gate p_keep for doc $id diverged from the serve path")
    }
    assert(store.values.toSet.size > 1, "degenerate p_keep")
  }

  test("streaming enrichment sink: refresh-ordered folds equal the batch resolution and attach") {
    import graft.streaming.EnrichmentSink
    val dir = java.nio.file.Files.createTempDirectory("graftenrich").toString + "/state"
    val facts = operators.AsOf.enrichFacts(spark, sf)
    val log = operators.AsOf.enrichmentLog(facts)
      .select(col("nation").as("key"), col("t"), col("v"), col("refresh"))
      .localCheckpoint()
    // stream the log refresh-ordered: batch 0 = the initial backfill,
    // batch 1 = the corrective restatement
    EnrichmentSink.applyRefreshBatch(log.filter(col("refresh") === 0), 0, dir)
    EnrichmentSink.applyRefreshBatch(log.filter(col("refresh") === 1), 1, dir)
    def storeMap(df: org.apache.spark.sql.DataFrame) = df
      .select("key", "t", "v").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val streamed = storeMap(EnrichmentSink.currentEnrichment(spark, dir))
    val batch = operators.AsOf.resolveEnrichment(log, "key", "t", "v")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed == batch, "streamed store diverged from the batch resolution")
    // replay is a no-op (at-least-once safety)
    EnrichmentSink.applyRefreshBatch(log.filter(col("refresh") === 1), 1, dir)
    assert(storeMap(EnrichmentSink.currentEnrichment(spark, dir)) == streamed)
    // the serving half: attaching the CURRENT store equals q_enrich_attach
    def attachSet(df: org.apache.spark.sql.DataFrame) = df
      .select("o_orderkey", "nation", "t", "rate").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val served = attachSet(
      EnrichmentSink.attachCurrent(spark, dir, facts, "nation", "t", "rate")
        .filter(col("rate").isNotNull))
    val q = attachSet(operators.AsOf.enrichAttach(spark, sf))
    assert(served == q, "attach over the streamed store diverged from q_enrich_attach")
  }

  test("streaming funnel stamps: event-time-ordered folds are bit-equal to the batch stamps") {
    import graft.streaming.FunnelStampsSink
    val dir = java.nio.file.Files.createTempDirectory("graftstamps").toString + "/state"
    val base = Tables.events(spark, sf).selectExpr(
      "user_id", "event_id", "event_type",
      "(ts - pmod(ts, 1000000)) DIV 1000000 AS ts_ms")
    // split the stream into three batches that PARTITION the
    // (ts_ms, event_id) order — the append-only event-log contract
    val ranked = base.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts_ms"), col("event_id"))))
      .localCheckpoint()
    val n = ranked.count()
    val cuts = Seq(n / 3, 2 * n / 3, n)
    Seq(
      ranked.filter(col("rk") <= cuts(0)),
      ranked.filter(col("rk") > cuts(0) && col("rk") <= cuts(1)),
      ranked.filter(col("rk") > cuts(1))
    ).zipWithIndex.foreach { case (b, i) =>
      FunnelStampsSink.applyEventsBatch(b.drop("rk"), i.toLong, dir)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val streamed = FunnelStampsSink.currentStamps(spark, dir)
    assert(rows(streamed) == rows(operators.Events.funnelStamps(base)),
      "streamed stamps store diverged from the batch stamps frame")
    // replay is a no-op (at-least-once safety)
    FunnelStampsSink.applyEventsBatch(
      ranked.filter(col("rk") > cuts(1)).drop("rk"), 2L, dir)
    assert(rows(FunnelStampsSink.currentStamps(spark, dir)) == rows(streamed))
    // the serving rollups over the store equal the batch queries
    assert(rows(FunnelStampsSink.funnelCurrent(spark, dir)) ==
      rows(operators.Events.funnel(spark, sf)))
    assert(rows(FunnelStampsSink.conversionCohortCurrent(spark, dir)) ==
      rows(operators.Events.conversionCohort(spark, sf)))
  }

  test("r10 serving stores: warm serves reuse the generation, a stale fingerprint rebuilds") {
    def stampOf(path: String) = Option(new java.io.File(path).listFiles)
      .getOrElse(Array.empty[java.io.File])
      .map(f => f.getName -> f.lastModified).toMap
    def poison(path: String): Unit = {
      val fpPath = path + "_model"
      val stored = spark.read.parquet(fpPath).collect()(0).getLong(0)
      spark.range(1).select(lit(stored + 1).as("fp"))
        .coalesce(1).write.mode("overwrite").parquet(fpPath)
    }
    def rows(df: => org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val cases = Seq[(String, String, () => Seq[String])](
      ("funnel-stamps", operators.Events.stampsServePath(sf),
        () => rows(operators.Events.funnel(spark, sf))),
      ("resolved-enrichment", operators.AsOf.enrichServePath(sf),
        () => rows(operators.AsOf.enrichAttach(spark, sf))),
      ("lm-stats", operators.Curation.lmStatsPath(sf),
        () => rows(operators.Curation.lmScore(spark, sf))))
    cases.foreach { case (what, path, run) =>
      val first = run()
      val stamp = stampOf(path)
      assert(stamp.nonEmpty, s"$what: store missing after serve")
      assert(run() == first, s"$what: warm serve diverged")
      assert(stampOf(path) == stamp, s"$what: warm serve rewrote the store")
      // a sidecar mismatch (equal-size corpus swap) must rebuild — and
      // the rebuilt generation serves the same corpus identically
      poison(path)
      assert(run() == first, s"$what: post-rebuild serve diverged")
      assert(stampOf(path) != stamp, s"$what: stale fingerprint did not rebuild")
    }
  }

  test("r11 serving stores: a rebuild never invalidates a live reader's generation") {
    // the r10 ADVICE race: ensure() returned a lazy read of a path the
    // next rebuild overwrote in place — a handed-out DataFrame could
    // FileNotFound or read a mixed generation. Generations now land in
    // UNIQUE sidecar-named subdirectories and the previous one survives
    // exactly one rebuild cycle.
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graftgen").toString + "/store"
    def buildOf(rows: Seq[(Long, String)]): String => Unit =
      gen => rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(gen)
    def genDirs = Option(new java.io.File(store).listFiles)
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("gen_")).map(_.getName).toSet
    val genA = operators.ServingStore.ensure(spark, "t", store, 1L)(
      buildOf(Seq((1L, "a"), (2L, "a"))))
    // corpus "changes" (fp 1 -> 2) AFTER genA was handed out but BEFORE
    // it is consumed — the rebuild must not touch genA's files
    val genB = operators.ServingStore.ensure(spark, "t", store, 2L)(
      buildOf(Seq((1L, "b"))))
    assert(genA.collect().map(_.getString(1)).toSeq == Seq("a", "a"),
      "live reader of the previous generation broke after a rebuild")
    assert(genB.collect().map(_.getString(1)).toSeq == Seq("b"))
    // fp REVISIT (the r11 review finding): the corpus cycles back to
    // fp=1 — the rebuild must land in a FRESH directory, never
    // overwrite one an earlier fp=1 reader may still hold, and the
    // previous generation (B) must survive this cycle for ITS readers
    val genA2 = operators.ServingStore.ensure(spark, "t", store, 1L)(
      buildOf(Seq((1L, "a2"))))
    assert(genA2.collect().map(_.getString(1)).toSeq == Seq("a2"))
    assert(genB.collect().map(_.getString(1)).toSeq == Seq("b"),
      "previous generation broke after an fp-revisit rebuild")
    assert(genDirs.size == 2, s"disk not bounded at two generations: $genDirs")
    // warm re-serve: no new generation, nothing pruned
    operators.ServingStore.ensure(spark, "t", store, 1L)(
      _ => fail("fresh store must not rebuild"))
    assert(genDirs.size == 2)
    // unreadable sidecar: the live generation is UNKNOWN — the rebuild
    // must SKIP pruning rather than guess (r11 review finding)
    val before = genDirs
    operators.Dedup.deleteTree(store + "_model")
    operators.ServingStore.ensure(spark, "t", store, 9L)(buildOf(Seq((1L, "z"))))
    assert(before.subsetOf(genDirs),
      "unreadable sidecar pruned generations it could not prove dead")
  }

  test("r11 serving stores: corpus swap between ensure and serve (stamps store)") {
    // integration form of the race above, on a REAL store: hold the
    // stamps frame, swap the corpus under the dir (changing the
    // fingerprint), trigger the rebuild via a fresh serve, THEN consume
    // the held frame — it must still read its own generation.
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftswap").toString
    val ev = Tables.events(spark, sf)
    ev.filter(col("user_id") % 2 === 0).write.mode("overwrite")
      .parquet(tmp + "/events.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val held = operators.Events.ensureStamps(spark, tmp)
    val heldWant = rows(held) // first serve builds generation A
    // the corpus swaps in place — same path, different content
    Tables.invalidate(spark, tmp, "events")
    ev.filter(col("user_id") % 2 === 1).write.mode("overwrite")
      .parquet(tmp + "/events.parquet")
    val fresh = operators.Events.ensureStamps(spark, tmp) // rebuild: generation B
    assert(rows(fresh).nonEmpty && rows(fresh) != heldWant,
      "corpus swap did not change the served stamps — bad test setup")
    assert(rows(held) == heldWant,
      "held pre-swap stamps frame broke or changed after the rebuild")
  }

  test("r11 serving stores: a pre-generation flat-layout store migrates with one rebuild") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graftflat").toString + "/store"
    // fabricate the r10 layout: parquet files flat at the store path and
    // a sidecar carrying ONLY the fingerprint (no generation name)
    Seq((1L, "old")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(store)
    spark.range(1).select(lit(7L).as("fp"))
      .coalesce(1).write.mode("overwrite").parquet(store + "_model")
    // same fingerprint, but the legacy sidecar names no generation —
    // ensure must REBUILD (migrate), not serve the unproven flat files
    var built = false
    val out = operators.ServingStore.ensure(spark, "t", store, 7L) { gen =>
      built = true
      Seq((1L, "new")).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(gen)
    }
    assert(built, "legacy flat-layout store served without migrating")
    assert(out.collect().map(_.getString(1)).toSeq == Seq("new"))
    // and the migrated store now serves warm
    operators.ServingStore.ensure(spark, "t", store, 7L)(
      _ => fail("migrated store must serve warm"))
    // the migration pruned the legacy flat part-files (r11 ADVICE: they
    // lingered until a second fingerprint change, breaking the
    // two-generation disk bound). Generation-layout code never served
    // them, so no reader of this code could hold them.
    val leftovers = Option(new java.io.File(store).listFiles)
      .getOrElse(Array.empty[java.io.File])
      .filterNot(f => f.isDirectory && f.getName.startsWith("gen_"))
      .map(_.getName).toSeq
    assert(leftovers.isEmpty,
      s"legacy flat files survived the migration rebuild: $leftovers")
  }

  test("r12 serving stores: concurrent ensures build once — the loser waits and reuses") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graftlock").toString + "/store"
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var loserBuilt = false
    val ec = scala.concurrent.ExecutionContext.global
    val winner = scala.concurrent.Future {
      operators.ServingStore.ensure(spark, "t", store, 5L) { gen =>
        aStarted.countDown()
        assert(release.await(30, java.util.concurrent.TimeUnit.SECONDS))
        Seq((1L, "w")).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(gen)
      }
    }(ec)
    assert(aStarted.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // the winner holds the build lock mid-build; a second session's
    // ensure of the SAME stale store must wait, then serve the winner's
    // generation — never run its own build, never orphan a directory
    val loser = scala.concurrent.Future {
      operators.ServingStore.ensure(spark, "t", store, 5L) { gen =>
        loserBuilt = true
        Seq((1L, "l")).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(gen)
      }
    }(ec)
    Thread.sleep(300) // let the loser reach the lock poll loop
    release.countDown()
    import scala.concurrent.duration._
    val wGot = scala.concurrent.Await.result(winner, 60.seconds).collect()
    val lGot = scala.concurrent.Await.result(loser, 60.seconds).collect()
    assert(!loserBuilt, "second ensure built concurrently instead of waiting")
    assert(wGot.map(_.getString(1)).toSeq == Seq("w"))
    assert(lGot.map(_.getString(1)).toSeq == Seq("w"),
      "loser did not serve the winner's generation")
    val gens = Option(new java.io.File(store).listFiles)
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("gen_"))
    assert(gens.length == 1, s"concurrent ensures orphaned a generation: ${gens.toSeq}")
    assert(!java.nio.file.Files.exists(operators.ServingStore.lockPath(store)),
      "build lock leaked after both ensures returned")
  }

  test("r13 serving stores: the serve memo invalidates on an out-of-band " +
      "same-fp restamp") {
    import spark.implicits._
    // the r13 serve memo keys on a stat signature of the sidecar dir; a
    // rebuild by ANOTHER process at the SAME fingerprint (new generation,
    // rewritten sidecar) must invalidate it — serving the memoized old
    // generation would pin this session to files the other process's
    // next prune deletes
    val store = java.nio.file.Files.createTempDirectory("graftmemo").toString + "/store"
    def buildOf(v: String): String => Unit =
      gen => Seq((1L, v)).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(gen)
    operators.ServingStore.ensure(spark, "t", store, 3L)(buildOf("one"))
    // memo warm: a second ensure must not re-read (can't observe
    // directly; assert the served value instead after the swap)
    assert(operators.ServingStore.ensure(spark, "t", store, 3L)(
      _ => fail("fresh store must not rebuild"))
      .collect().map(_.getString(1)).toSeq == Seq("one"))
    // another process restamps the SAME fp with a new generation
    val gen2 = operators.ServingStore.newGenerationPath(store, 3L)
    buildOf("two")(gen2)
    operators.ServingStore.writeSidecar(spark, store, 3L, gen2)
    val served = operators.ServingStore.ensure(spark, "t", store, 3L)(
      _ => fail("restamped store is fresh for fp=3 — must not rebuild"))
    assert(served.collect().map(_.getString(1)).toSeq == Seq("two"),
      "serve memo survived an out-of-band sidecar rewrite at the same fp")
  }

  test("lock heartbeat keeps a live long build from takeover; release is ownership-checked") {
    import operators.ServingStore
    val store = java.nio.file.Files.createTempDirectory("graftlockbeat").toString + "/store"
    val old = ServingStore.LockStaleMs
    ServingStore.LockStaleMs = 2000
    try {
      // a build 2.5x the staleness bound: without the heartbeat the
      // waiter would read the lock stale at 2s and run concurrently
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val a = new Thread(() => ServingStore.withBuildLock(store) {
        order.add("a-start"); Thread.sleep(5000); order.add("a-end")
      })
      a.start(); Thread.sleep(400)
      val b = new Thread(() => ServingStore.withBuildLock(store) { order.add("b") })
      b.start(); a.join(30000); b.join(30000)
      assert(order.toArray.toSeq == Seq("a-start", "a-end", "b"),
        s"waiter overlapped a live heartbeating build: ${order.toArray.toSeq}")
      // ownership-checked release: fabricate a takeover while held —
      // the original holder's release must leave the successor's lock
      val lock = ServingStore.lockPath(store)
      ServingStore.withBuildLock(store) {
        val tomb = java.nio.file.Paths.get(store + "_lock_spectomb")
        java.nio.file.Files.move(lock, tomb)
        java.nio.file.Files.createDirectory(lock)
        java.nio.file.Files.createFile(lock.resolve("owner_foreign"))
      }
      assert(java.nio.file.Files.exists(lock),
        "release deleted a successor's lock it no longer owned")
    } finally ServingStore.LockStaleMs = old
  }

  test("r12 serving stores: a crashed builder's stale lock is taken over") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graftstale").toString
    val store = base + "/store"
    val lock = operators.ServingStore.lockPath(store)
    java.nio.file.Files.createDirectories(lock)
    // the crashed holder's ownership nonce rides inside the lock dir —
    // the takeover's tombstone delete must remove it bottom-up, or a
    // *_lock_tomb_* dir leaks on EVERY takeover (r13 advice)
    java.nio.file.Files.createFile(lock.resolve("owner_crashedholder"))
    // fabricate a crash: the lock's mtime predates the staleness bound
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - operators.ServingStore.LockStaleMs - 60000))
    var built = false
    val out = operators.ServingStore.ensure(spark, "t", store, 3L) { gen =>
      built = true
      Seq((1L, "x")).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(gen)
    }
    assert(built, "stale lock blocked the takeover build")
    assert(out.collect().map(_.getString(1)).toSeq == Seq("x"))
    assert(!java.nio.file.Files.exists(lock), "lock leaked after takeover build")
    val leaked = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(base))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.contains("_lock_tomb_")).toList
      finally s.close()
    }
    assert(leaked.isEmpty, s"takeover leaked tombstone dirs: $leaked")
  }

  test("day-state append refuses a delta whose files have not landed") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftnoland").toString
    Tables.lineitem(spark, sf).write.mode("overwrite").parquet(tmp + "/lineitem.parquet")
    Tables.part(spark, sf).write.mode("overwrite").parquet(tmp + "/part.parquet")
    operators.Forecast.forecastLinear(spark, tmp).count() // build the generation
    val preFp = operators.Forecast.dayStatsFingerprint(spark, tmp)
    import spark.implicits._
    val deltaFrame = Seq(("Brand#11", 100L, 9.99)).toDF("brand", "x", "y")
    // the delta frame exists but nothing landed in dir: the post-delta
    // fingerprint equals the stored one, and stamping the merge as fresh
    // would serve a wrong state for the pre-delta corpus (r11 review)
    val bad = intercept[IllegalArgumentException] {
      operators.Forecast.appendDayStats(spark, tmp, deltaFrame, preFp)
    }
    assert(bad.getMessage.contains("fingerprint unchanged after the delta"),
      s"wrong refusal: ${bad.getMessage}")
  }

  test("simhash-idf: dir-serve tracks a corpus swap on BOTH join sides") {
    // r11 review: the serve built the signature-side sets frame from the
    // memoized documents plan BEFORE the weight ensure invalidated it —
    // after a corpus swap, signatures scanned the stale listing while
    // weights rebuilt fresh. Both sides must follow the swap.
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftidfswap").toString
    val docs = Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite")
      .parquet(tmp + "/documents.parquet")
    val before = rows(operators.Dedup.simhashIdfDedup(spark, tmp))
    // swap the corpus in place (memoized plan + weight store both stale)
    Tables.invalidate(spark, tmp, "documents")
    docs.filter(col("doc_id") % 2 === 1).write.mode("overwrite")
      .parquet(tmp + "/documents.parquet")
    // re-memoize the OLD-style pinned plan like a long session would
    Tables.documents(spark, tmp).count()
    val served = rows(operators.Dedup.simhashIdfDedup(spark, tmp))
    val inline = rows(operators.Dedup.simhashIdfDedup(
      spark.read.parquet(tmp + "/documents.parquet")))
    assert(served == inline,
      "dir-serve diverged from the inline form after a corpus swap")
    assert(served != before, "swap did not change pairs — bad test setup")
  }

  test("simhash-idf: weight-store-served pairs equal the inline form") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(operators.Dedup.simhashIdfDedup(spark, sf)) ==
      rows(operators.Dedup.simhashIdfDedup(Tables.documents(spark, sf))),
      "persisted IDF weight generation diverged from the inline df pass")
    // the weights side is now a stats-known parquet read, so the
    // signature join must broadcast — this was the suite's one
    // SortMergeJoin while both sides were aggregate-derived
    val plan = operators.Dedup.simhashIdfDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"weight join still sort-merges:\n$plan")
  }

  test("signature stores: delta append equals the full rebuild for every row-local family") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graftsigappend").toString
    val docs = Tables.documents(spark, sf)
    val embs = Tables.embeddings(spark, sf)
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite")
      .parquet(tmp + "/documents.parquet")
    embs.filter(col("vec_id") % 2 === 0).write.mode("overwrite")
      .parquet(tmp + "/embeddings.parquet")
    // build every store on the half corpus
    operators.Dedup.minhashDedup(spark, tmp).count()
    operators.Dedup.simhashDedup(spark, tmp).count()
    operators.Similarity.embeddingDedup(spark, tmp).count()
    val minhashFp = operators.Dedup.minhashSigsFingerprint(spark, tmp)
    val simhashFp = operators.Dedup.simhashSigsFingerprint(spark, tmp)
    val embFp = operators.Similarity.embSigsFingerprint(spark, tmp)
    // land the deltas, then append each store delta-only
    val docDelta = docs.filter(col("doc_id") % 2 === 1)
    val embDelta = embs.filter(col("vec_id") % 2 === 1)
    docDelta.write.mode("append").parquet(tmp + "/documents.parquet")
    embDelta.write.mode("append").parquet(tmp + "/embeddings.parquet")
    operators.Dedup.appendMinhashSigs(spark, tmp, docDelta, minhashFp)
    operators.Dedup.appendSimhashSigs(spark, tmp, docDelta, simhashFp)
    operators.Similarity.appendEmbSigs(spark, tmp, embDelta, embFp)
    // served pairs over the appended stores must equal the inline
    // computation over the full corpus (no rebuild may have happened:
    // the appends stamped the post-delta fingerprints)
    val fullDocs = spark.read.parquet(tmp + "/documents.parquet")
    assert(rows(operators.Dedup.minhashDedup(spark, tmp)) ==
      rows(operators.Dedup.minhashDedup(fullDocs)),
      "appended minhash store diverged from the full-corpus inline form")
    assert(rows(operators.Dedup.simhashDedup(spark, tmp)) ==
      rows(operators.Dedup.simhashDedup(fullDocs)),
      "appended simhash store diverged from the full-corpus inline form")
    assert(rows(operators.Similarity.embeddingDedup(spark, tmp)) ==
      rows(operators.Similarity.embeddingDedupOf(
        operators.Similarity.embSigsOf(
          spark.read.parquet(tmp + "/embeddings.parquet")
            .select(col("vec_id"), col("embedding").as("vec"))), 0.45)),
      "appended embedding sig store diverged from the full-corpus inline form")
  }

  test("minhash dedup: signature-store-served pairs equal the inline kernel scan") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(operators.Dedup.minhashDedup(spark, sf)) ==
      rows(operators.Dedup.minhashDedup(Tables.documents(spark, sf))),
      "persisted minhash signature generation diverged from the inline kernel scan")
  }

  test("embedding dedup: signature-store-served pairs equal the inline projection") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("vec"))
    assert(rows(operators.Similarity.embeddingDedup(spark, sf)) ==
      rows(operators.Similarity.embeddingDedupOf(
        operators.Similarity.embSigsOf(corpus), 0.45)),
      "persisted band-signature generation diverged from the inline projection")
    // resolve shares the SAME signature generation — same inline parity
    assert(rows(operators.Similarity.embeddingDedupResolve(spark, sf)) ==
      rows(operators.Dedup.resolveComponents(
        operators.Similarity.embeddingDedupOf(
          operators.Similarity.embSigsOf(corpus), 0.45)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("canonical_id"))),
      "resolve over the served signatures diverged from the inline form")
  }

  test("embedding cells: assignment-store-served pairs equal the inline form") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("vec"))
    assert(rows(operators.Similarity.embeddingDedupCells(spark, sf)) ==
      rows(operators.Similarity.embeddingDedupCellsOf(corpus,
        operators.Similarity.serveSemCells(spark, sf), 0.45)),
      "persisted assignment generation diverged from the inline form")
  }

  test("embedding sig store: dir-serve tracks a corpus swap") {
    // the sig build invalidates the memoized embeddings plan before the
    // projection scan (the simhash-idf swap lesson) — after an in-place
    // corpus swap a long session must serve the NEW corpus's pairs
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftembswap").toString
    val embs = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    embs.filter(col("vec_id") % 2 === 0).write.mode("overwrite")
      .parquet(tmp + "/embeddings.parquet")
    val before = rows(operators.Similarity.embeddingDedup(spark, tmp))
    Tables.invalidate(spark, tmp, "embeddings")
    embs.filter(col("vec_id") % 2 === 1).write.mode("overwrite")
      .parquet(tmp + "/embeddings.parquet")
    // re-memoize the OLD-style pinned plan like a long session would
    Tables.embeddings(spark, tmp).count()
    val served = rows(operators.Similarity.embeddingDedup(spark, tmp))
    val inline = rows(operators.Similarity.embeddingDedupOf(
      operators.Similarity.embSigsOf(
        spark.read.parquet(tmp + "/embeddings.parquet")
          .select(col("vec_id"), col("embedding").as("vec"))), 0.45))
    assert(served == inline,
      "dir-serve diverged from the inline form after a corpus swap")
    assert(served != before, "swap did not change pairs — bad test setup")
  }

  test("enrich attach: store-served equals from-scratch resolution") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(operators.AsOf.enrichAttach(spark, sf)) ==
      rows(operators.AsOf.enrichAttachFromScratch(spark, sf)),
      "persisted resolved-store serve diverged from from-scratch resolution")
    // the serve plan pays no fact-side exchange: the only hash exchange
    // is the dim-sized resolved store collapsing to its per-key series
    // (nation cardinality) inside the broadcast as-of build side
    val plan = operators.AsOf.enrichAttach(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1,
      s"enrich attach serve should only shuffle the dim store, saw $exchanges:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"enrich attach fact join should broadcast:\n$plan")
  }

  test("asof rates: store-served series equals the from-scratch aggregate") {
    // r18 verdict #6: the series aggregation re-scanned the fact side on
    // every query; it now serves from a persisted generation — bit-equal
    // by the enrich-attach argument (decimal-exact order-independent
    // mean, doubles round-trip parquet)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(operators.AsOf.asofRates(spark, sf)) ==
      rows(operators.AsOf.asofRatesFromScratch(spark, sf)),
      "persisted rate-series serve diverged from the in-plan aggregate")
    // serve plan shape: no fact-side hash exchange — the only exchange
    // is the dim-sized series collapsing per-key inside the broadcast
    // as-of build side
    val plan = operators.AsOf.asofRates(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1,
      s"asof rates serve should only shuffle the dim series, saw $exchanges:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"asof rates fact join should broadcast:\n$plan")
  }

  test("streaming contamination sink: overlapping benchmark batches fold to the union screen") {
    import graft.streaming.ContaminationSink
    GraftFunctions.ensureRegistered(spark)
    val evalGrams = Tables.documents(spark, sf)
      .select(
        operators.TextAnalysis.splitCol(operators.TextAnalysis.splitKeyCol).as("split"),
        call_function(GraftFunctions.ShingleSetName, col("text")).as("hs"))
      .filter(col("split") === "test" && col("hs").isNotNull)
      .select(explode(col("hs")).as("h")).distinct()
      .localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graftcontam").toString + "/state"
    // three OVERLAPPING "benchmark suites": thirds (0,1), (1,2), then the
    // whole set again — union semantics must hold, not count addition
    val r = pmod(xxhash64(col("h")), lit(3L))
    ContaminationSink.applyScreenBatch(evalGrams.filter(r < 2), 0, sf, root)
    ContaminationSink.applyScreenBatch(evalGrams.filter(r >= 1), 1, sf, root)
    ContaminationSink.applyScreenBatch(evalGrams, 2, sf, root)
    def screenMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getAs[Number](1).longValue, r.getLong(2),
        r.getDouble(3), r.getBoolean(4))))
      .toMap
    val streamed = screenMap(ContaminationSink.currentScreen(spark, sf, root))
    val batch = screenMap(operators.Curation.contaminationServe(spark, sf))
    assert(streamed == batch,
      "streamed union screen diverged from the one-shot full-eval screen")
    // the store is SPARSE: exactly the docs (any split) sharing a gram
    // with some benchmark — the train restriction applies at serve time
    val storeRows = spark.read.parquet(ContaminationSink.countsDir(root)).count()
    val expectHit = spark.table(operators.Dedup.ensurePostings(spark, sf))
      .join(evalGrams, Seq("h")).select("doc_id").distinct().count()
    assert(storeRows == expectHit, "counts store is not sparse on hit docs")
    assert(streamed.values.exists(_._4) && streamed.values.exists(!_._4),
      "degenerate screen: flags all one way")
    // replay is a no-op (at-least-once safety)
    ContaminationSink.applyScreenBatch(evalGrams, 2, sf, root)
    assert(screenMap(ContaminationSink.currentScreen(spark, sf, root)) == streamed)
    // a NOVEL benchmark after total overlap still lands: drop the gram
    // store's view of one batch? no — feed a synthetic gram absent so far
    val novel = evalGrams.limit(0).unionByName(
      spark.range(1).select(lit(-1L).as("h")))
    ContaminationSink.applyScreenBatch(novel, 3, sf, root)
    assert(screenMap(ContaminationSink.currentScreen(spark, sf, root)) == streamed,
      "a gram matching no posting must not change the screen")
  }

  test("streaming rarity sink: served scores and thresholds bit-equal the batch family") {
    import graft.streaming.RaritySink
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graftrarity").toString + "/state"
    val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val bounds = Seq(0L, n / 3, 2 * n / 3, n)
    (0 to 2).foreach { i =>
      RaritySink.applyDocBatch(
        docs.filter(col("doc_id") >= bounds(i) && col("doc_id") < bounds(i + 1)), i, root)
    }
    def scoreMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    val served = scoreMap(RaritySink.scoreAgainstStore(docs, root))
    val batch = scoreMap(operators.Curation.rarityScoreOf(docs))
    assert(served == batch, "served rarity scores diverged from the batch computation")
    // thresholds: the streamed twin is bit-equal too (same multiset into
    // the same exact percentile)
    val st = RaritySink.thresholdsAgainstStore(docs, root).head()
    val bt = operators.Curation.rarityThresholds(spark, sf).head()
    assert(st.getLong(0) == bt.getLong(0) && st.getDouble(1) == bt.getDouble(1) &&
      st.getDouble(2) == bt.getDouble(2), s"thresholds diverged: $st vs $bt")
    // replay of an applied batch is a per-bucket no-op
    RaritySink.applyDocBatch(
      docs.filter(col("doc_id") >= bounds(2)), 2, root)
    assert(scoreMap(RaritySink.scoreAgainstStore(docs, root)) == served)
    // the df state actually landed bucketed (partition layout on disk)
    val buckets = new java.io.File(RaritySink.dfDir(root)).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("b="))
    assert(buckets > 1 && buckets <= RaritySink.DfBuckets,
      s"df store not bucketed: $buckets dirs")
  }

  test("multimodal: features are fixed-dim, frames only from videos, resize is metadata-true") {
    val media = Multimodal.fromDocuments(Tables.documents(spark, sf))
    val nDocs = Tables.documents(spark, sf).count()
    val feats = Multimodal.extractFeatures(spark, media)
    assert(feats.count() == nDocs)
    assert(feats.filter(size(col("features")) =!= Multimodal.StubCodec.FeatureDim).count() == 0)
    val resized = Multimodal.resizeImages(spark, media, 8, 8)
    assert(resized.filter(col("meta.kind") === "image")
      .filter(col("meta.width") =!= 8 || length(col("payload")) =!= 64).count() == 0)
    val frames = Multimodal.sampleFrames(spark, media, every = 2)
    val videoIds = media.filter(col("meta.kind") === "video")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(frames.collect().forall(f => videoIds.contains(f.media_id)))
    assert(frames.count() > 0)
    // payload pruning: metadata-only query must not read the payload column
    val metaOnly = media.select("media_id", "meta.kind")
    val scan = metaOnly.queryExecution.executedPlan.toString
    assert(!scan.contains("payload") || !scan.contains("ReadSchema: struct<media_id:bigint,payload"))
  }

  test("image phash: container-invariant, near-dups within radius, unrelated far, undecodable dropped") {
    import spark.implicits._
    import graft.operators.{ImageIoCodec, PpmCodec}
    import Multimodal.{MediaItem, MediaMeta}
    val w = 9; val h = 8
    // horizontal gradient: every dHash comparison is a clean 'rising' bit
    val base = Array.tabulate(w * h * 3) { i =>
      val x = (i / 3) % w; (x * 20).toByte
    }
    // small edit: bump ONE sampled pixel — flips at most its two
    // adjacent comparisons
    val near = base.clone()
    val p = (4 * w + 4) * 3
    near(p) = (near(p) + 10).toByte
    // reversed gradient: every comparison flips
    val far = Array.tabulate(w * h * 3) { i =>
      val x = (i / 3) % w; ((w - 1 - x) * 20).toByte
    }
    def meta = MediaMeta("image", w, h, 0, 0)
    val media = Seq(
      MediaItem(1L, PpmCodec.encode(w, h, base), meta),
      MediaItem(2L, ImageIoCodec.encodePng(w, h, near), meta),
      MediaItem(3L, PpmCodec.encode(w, h, far), meta),
      MediaItem(4L, Array[Byte](1, 2, 3), meta), // undecodable: dropped
      MediaItem(5L, PpmCodec.encode(w, h, base), MediaMeta("audio", 0, 0, 8000, 0))
    ).toDS().toDF()
    val hashes = Multimodal.imageHashes(spark, media).collect()
      .map(x => x.media_id -> x.phash).toMap
    assert(hashes.keySet == Set(1L, 2L, 3L),
      s"wrong decodable-image set: ${hashes.keySet}")
    // container invariance: the SAME pixels hash identically through
    // PPM and PNG containers
    val pngBase = Multimodal.imageHashes(spark,
      Seq(MediaItem(9L, ImageIoCodec.encodePng(w, h, base), meta)).toDS().toDF())
      .collect().head.phash
    assert(pngBase == hashes(1L), "phash is container-dependent")
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) <= operators.Dedup.HammingMax,
      "small pixel edit pushed the hash outside the dedup radius")
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) > 32,
      "unrelated image landed near the base hash")
    val pairs = Multimodal.imageDedup(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"wrong near-dup pairs: $pairs")
  }

  test("video dedup: shared sampled frames pair videos, repeated frames count once") {
    import spark.implicits._
    import graft.operators.PpmCodec
    import Multimodal.{MediaItem, MediaMeta}
    val w = 9; val h = 8
    var seed = 12345L
    def frame(k: Int): Array[Byte] = {
      seed = k * 6364136223846793005L + 1442695040888963407L
      Array.tabulate(w * h * 3) { _ =>
        seed = seed * 6364136223846793005L + 1442695040888963407L
        (seed >>> 56).toByte
      }
    }
    def video(id: Long, ks: Seq[Int]) = {
      val frames = ks.map(k => PpmCodec.encode(w, h, frame(k)))
      MediaItem(id, frames.reduce(_ ++ _), MediaMeta("video", w, h, 0, ks.size))
    }
    val media = Seq(
      video(1L, Seq(1, 2, 3, 4)),
      // shares frames 3,4 with video 1 — a trimmed re-cut
      video(2L, Seq(3, 4, 5, 6)),
      // shares only frame 1 with video 1, and repeats it: repeats must
      // count ONCE, so this stays under minShared
      video(3L, Seq(1, 1, 1, 7))
    ).toDS().toDF()
    val pairs = Multimodal.videoDedup(spark, media, every = 1, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs == Map((1L, 2L) -> 2L), s"wrong video pairs: $pairs")
    // frame hashes really are per-frame (4 sampled frames per video)
    val nHashes = Multimodal.frameHashes(spark, media, every = 1).count()
    assert(nHashes == 12L, s"expected 12 frame hashes, got $nHashes")
  }

  test("cross-modal dedup: a frame-extract image matches its source video at the right frame") {
    import spark.implicits._
    import graft.operators.PpmCodec
    import Multimodal.{MediaItem, MediaMeta}
    val w = 9; val h = 8
    var seed = 0L
    def frame(k: Int): Array[Byte] = {
      seed = k * 6364136223846793005L + 1442695040888963407L
      Array.tabulate(w * h * 3) { _ =>
        seed = seed * 6364136223846793005L + 1442695040888963407L
        (seed >>> 56).toByte
      }
    }
    def video(id: Long, ks: Seq[Int]) = MediaItem(id,
      ks.map(k => PpmCodec.encode(w, h, frame(k))).reduce(_ ++ _),
      MediaMeta("video", w, h, 0, ks.size))
    def image(id: Long, k: Int) = MediaItem(id,
      PpmCodec.encode(w, h, frame(k)), MediaMeta("image", w, h, 0, 1))
    val media = Seq(
      video(1L, Seq(1, 2, 3, 4)),
      video(2L, Seq(5, 6, 7, 8)),
      image(10L, 3), // frame extract of video 1, frame_idx 2
      image(11L, 9) // unrelated image
    ).toDS().toDF()
    val m = Multimodal.crossModalMatches(spark, media, every = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(m == Map((10L, 1L) -> ((1L, 2))), s"wrong cross-modal matches: $m")
  }

  test("mosaic phash: a contact-sheet thumbnail matches its source video at any resolution") {
    import spark.implicits._
    import graft.operators.PpmCodec
    import Multimodal.{MediaItem, MediaMeta}
    val w = 16; val h = 12
    var seed = 0L
    def frame(k: Int): Array[Byte] = {
      seed = k * 6364136223846793005L + 1442695040888963407L
      Array.tabulate(w * h * 3) { _ =>
        seed = seed * 6364136223846793005L + 1442695040888963407L
        (seed >>> 56).toByte
      }
    }
    def video(id: Long, ks: Seq[Int]) = MediaItem(id,
      ks.map(k => PpmCodec.encode(w, h, frame(k))).reduce(_ ++ _),
      MediaMeta("video", w, h, 0, ks.size))
    // the contact-sheet thumbnail: the video's own mosaic raster,
    // optionally nearest-UPSCALED by an integer factor (dHash samples
    // through floor division, so integer upscales hash bit-identically)
    def sheet(id: Long, ks: Seq[Int], scale: Int) = {
      val frames = ks.map(k => (w, h, frame(k))).toIndexedSeq
      val (mw, mh, rgb) = Multimodal.mosaicRaster(frames,
        Multimodal.MosaicGrid, Multimodal.MosaicCell)
      val up = PpmCodec.resizeNearest(mw, mh, rgb, mw * scale, mh * scale)
      MediaItem(id, PpmCodec.encode(mw * scale, mh * scale, up),
        MediaMeta("image", mw * scale, mh * scale, 0, 1))
    }
    def image(id: Long, k: Int) = MediaItem(id,
      PpmCodec.encode(w, h, frame(k)), MediaMeta("image", w, h, 0, 1))
    val ks = Seq(1, 2, 3, 4, 5, 6, 7, 8, 9)
    val media = Seq(
      video(1L, ks),
      video(2L, Seq(11, 12, 13, 14, 15, 16, 17, 18, 19)),
      sheet(10L, ks, 1), // exact contact sheet of video 1
      sheet(11L, ks, 2), // 2x-upscaled contact sheet of video 1
      image(12L, 3) // single frame extract: NOT a mosaic match
    ).toDS().toDF()
    val m = Multimodal.mosaicMatches(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(m == Map((10L, 1L) -> 0, (11L, 1L) -> 0),
      s"wrong mosaic matches: $m")
    // a short video (fewer frames than cells) still hashes — cells
    // repeat the nearest sampled frame rather than dropping the video
    val shortMedia = Seq(video(3L, Seq(1, 2))).toDS().toDF()
    assert(Multimodal.mosaicHashes(spark, shortMedia).count() == 1L)
  }

  test("audio dedup: gain-invariant hash pairs re-levelled/noisy twins, separates unlike content") {
    import spark.implicits._
    import graft.operators.{Dsp, WavCodec}
    import Multimodal.{MediaItem, MediaMeta}
    val rate = 16000
    val n = 16000 // 1s clips
    def tone(freqs: Seq[(Double, Double)], noiseAmp: Double, gain: Double,
        seed: Long): Array[Short] = {
      var s = seed
      Array.tabulate(n) { i =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val noise = ((s >>> 40).toInt / 8388608.0 - 1.0) * noiseAmp
        val x = freqs.map { case (f, a) => a * math.sin(2 * math.Pi * f * i / rate) }.sum
        ((x + noise) * gain * 12000).toShort
      }
    }
    val voiceish = Seq((220.0, 0.8), (440.0, 0.5), (880.0, 0.25))
    val brightish = Seq((2500.0, 0.8), (5000.0, 0.5))
    val base = tone(voiceish, 0.0, 1.0, 1L)
    // half gain: the comparison hash must be IDENTICAL, not just close
    assert(Dsp.audioHash64(rate, tone(voiceish, 0.0, 0.5, 1L)) ==
      Dsp.audioHash64(rate, base), "gain change moved the hash")
    def item(id: Long, samples: Array[Short]) = MediaItem(id,
      WavCodec.encode(rate, samples), MediaMeta("audio", 0, 0, rate, 0))
    val media = Seq(
      item(1L, base),
      item(2L, tone(voiceish, 0.02, 0.7, 99L)), // noisy re-levelled twin
      item(3L, tone(brightish, 0.0, 1.0, 1L)) // different spectral shape
    ).toDS().toDF()
    val pairs = Multimodal.audioDedup(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"wrong audio near-dup pairs: $pairs")
  }

  test("dsp: fft matches the dft definition, Parseval holds, spectra separate tone from noise") {
    import graft.operators.Dsp
    // deterministic pseudo-random signal (LCG — no Math.random in specs)
    var seed = 0x9E3779B97F4A7C15L
    def next(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val n = 256
    val re = Array.fill(n)(next())
    val im = Array.fill(n)(next())
    val (wantRe, wantIm) = Dsp.dftRef(re, im)
    val gotRe = re.clone(); val gotIm = im.clone()
    Dsp.fft(gotRe, gotIm)
    for (k <- 0 until n) {
      assert(math.abs(gotRe(k) - wantRe(k)) < 1e-9 &&
        math.abs(gotIm(k) - wantIm(k)) < 1e-9, s"fft bin $k diverged from dft")
    }
    // Parseval: sum |x|^2 == sum |X|^2 / N
    val tEnergy = (0 until n).map(i => re(i) * re(i) + im(i) * im(i)).sum
    val fEnergy = (0 until n).map(k => gotRe(k) * gotRe(k) + gotIm(k) * gotIm(k)).sum / n
    assert(math.abs(tEnergy - fEnergy) < 1e-9 * tEnergy, s"Parseval: $tEnergy != $fEnergy")
    // a pure tone at an exact bin frequency: centroid lands on it, the
    // containing band dominates, flatness is near zero; LCG noise is flat
    val rate = 16000
    val toneBin = 64
    val f0 = toneBin.toDouble * rate / Dsp.Nfft  // 2000 Hz
    val tone = Array.tabulate(rate)(i =>
      (math.sin(2.0 * math.Pi * f0 * i / rate) * 20000).toShort)
    val (c, roll, flat, bands) = Dsp.spectralFeatures(rate, tone)
    assert(math.abs(c - f0) < 2.0 * rate / Dsp.Nfft, s"tone centroid $c != $f0")
    assert(math.abs(roll - f0) < 2.0 * rate / Dsp.Nfft, s"tone rolloff $roll != $f0")
    assert(flat < 0.01, s"tone flatness $flat not near 0")
    // the Hann mainlobe spans ±2 bins, so a tone near a log-band edge can
    // split across two ADJACENT bands — concentration means top-2 ≈ all
    val top2 = bands.sorted.takeRight(2).sum
    assert(top2 > 0.99, s"tone band energy not concentrated: ${bands.toSeq}")
    assert(math.abs(bands.sum - 1.0) < 1e-3, s"bands must normalize: ${bands.sum}")
    val noise = Array.tabulate(rate)(_ => (next() * 20000).toShort)
    val (_, _, nFlat, nBands) = Dsp.spectralFeatures(rate, noise)
    assert(nFlat > 0.5, s"white-noise flatness $nFlat not near 1")
    assert(nBands.max < 0.5, s"noise band energy should spread: ${nBands.toSeq}")
    // silence is all-zero, not NaN
    val (sc, sr, sfl, sb) = Dsp.spectralFeatures(rate, new Array[Short](1000))
    assert(sc == 0.0 && sr == 0.0 && sfl == 0.0 && sb.forall(_ == 0f))
    // the Spark surface: spectra only for parseable audio rows, finite values
    val media = Multimodal.transcode(spark,
      Multimodal.fromDocuments(Tables.documents(spark, sf)))
    val spectra = Multimodal.audioSpectra(spark, media.toDF()).collect()
    assert(spectra.nonEmpty, "no audio spectra from the transcoded mix")
    spectra.foreach { s =>
      assert(!s.centroid_hz.isNaN && s.centroid_hz >= 0 &&
        s.centroid_hz <= s.sample_rate_hz / 2.0, s"centroid out of range: $s")
      assert(math.abs(s.bands.sum - 1.0) < 1e-3 || s.bands.forall(_ == 0f),
        s"bands not normalized: ${s.bands.toSeq}")
    }
  }

  test("multimodal codecs: real PPM/PNG/JPEG/WAV containers round-trip through decode/resize/frames") {
    import graft.operators.{ImageIoCodec, PpmCodec, WavCodec}
    val media = Multimodal.transcode(spark, Multimodal.fromDocuments(Tables.documents(spark, sf)))
    val items = media.collect()
    // every image payload is a well-formed container whose dimensions
    // match the metadata — and the corpus genuinely mixes formats: PPM,
    // PNG (\x89PNG magic) and JPEG (\xFF\xD8 SOI marker) all present
    val images = items.filter(_.meta.kind == "image")
    def isPng(p: Array[Byte]) = p.length > 8 && (p(0) & 0xFF) == 0x89 && p(1) == 'P'
    def isJpeg(p: Array[Byte]) = p.length > 2 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8
    def isBmp(p: Array[Byte]) = p.length > 2 && p(0) == 'B' && p(1) == 'M'
    def isGif(p: Array[Byte]) = p.length > 4 && p.startsWith("GIF8".getBytes("US-ASCII"))
    assert(images.exists(m => isPng(m.payload)), "no PNG payloads in the transcode mix")
    assert(images.exists(m => isJpeg(m.payload)), "no JPEG payloads in the transcode mix")
    assert(images.exists(m => isBmp(m.payload)), "no BMP payloads in the transcode mix")
    assert(images.exists(m => isGif(m.payload)), "no GIF payloads in the transcode mix")
    assert(images.exists(m => m.payload.startsWith("P6".getBytes("US-ASCII"))),
      "no PPM payloads in the transcode mix")
    images.foreach { m =>
      val dec = PpmCodec.decode(m.payload).orElse(ImageIoCodec.decode(m.payload))
      assert(dec.exists { case (w, h, _) => w == m.meta.width && h == m.meta.height },
        s"media ${m.media_id}: bad image container")
    }
    // audio payloads are valid PCM-16 WAV at the metadata sample rate
    items.filter(_.meta.kind == "audio").foreach { m =>
      val dec = WavCodec.decode(m.payload)
      assert(dec.exists { case (rate, samples) =>
        rate == m.meta.sampleRateHz && samples.nonEmpty },
        s"media ${m.media_id}: bad WAV container")
    }
    // resize does real pixel-grid resampling: every output decodes as a
    // valid 8x8 image (PPM stays PPM; compressed sources re-encode PNG)
    Multimodal.resizeImages(spark, media.toDF(), 8, 8).collect()
      .filter(_.meta.kind == "image").foreach { m =>
        val dec = PpmCodec.decode(m.payload).orElse(ImageIoCodec.decode(m.payload))
        assert(dec.exists { case (w, h, rgb) => w == 8 && h == 8 && rgb.length == 192 })
      }
    // PNG is lossless: encode -> decode gives back the exact pixels; and a
    // JPEG round-trip preserves dimensions through a real DCT codec
    val rgb3x2 = Array.tabulate[Byte](18)(i => (i * 13).toByte)
    assert(ImageIoCodec.decode(ImageIoCodec.encodePng(3, 2, rgb3x2))
      .exists { case (w, h, px) => w == 3 && h == 2 && px.sameElements(rgb3x2) })
    assert(ImageIoCodec.decode(ImageIoCodec.encodeJpeg(3, 2, rgb3x2))
      .exists { case (w, h, px) => w == 3 && h == 2 && px.length == 18 })
    // BMP is lossless like PNG: exact pixels back
    assert(ImageIoCodec.decode(ImageIoCodec.encodeBmp(3, 2, rgb3x2))
      .exists { case (w, h, px) => w == 3 && h == 2 && px.sameElements(rgb3x2) },
      "BMP round-trip not lossless")
    // GIF palettizes: exact for a <= 256-color image, dimensions always
    val gray3x2 = Array.tabulate[Byte](18)(i => (40 * (i / 3)).toByte) // 6 colors
    assert(ImageIoCodec.decode(ImageIoCodec.encodeGif(3, 2, gray3x2))
      .exists { case (w, h, px) => w == 3 && h == 2 && px.sameElements(gray3x2) },
      "GIF round-trip not exact for a palette-sized image")
    assert(ImageIoCodec.decode(ImageIoCodec.encodeGif(3, 2, rgb3x2))
      .exists { case (w, h, px) => w == 3 && h == 2 && px.length == 18 })
    // regression pin: the JDK GIF writer's default interlaced mode
    // row-shifts tiny images (12x2 was the worst probed case) — the
    // codec writes non-interlaced, so this must stay exact
    val wide12x2 = Array.tabulate[Byte](72)(i => (51 * ((i / 3) % 6)).toByte)
    assert(ImageIoCodec.decode(ImageIoCodec.encodeGif(12, 2, wide12x2))
      .exists { case (w, h, px) => w == 12 && h == 2 && px.sameElements(wide12x2) },
      "tiny wide GIF row-shifted — interlace regression")
    // video frames split at real container boundaries: each a standalone PPM,
    // every 2nd frame of the metadata's frame count
    val frames = Multimodal.sampleFrames(spark, media.toDF(), every = 2).collect()
    assert(frames.nonEmpty)
    frames.foreach(f => assert(PpmCodec.decode(f.payload).isDefined,
      s"frame ${f.frame_idx} of ${f.media_id} is not a standalone PPM"))
    // short clips (< 2*stride frames) sample EVERY frame so exact
    // duplicates of 2-frame videos can still reach a shared-frame
    // threshold (Multimodal.frameStride)
    val wantFrames = items.filter(_.meta.kind == "video")
      .map(m => m.media_id ->
        (if (m.meta.nFrames < 4) m.meta.nFrames else (m.meta.nFrames + 1) / 2)).toMap
    val gotFrames = frames.groupBy(_.media_id).view.mapValues(_.length).toMap
    assert(gotFrames == wantFrames)
    // features come from the real decoders and stay in [0, 1]
    val feats = Multimodal.extractFeatures(spark, media.toDF()).collect()
    assert(feats.length == items.length)
    assert(feats.forall(_.features.forall(v => v >= 0f && v <= 1f)))
    // adversarial payloads: decoders must return None, never throw
    import graft.operators.{PpmCodec => P, WavCodec => W}
    val garbage = Seq(
      Array.empty[Byte],
      "P6".getBytes("US-ASCII"),
      "P6\n999999999 999999999\n255\n".getBytes("US-ASCII"), // raster overflows int
      "P6\n4 4\n255\nxx".getBytes("US-ASCII"),                // truncated raster
      ("P6\n1 1\n255X" + "rgb").getBytes("US-ASCII"),         // non-ws after maxval
      "RIFF....WAVE".getBytes("US-ASCII"),
      W.encode(16000, Array[Short](1, 2, 3)).take(30).toArray, // truncated WAV
      { val b = W.encode(16000, Array[Short](1, 2, 3))
        b(16) = 127.toByte; b }) // absurd fmt chunk length
    garbage.foreach { g =>
      assert(P.decode(g).isEmpty, "PPM decode must reject garbage")
      assert(W.decode(g).isEmpty, "WAV decode must reject garbage")
      assert(ImageIoCodec.decode(g).isEmpty, "ImageIO decode must reject garbage")
    }
    // truncated PNG: valid signature + header, body cut mid-stream
    assert(ImageIoCodec.decode(
      ImageIoCodec.encodePng(4, 4, new Array[Byte](48)).take(30).toArray).isEmpty,
      "truncated PNG must decode to None, not throw")
    // decompression bomb: a well-formed IHDR (correct CRC) claiming a
    // 65535x65535 raster — the pixel cap must reject it from the HEADER,
    // before any multi-GB allocation
    val bomb = {
      val sig = Array[Int](0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
      val ihdrBody = java.nio.ByteBuffer.allocate(17)
        .put("IHDR".getBytes("US-ASCII"))
        .putInt(65535).putInt(65535)         // width, height
        .put(8.toByte).put(2.toByte)          // bit depth, RGB color type
        .put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
        .array()
      val crc = new java.util.zip.CRC32(); crc.update(ihdrBody)
      java.nio.ByteBuffer.allocate(8 + 4 + 17 + 4)
        .put(sig).putInt(13).put(ihdrBody).putInt(crc.getValue.toInt).array()
    }
    assert(ImageIoCodec.decode(bomb).isEmpty,
      "oversized-raster PNG must be rejected from the header")
  }

  test("column cleaning and schema generation mirror the reference parser") {
    assert(sources.CleanCsv.cleanColumnName(" Unit Price ($) ") == "unit_price_")
    assert(sources.CleanCsv.cleanColumnName("2024 total") == "col_2024_total")
    val df = Tables.nation(spark, sf).withColumnRenamed("n_name", "Nation Name")
    val cleaned = sources.CleanCsv.cleanColumnNames(df)
    assert(cleaned.columns.contains("nation_name"))
    val ddl = sources.CleanCsv.sqlSchema(cleaned, "nation")
    assert(ddl.startsWith("CREATE TABLE nation (") && ddl.contains("nation_name STRING"))
  }

  test("partitioned sink: layout prunes partitions and round-trips data") {
    val dir = java.nio.file.Files.createTempDirectory("graftsink").toString
    val df = operators.Seasonal.monthlyTrend(spark, sf)
    sources.Sinks.writeParquet(df, dir, partitionCols = Seq("year"), sortCols = Seq("brand"))
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count())
    // partition pruning: a year filter must prune the file listing
    val pruned = back.filter(col("year") === 1995)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(year"), s"no partition filter:\n$scan")
  }

  test("pipeline writes every layer with rows") {
    val out = java.nio.file.Files.createTempDirectory("graftpipe").toString
    graft.Pipeline.run(spark, sf, out)
    val layers = Seq("dim_locality", "dim_date", "fact_rollup", "best_markets", "ml_data",
      "corpus_thresholds", "corpus_clean", "corpus_repetition", "corpus_decontamination",
      "corpus_pii", "corpus_splits", "corpus_packed", "corpus_report",
      "quality_scores", "forecast_model")
    layers.foreach { l =>
      assert(spark.read.parquet(s"$out/$l").count() > 0, s"layer $l empty")
    }
    // the curation layers are CHAINED clean -> repetition screen ->
    // PII scrub -> decontamination (scrub precedes every content-keyed
    // decision): what ships (splits, packs) is exactly the screened
    // survivor set, nothing the screens dropped
    def ids(l: String) = spark.read.parquet(s"$out/$l").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val cleanIds = ids("corpus_clean")
    val keepIds = spark.read.parquet(s"$out/corpus_repetition")
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val dropIds = spark.read.parquet(s"$out/corpus_decontamination")
      .filter(col("flag_drop")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids("corpus_pii") == (cleanIds intersect keepIds),
      "PII layer must scrub exactly the repetition survivors")
    val shipped = ids("corpus_pii") diff dropIds
    assert(shipped.nonEmpty, "screens dropped the whole corpus")
    Seq("corpus_splits", "corpus_packed").foreach { l =>
      assert(ids(l) == shipped, s"$l not chained off the screened corpus")
    }
    // screen evidence layers cover the corpus they screen: repetition
    // over the clean set; decontamination over the SCRUBBED text's
    // train split only (its rows are a subset of the scrubbed docs)
    assert(ids("corpus_repetition") == cleanIds)
    assert(ids("corpus_decontamination").subsetOf(ids("corpus_pii")))
  }

  test("clean csv: malformed rows quarantined, non-ascii scrubbed") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv").toFile
    val f = new java.io.File(dir, "in.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("id,name,price")
    w.println("1,café au lait,3.50")
    w.println("2,plain tea,2.00")
    w.println("3,\"unterminated quote,9.99")
    w.close()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id INT, name STRING, price DOUBLE")
    // Spark disallows querying ONLY _corrupt_record from a raw file scan;
    // collect whole rows (as a real quarantine pass would persist them)
    val rows = sources.CleanCsv.readClean(spark, f.getAbsolutePath, Some(schema)).collect()
    val names = rows.flatMap(r => Option(r.getAs[String]("name"))).toSet
    assert(names.contains("caf au lait"), s"scrub failed: $names")
    assert(names.contains("plain tea"))
    assert(rows.count(r => r.getAs[String](sources.CleanCsv.CorruptCol) != null) >= 1,
      "malformed row not quarantined")
  }

  test("json source quarantines malformed lines under an explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graftjson").toFile
    val f = new java.io.File(dir, "in.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("""{"id": 1, "name": "ok"}""")
    w.println("""{"id": 2, "name": "also ok"}""")
    w.println("""{"id": 3, "name": broken""")
    w.close()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, name STRING")
    val rows = sources.JsonSource.read(spark, f.getAbsolutePath, Some(schema)).collect()
    assert(rows.count(r => r.getAs[Any]("id") != null) == 2)
    assert(rows.count(r => r.getAs[String](sources.CleanCsv.CorruptCol) != null) == 1)
  }

  test("typed table loaders round-trip every table through case-class encoders") {
    assert(TypedTables.lineitem(spark, sf).filter(_.l_quantity > 0).count() > 0)
    assert(TypedTables.orders(spark, sf).head().o_orderdate.getYear >= 1995)
    assert(TypedTables.documents(spark, sf).map(_.text.length)(
      org.apache.spark.sql.Encoders.scalaInt).filter(_ > 0).count() > 0)
    assert(TypedTables.embeddings(spark, sf).head().embedding.length == 64)
    assert(TypedTables.events(spark, sf).head().ts > 1700000000000000000L) // nanos
    assert(TypedTables.nation(spark, sf).count() == 25)
  }

  test("catalog registers base tables and operator views for SQL users") {
    Catalog.register(spark, sf)
    assert(spark.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0) > 0)
    val trend = spark.sql(
      "SELECT * FROM graft_q_monthly_trend WHERE month = 1 ORDER BY brand, year LIMIT 5")
    assert(trend.count() == 5)
    assert(spark.sql("SELECT * FROM graft_q_pricing_summary").count() == 6)
    // model-bearing queries run Spark jobs at plan-BUILD time and are
    // excluded from the default registration (registered lazily on opt-in)
    Catalog.ModelBearing.foreach { name =>
      assert(!spark.catalog.tableExists(s"graft_$name"),
        s"$name should not be built by default register()")
    }
    Catalog.register(spark, sf, materializeModels = true)
    assert(spark.sql("SELECT * FROM graft_q_knn_ivf").count() > 0)
  }

  test("hyperplane bucketing codegen-compiles (no janino fallback) and matches interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    import graft.functions.{HyperplaneBuckets, Hyperplanes}
    val in = BoundReference(0, ArrayType(FloatType), nullable = true)
    val probe = HyperplaneBuckets(in, Hyperplanes.flat, Hyperplanes.Dim,
      Hyperplanes.PlanesPerBand, multiProbe = true)
    val index = HyperplaneBuckets(in, Hyperplanes.flat, Hyperplanes.Dim,
      Hyperplanes.PlanesPerBand, multiProbe = false)
    // generate() compiles the projection with janino and THROWS on failure —
    // this is the regression gate for the r1 "Whole-stage codegen disabled"
    // fallback (the inlined-plane-literals formulation did not compile)
    val proj = GenerateUnsafeProjection.generate(Seq(probe, index))
    val rnd = new scala.util.Random(3)
    (0 until 20).foreach { _ =>
      val vec = Array.fill(Hyperplanes.Dim)(rnd.nextFloat() * 2 - 1)
      val row = new GenericInternalRow(Array[Any](new GenericArrayData(vec)))
      val out = proj(row)
      val gotProbe = out.getArray(0).toIntArray().toSeq
      val gotIndex = out.getArray(1).toIntArray().toSeq
      assert(gotProbe ==
        probe.eval(row).asInstanceOf[ArrayData].toIntArray().toSeq)
      assert(gotIndex ==
        index.eval(row).asInstanceOf[ArrayData].toIntArray().toSeq)
      // probe output interleaves (primary, alternate): primaries must equal
      // the index form; alternates differ by exactly one flipped sign bit
      assert((0 until Hyperplanes.Bands).forall(b => gotProbe(2 * b) == gotIndex(b)))
      assert((0 until Hyperplanes.Bands).forall(b =>
        Integer.bitCount(gotProbe(2 * b) ^ gotProbe(2 * b + 1)) == 1))
    }
    // hand-computed instance: planes [[1,0],[0,1]], vec [0.5,-0.5] ->
    // bucket = bit0 only (dot0=0.5>0, dot1=-0.5<0) = 1; margins tie at 0.5
    // -> first (bit 0) flips -> alternate 0
    val tiny = HyperplaneBuckets(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      IndexedSeq(1.0, 0.0, 0.0, 1.0), dim = 2, planesPerBand = 2, multiProbe = true)
    val r = new GenericInternalRow(Array[Any](new GenericArrayData(Array(0.5, -0.5))))
    assert(tiny.eval(r).asInstanceOf[ArrayData].toIntArray().toSeq == Seq(1, 0))
  }

  test("every graft expression codegen-compiles: kernels, signatures, hofCompat cosine") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions._
    val s = BoundReference(0, StringType, nullable = true)
    val v = BoundReference(1, ArrayType(FloatType), nullable = true)
    val exprs = Seq(
      SimHash64(s),
      MinHashSigs(s),
      CosineSimilarity(v, v),
      CosineSimilarity(v, v, hofCompat = true),
      DotProduct(v, v),
      L2SquaredDistance(v, v),
      TextStats(s))
    // as-of lookup compiles and agrees with interpreted eval, incl. the
    // no-qualifying-element null
    locally {
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types.{LongType, StructType, StructField, DoubleType}
      val seriesT = org.apache.spark.sql.types.ArrayType(StructType(Seq(
        StructField("_t", LongType, nullable = false),
        StructField("_v", DoubleType, nullable = false))))
      val arr = BoundReference(0, seriesT, nullable = true)
      val t = BoundReference(1, LongType, nullable = true)
      val ex = AsOfLookup(arr, t)
      val proj = GenerateUnsafeProjection.generate(Seq(ex))
      def row(ts: Seq[(Long, Double)], q: Long) = new GenericInternalRow(Array[Any](
        new GenericArrayData(ts.map { case (a, b) =>
          new GenericInternalRow(Array[Any](a, b)): Any }.toArray), q))
      val r1 = row(Seq(1L -> 10.0, 3L -> 30.0, 3L -> 31.0, 7L -> 70.0), 5L)
      assert(proj(r1).getDouble(0) == 31.0) // max time <= 5, max value on tie
      assert(ex.eval(r1).asInstanceOf[Double] == 31.0)
      val r0 = row(Seq(4L -> 40.0), 2L)
      assert(proj(r0).isNullAt(0) && ex.eval(r0) == null) // nothing prior
    }
    // bpe count compiles with the rank table as a reference object and
    // agrees with interpreted eval
    locally {
      import org.apache.spark.sql.catalyst.expressions.Literal
      val merges = Literal.create(Seq("a b", "ab c"), ArrayType(StringType))
      val ex = BpeTokenCount(s, merges)
      val proj = GenerateUnsafeProjection.generate(Seq(ex))
      val r = new GenericInternalRow(Array[Any](UTF8String.fromString("abc abc xyz")))
      // abc: a+b -> ab, ab+c -> abc = 1 token each; xyz: no merges = 3
      assert(proj(r).getInt(0) == 5)
      assert(ex.eval(r) == 5)
    }
    // argmin-l2 compiles; nearest centroid wins, first index on ties
    locally {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.DoubleType
      val cents = Literal.create(
        Seq(Seq(0.0, 0.0, 0.0), Seq(0.5, -0.25, 0.75), Seq(0.5, -0.25, 0.75)),
        ArrayType(ArrayType(DoubleType)))
      val ex = ArgminL2(v, cents)
      val proj2 = GenerateUnsafeProjection.generate(Seq(ex))
      val r = new GenericInternalRow(Array[Any](null,
        new GenericArrayData(Array(0.5f, -0.25f, 0.75f))))
      assert(proj2(r).getInt(0) == 1)
      assert(ex.eval(r) == 1)
    }
    // generate() THROWS on janino failure — no silent interpreted fallback
    val proj = GenerateUnsafeProjection.generate(exprs)
    val row = new GenericInternalRow(Array[Any](
      UTF8String.fromString("alpha beta gamma delta epsilon"),
      new GenericArrayData(Array(0.5f, -0.25f, 0.75f))))
    val out = proj(row)
    // codegen agrees with the interpreted path on every expression
    assert(out.getLong(0) == exprs(0).eval(row).asInstanceOf[Long])
    assert(out.getArray(1).toLongArray().toSeq ==
      exprs(1).eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq)
    (2 until 6).foreach { i =>
      assert(out.getDouble(i) == exprs(i).eval(row).asInstanceOf[Double], s"expr $i")
    }
    // text-stats struct agrees field-by-field with the interpreted path
    val tsGen = out.getStruct(6, 11)
    val tsInt = exprs(6).eval(row)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    (0 until 11).foreach { f =>
      assert(tsGen.getInt(f) == tsInt.getInt(f), s"text-stats field $f")
    }
    // hofCompat zero-norm NaN agrees between codegen and interpreted
    val zrow = new GenericInternalRow(Array[Any](null,
      new GenericArrayData(Array(0.0f, 0.0f))))
    val zc = GenerateUnsafeProjection.generate(Seq(CosineSimilarity(v, v, hofCompat = true)))
    assert(zc(zrow).getDouble(0).isNaN)
    assert(CosineSimilarity(v, v, hofCompat = true).eval(zrow).asInstanceOf[Double].isNaN)
  }

  test("kernel width/window literals are validated at construction (r11 ADVICE)") {
    // graft_winnow with w <= 0 read uninitialized deque slots and
    // returned silent garbage; graft_gram_counts with n <= 0 degenerated
    // similarly. All four parameterized kernels must now fail fast with
    // the same IllegalArgumentException the non-literal path gets.
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
    import graft.functions._
    val s = BoundReference(0, StringType, nullable = true)
    val w = BoundReference(1, ArrayType(StringType), nullable = true)
    val st = BoundReference(2, ArrayType(IntegerType), nullable = true)
    Seq[(String, () => Any)](
      ("winnow k=0", () => WinnowSketch(s, 0, 4)),
      ("winnow w=0", () => WinnowSketch(s, 5, 0)),
      ("winnow w<0", () => WinnowSketch(s, 5, -3)),
      ("gram_counts n=0", () => GramCounts(s, 0)),
      ("coverage width=0", () => CoverageIntervals(st, 0)),
      ("excise width=0", () => ExciseTokens(w, st, 0))
    ).foreach { case (name, mk) =>
      intercept[IllegalArgumentException] { mk() }
      val _ = name
    }
  }

  test("knn rankers use bounded-heap aggregation — no ordered Window over scored rows") {
    Seq(
      "brute" -> operators.Similarity.knnBrute(spark, sf, 10),
      "lsh" -> operators.Similarity.knnLsh(spark, sf, 10),
      "ivf" -> operators.Similarity.knnIvf(spark, sf, 10)).foreach { case (name, df) =>
      // the scale-killer shape is a rank()/row_number() window ORDERING
      // the full scored candidate set; withRecall's unordered per-query
      // sum over the already-k-limited result frame is a bounded
      // aggregation and stays allowed
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.orderSpec.nonEmpty => w
      }
      assert(wins.isEmpty, s"knn $name plan ranks via ordered Window — scale-killer")
    }
  }

  test("bucketed postings: dedup candidate join is exchange-free on the h side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val tmp = java.nio.file.Files.createTempDirectory("graftpost").toString
    operators.Dedup.writeBucketedPostings(
      spark, Tables.documents(spark, sf), "sh_bucketed", s"$tmp/sh", numBuckets = 8)
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = operators.Dedup.ngramJaccardBucketed(spark, "sh_bucketed", threshold = 0.3)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // every h-keyed operation (hot-cap df agg, anti-join, candidate
      // self-join) is bucket-local; the remaining exchanges are the
      // doc-keyed aggregations and the final size joins, which no
      // physical layout avoids: sizes agg, pairs agg, and the two
      // doc-keyed joins of the verifier tail
      assert(exchanges.size <= 5, s"h-side exchanges crept back in " +
        s"(${exchanges.size}):\n" + df.queryExecution.executedPlan)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(h#"),
        s"candidate join still shuffles on h:\n$plan")
      val got = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = operators.Dedup
        .ngramJaccard(Tables.documents(spark, sf), threshold = 0.3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, "bucketed variant diverged from the shuffle variant")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      spark.sql("DROP TABLE IF EXISTS sh_bucketed")
    }
  }

  test("postings SERVE path inherits the exchange-free candidate join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // serve resolves (and if needed builds) the fingerprint-keyed
      // generation; the QUERY plan itself must stay bucket-local on h
      val df = operators.Dedup.ngramJaccardServe(spark, sf, threshold = 0.3)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // r17 collapse serve: the class-map joins and pair expansions add
      // exchanges, but every one is keyed on class/pair ids over streams
      // that scale with DISTINCT texts (or output pairs) — the invariant
      // this spec protects is the h side staying bucket-local, asserted
      // below. The bound is the MEASURED plan count (18, `runMain
      // graft.tools.Probe exchanges` on the r18 class-sidecar plan under
      // these exact no-broadcast/no-AQE conditions — r17 ADVICE asked
      // for measured+margin; measured leaves zero creep headroom, which
      // is the point: planning is deterministic with AQE off, so any
      // new exchange fires this assert and must re-justify the budget)
      assert(exchanges.size <= 18, s"serve-path exchanges crept back in " +
        s"(${exchanges.size}):\n" + df.queryExecution.executedPlan)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(h#"),
        s"serve-path candidate join shuffles on h:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("bucketed star join: co-located fact join is exchange-free, one rollup shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val tmp = java.nio.file.Files.createTempDirectory("graftbucket").toString
    operators.StarSchema.writeBucketed(
      Tables.lineitem(spark, sf), "li_bucketed", "l_orderkey", 8, s"$tmp/li")
    operators.StarSchema.writeBucketed(
      Tables.orders(spark, sf), "o_bucketed", "o_orderkey", 8, s"$tmp/o")
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // no auto-broadcast (the bucketed join must stand on its own) and no
      // AQE (assert on the static physical plan)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = operators.StarSchema.starJoinBucketed(spark, sf, "li_bucketed", "o_bucketed")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1,
        s"expected ONLY the rollup exchange, got ${exchanges.size}:\n" +
          df.queryExecution.executedPlan)
      val got = df.collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      val want = operators.StarSchema.starJoin(spark, sf).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      assert(got == want, "bucketed variant must be bit-identical to the shuffle variant")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("fact SERVE layout: star join and hdi orders-attach are orderkey-exchange-free") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // serve resolves (and if needed builds) the fingerprint-keyed
      // co-bucketed layout; the QUERY plan itself must be bucket-local
      // on the orderkey: the star join's ONLY exchange is the final
      // (region, year) rollup
      val star = operators.StarSchema.starJoinServed(spark, sf)
      val starEx = star.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(starEx.size == 1,
        s"served star join: expected ONLY the rollup exchange, got ${starEx.size}:\n" +
          star.queryExecution.executedPlan)
      val starPlan = star.queryExecution.executedPlan.toString
      assert(!starPlan.contains("Exchange hashpartitioning(l_orderkey#") &&
        !starPlan.contains("Exchange hashpartitioning(o_orderkey#"),
        s"served star join shuffles on the orderkey:\n$starPlan")
      // the serve is scan+rollup over the denormalized fact: the joins
      // were paid at layout-build time (bucket-local + broadcast dims)
      assert(!starPlan.contains("Join"),
        s"served star join still joins per-query:\n$starPlan")
      // results bit-identical to the inline form (same oracle): the
      // persisted partials are decimal-associative
      val got = star.collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      val want = operators.StarSchema.starJoin(spark, sf).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      assert(got == want, "served star join diverged from the inline form")
      // hdi's orders attach reads the same layout: no orderkey exchange
      val hdi = operators.Stats.hdiVolatility(spark, sf)
      val hdiPlan = hdi.queryExecution.executedPlan.toString
      assert(!hdiPlan.contains("Exchange hashpartitioning(l_orderkey#") &&
        !hdiPlan.contains("Exchange hashpartitioning(o_orderkey#"),
        s"hdi orders attach shuffles on the orderkey:\n$hdiPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("fact SERVE layout: ml_extract and price_usd serve join-free and bit-equal to inline") {
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // ml_extract: pure scan of the transaction-grain fact — zero
      // joins, zero exchanges (the dbt fact_transaction discipline)
      val ml = operators.StarSchema.mlExtractServed(spark, sf)
      val mlPlan = ml.queryExecution.executedPlan.toString
      assert(!mlPlan.contains("Join"), s"served ml_extract joins per-query:\n$mlPlan")
      assert(!mlPlan.contains("Exchange"), s"served ml_extract shuffles:\n$mlPlan")
      val key = Seq("l_orderkey", "l_linenumber")
      def mlMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.toSeq.drop(2)).toMap
      val gotMl = mlMap(ml)
      val wantMl = mlMap(operators.StarSchema.mlExtract(spark, sf))
      assert(gotMl.size == wantMl.size && gotMl == wantMl,
        "served ml_extract diverged from the inline form")
      // schema too (the oracle compare is schema-sensitive): same
      // names, same types, incl. the raw lineitem decimal for price
      assert(ml.schema.map(f => (f.name, f.dataType)) ==
        operators.StarSchema.mlExtract(spark, sf).schema.map(f => (f.name, f.dataType)),
        s"served ml_extract schema drifted: ${ml.schema} ")
      // price_usd: 25-row-scale scan+rollup over the nation partials
      val pu = operators.StarSchema.priceUsdServed(spark, sf)
      val puPlan = pu.queryExecution.executedPlan.toString
      assert(!puPlan.contains("Join"), s"served price_usd joins per-query:\n$puPlan")
      def puMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(puMap(pu) == puMap(operators.StarSchema.priceUsd(spark, sf)),
        "served price_usd diverged from the inline form (partial sums must regroup exactly)")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("interactive lane: child session profile, byte guards, shared serving catalog") {
    // the lane engages below the guard: AQE off, corpus-scaled shuffle
    // partitions, same shared SparkContext and external catalog
    val lane = Lane.sessionFor(spark, sf)
    assert(lane ne spark, "tiny corpus must route to the interactive child session")
    assert(lane.conf.get("spark.sql.adaptive.enabled") == "false")
    val parts = lane.conf.get("spark.sql.shuffle.partitions").toInt
    assert(parts >= 1 && parts <= GraftSession.cpus.toInt,
      s"lane partitions $parts outside [1, cpus]")
    assert(lane.sparkContext eq spark.sparkContext)
    // memoized: same profile object on re-entry
    assert(Lane.sessionFor(spark, sf) eq lane)
    // above the guard the parent session serves unchanged (scale
    // safety: a 100 TB corpus must never ride the interactive lane)
    assert(Lane.sessionFor(spark, sf, maxBytes = 1L) eq spark)
    // results through the lane are the results: flagship bit-parity
    val got = tools.Golden.checksum(operators.PricingSummary(lane, sf))
    val want = tools.Golden.checksum(operators.PricingSummary(spark, sf))
    assert(got == want, "lane execution changed query results")
  }

  test("prepared-plan cache: stamp-keyed reuse, corpus swap invalidates") {
    val dirA = java.nio.file.Files.createTempDirectory("graftplancache").toString
    def land(t: String): Unit =
      spark.read.parquet(s"$sf/$t.parquet").write.mode("overwrite").parquet(s"$dirA/$t.parquet")
    Seq("region", "nation").foreach(land)
    var builds = 0
    val fn = PlanCache.cached("spec_dim", (s, d) => {
      builds += 1
      Tables.nation(s, d).join(Tables.region(s, d),
        col("n_regionkey") === col("r_regionkey")).select(col("n_name"), col("r_name"))
    })
    val df1 = fn(spark, dirA)
    val df2 = fn(spark, dirA)
    assert(builds == 1 && (df1 eq df2), "unchanged corpus must serve the memoized plan")
    // a corpus change (new file bytes) must rebuild — stale plans over
    // swapped corpora are the failure mode the stamp exists to catch
    Thread.sleep(1100) // mtime granularity
    spark.read.parquet(s"$sf/nation.parquet").limit(10)
      .write.mode("overwrite").parquet(s"$dirA/nation.parquet")
    Tables.invalidate(spark, dirA, "nation")
    val df3 = fn(spark, dirA)
    assert(builds == 2, "corpus swap must miss the plan cache")
    assert(df3.count() <= 10)
    // explicit invalidation (store maintenance hook) forces a rebuild
    PlanCache.invalidate()
    fn(spark, dirA)
    assert(builds == 3, "PlanCache.invalidate must drop memoized plans")
  }

  test("prepared-plan cache: a layout the stamp cannot see never caches (no stale serve)") {
    // r16 audit: dirStamp folds only top-level `*.parquet` entries — a
    // corpus laid out any other way would stamp CONSTANT and serve
    // stale plans silently. The hardening: an empty walk yields
    // NoStamp, which bypasses memoization entirely.
    val dir = java.nio.file.Files.createTempDirectory("graftplannostamp").toString
    spark.read.parquet(s"$sf/nation.parquet")
      .write.mode("overwrite").parquet(s"$dir/nation_tbl") // non-standard name
    assert(PlanCache.dirStamp(dir) == PlanCache.NoStamp,
      "a dir with no *.parquet tables must stamp NoStamp")
    var builds = 0
    val fn = PlanCache.cached("spec_nostamp", (s, d) => {
      builds += 1
      s.read.parquet(s"$d/nation_tbl")
    })
    val n1 = fn(spark, dir).count()
    val n2 = fn(spark, dir).count()
    assert(builds == 2, "NoStamp corpora must rebuild on every call, never memoize")
    assert(n1 == n2)
    // in-place overwrite: the next serve must see the new content —
    // the exact silent-stale-serve scenario the bypass closes
    spark.read.parquet(s"$sf/nation.parquet").limit(5)
      .write.mode("overwrite").parquet(s"$dir/nation_tbl")
    val n3 = fn(spark, dir).count()
    assert(builds == 3 && n3 <= 5,
      s"stale serve over an unstampable layout: got $n3 rows from the old generation")
  }

  test("prepared-plan cache + lane: concurrent two-session serve race") {
    // two sessions x four threads each racing the SAME cached query
    // over the same corpus: no exceptions, bit-identical results, and
    // the memo converges to one plan per session
    val sessions = Seq(spark, spark.newSession())
    val fn = PlanCache.cached("spec_race",
      Lane.wrap((s, d) => Tables.nation(s, d).join(Tables.region(s, d),
        col("n_regionkey") === col("r_regionkey")).select(col("n_name"), col("r_name"))))
    val want = tools.Golden.checksum(fn(spark, sf))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { i =>
        val sess = sessions(i % 2)
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = tools.Golden.checksum(fn(sess, sf))
        })
      }
      val got = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.forall(_ == want), "racing serves must return identical results")
      // after the race settles, each session serves its memoized plan
      sessions.foreach { s =>
        val a = fn(s, sf); val b = fn(s, sf)
        assert(a eq b, "post-race serves must hit the per-session memo")
      }
    } finally pool.shutdownNow()
  }

  test("BarrierStorageSpec: localCheckpoint barrier blocks stay bounded across suite passes") {
    // the r14 watch item: scoredDocs and the band-mask frame pin
    // executor storage via localCheckpoint(eager=false) with no stated
    // eviction story. The story: blocks are unpinned by ContextCleaner
    // when the frame is GC'd, and each pass's frames are skinny — so a
    // LONG-RUNNING suite must show bounded storage, not per-pass linear
    // growth of pinned blocks.
    val sc = spark.sparkContext
    def storageBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    def pass(): Unit = {
      SparkEntry.queries("q_corpus_clean")(spark, sf).count()
      SparkEntry.queries("q_corpus_stats")(spark, sf).count()
      SparkEntry.queries("q_dedup_minhash")(spark, sf).count()
    }
    pass() // warm: sidecar builds + first block materialization
    val after1 = storageBytes
    (1 to 5).foreach(_ => pass())
    // give ContextCleaner a GC nudge — block unpinning is asynchronous
    System.gc(); Thread.sleep(1500)
    val after6 = storageBytes
    info(s"barrier storage: after 1 pass ${after1 / 1024} KiB, after 6 passes ${after6 / 1024} KiB")
    // bounded = no linear growth: 6 passes must hold well under 6x the
    // single-pass footprint plus slack for async cleaning in flight
    assert(after6 <= after1 * 3 + (32L << 20),
      s"barrier blocks grew with passes: $after1 -> $after6 bytes")
  }

  test("fact layout append: delta ingest equals a cold rebuild, refusals fire") {
    import operators.StarSchema
    def copy(t: String, from: String, to: String): Unit =
      spark.read.parquet(s"$from/$t.parquet")
        .write.mode("overwrite").parquet(s"$to/$t.parquet")
    def land(dir: String, t: String, df: org.apache.spark.sql.DataFrame,
        first: Boolean): Unit =
      df.write.mode(if (first) "overwrite" else "append").parquet(s"$dir/$t.parquet")
    val dirA = java.nio.file.Files.createTempDirectory("graftfactappend").toString
    val dirC = java.nio.file.Files.createTempDirectory("graftfactcold").toString
    Seq("customer", "nation", "region", "part").foreach { t =>
      copy(t, sf, dirA); copy(t, sf, dirC)
    }
    val orders = Tables.orders(spark, sf).localCheckpoint()
    val lineitem = Tables.lineitem(spark, sf).localCheckpoint()
    // id-ordered split: base orders + their lineitems, then the delta
    // (order-complete by construction — lineitems follow their order)
    val cut = orders.stat.approxQuantile("o_orderkey", Array(0.7), 0.0)(0)
    val oBase = orders.filter(col("o_orderkey") <= cut)
    val oDelta = orders.filter(col("o_orderkey") > cut)
    val liBase = lineitem.filter(col("l_orderkey") <= cut)
    val liDelta = lineitem.filter(col("l_orderkey") > cut)
    // incremental path: build on the base, land the delta, append
    land(dirA, "orders", oBase, first = true)
    land(dirA, "lineitem", liBase, first = true)
    StarSchema.ensureFactLayout(spark, dirA)
    val preFp = StarSchema.factFingerprint(spark, dirA)
    land(dirA, "orders", oDelta, first = false)
    land(dirA, "lineitem", liDelta, first = false)
    StarSchema.appendFactLayout(spark, dirA, liDelta, oDelta, Some(preFp))
    // cold path: full corpus, one build
    land(dirC, "orders", orders, first = true)
    land(dirC, "lineitem", lineitem, first = true)
    def sig(dir: String) = (
      tools.Golden.checksum(StarSchema.starJoinServed(spark, dir)),
      tools.Golden.checksum(operators.Stats.hdiVolatility(spark, dir)))
    assert(sig(dirA) == sig(dirC),
      "appended fact layout diverged from a cold rebuild over the full corpus")
    // refusals: a replayed delta is refused loudly (keys already served) —
    // and BEFORE that, an unchanged fingerprint refuses the whole append
    val replay = intercept[IllegalArgumentException] {
      StarSchema.appendFactLayout(spark, dirA, liDelta, oDelta)
    }
    assert(replay.getMessage.contains("fingerprint unchanged"),
      s"unexpected refusal: ${replay.getMessage}")
    // an order-INCOMPLETE delta (lineitems without their orders) refuses
    land(dirA, "lineitem", liDelta.limit(50), first = false)
    val incomplete = intercept[IllegalArgumentException] {
      StarSchema.appendFactLayout(spark, dirA, liDelta.limit(50),
        oDelta.limit(0))
    }
    assert(incomplete.getMessage.contains("order-complete") ||
      incomplete.getMessage.contains("outside the delta orders"),
      s"unexpected refusal: ${incomplete.getMessage}")
    // compaction: back to one file per bucket, content and fp unchanged
    val before = sig(dirA)
    val fpBefore = StarSchema.factFingerprint(spark, dirA)
    StarSchema.compactFactLayout(spark, dirA)
    val layoutPath = StarSchema.factServePath(dirA)
    // read through the sidecar-named (compacted) generation
    val (fpStamped, gen) = operators.ServingStore.readSidecar(spark, "fact-layout", layoutPath).get
    Seq("lirev", "orders").foreach { sub =>
      val files = new java.io.File(s"$gen/$sub")
        .listFiles.count(_.getName.endsWith(".parquet"))
      assert(files == StarSchema.FactBuckets,
        s"$sub not compacted to one file per bucket: $files files")
    }
    assert(sig(dirA) == before, "compaction changed query results")
    assert(fpStamped == fpBefore, "compaction changed the fingerprint")
    // OLDER-SHAPE refusals: a layout whose table set
    // predates this engine must never absorb a delta — appending would
    // create the newer tables with delta-only rows behind a fresh
    // stamp. Must refuse structurally, without expectedFp (the FactSink
    // repair path passes none), and with the typed refusal FactSink
    // repairs on: (1) a generation stamped with an older layout version
    operators.ServingStore.writeSidecar(spark, layoutPath, fpBefore, gen,
      Seq("dir" -> dirA, "ver" -> (StarSchema.FactLayoutVersion - 1).toString))
    land(dirA, "orders", oDelta.limit(0), first = false) // any landed change
    val older = intercept[operators.ServingStore.StaleStoreRefusal] {
      StarSchema.appendFactLayout(spark, dirA, liDelta.limit(0), oDelta.limit(0))
    }
    assert(older.getMessage.contains("shape predates"),
      s"unexpected refusal: ${older.getMessage}")
    // (2) a pre-generation sidecar carrying neither version nor generation
    spark.range(1).select(lit(fpBefore).as("fp"))
      .coalesce(1).write.mode("overwrite").parquet(layoutPath + "_model")
    val legacy = intercept[operators.ServingStore.StaleStoreRefusal] {
      StarSchema.appendFactLayout(spark, dirA, liDelta.limit(0), oDelta.limit(0))
    }
    assert(legacy.getMessage.contains("predates the generation layout"),
      s"unexpected refusal: ${legacy.getMessage}")
  }

  test("reader survival: fact frames served before an append and a compaction collect identical rows") {
    import operators.StarSchema
    val dir = java.nio.file.Files.createTempDirectory("graftfactreader").toString
    Seq("customer", "nation", "region", "part").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val orders = Tables.orders(spark, sf).localCheckpoint()
    val lineitem = Tables.lineitem(spark, sf).localCheckpoint()
    val cut = orders.stat.approxQuantile("o_orderkey", Array(0.7), 0.0)(0)
    orders.filter(col("o_orderkey") <= cut).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lineitem.filter(col("l_orderkey") <= cut).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // a fresh Dataset over the held plan re-plans and re-scans (a second
    // action on the same Dataset could reuse its earlier shuffle output)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.map(c => col(s"`$c`")): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // a served frame of each artifact kind: a denormalized fact and a
    // bucketed table
    def frames() = Seq(StarSchema.starJoinServed(spark, dir), StarSchema.mlExtractServed(spark, dir),
      spark.table(StarSchema.ensureFactLayout(spark, dir).table("orders")))
    val held = frames()
    val want = held.map(rows)
    val preFp = StarSchema.factFingerprint(spark, dir)
    val (oDelta, liDelta) =
      (orders.filter(col("o_orderkey") > cut), lineitem.filter(col("l_orderkey") > cut))
    oDelta.write.mode("append").parquet(s"$dir/orders.parquet")
    liDelta.write.mode("append").parquet(s"$dir/lineitem.parquet")
    StarSchema.appendFactLayout(spark, dir, liDelta, oDelta, Some(preFp))
    assert(held.map(rows) == want, "a frame served before the append changed or broke after it")
    val heldAppended = frames()
    val appended = heldAppended.map(rows)
    StarSchema.compactFactLayout(spark, dir)
    assert(heldAppended.map(rows) == appended,
      "a frame served before the compaction changed or broke after it")
    assert(frames().map(rows) == appended, "compaction changed query results")
  }

  test("fact layout janitor: prunes dead-corpus layouts, keeps live, skips unproven") {
    import operators.{Dedup, StarSchema}
    def mkCorpus(): String = {
      val d = java.nio.file.Files.createTempDirectory("graftjanitor").toString
      Seq("customer", "nation", "region", "part", "orders", "lineitem").foreach { t =>
        spark.read.parquet(s"$sf/$t.parquet")
          .write.mode("overwrite").parquet(s"$d/$t.parquet")
      }
      d
    }
    val live = mkCorpus(); val dead = mkCorpus()
    StarSchema.ensureFactLayout(spark, live)
    StarSchema.ensureFactLayout(spark, dead)
    val liveSig = tools.Golden.checksum(StarSchema.starJoinServed(spark, live))
    val liveName = new java.io.File(StarSchema.factServePath(live)).getName
    val deadName = new java.io.File(StarSchema.factServePath(dead)).getName
    Dedup.deleteTree(dead) // the corpus vanishes; its layout is now orphaned
    val report = StarSchema.pruneFactLayouts(spark).toMap
    assert(report(deadName).startsWith("pruned"), s"dead layout: ${report.get(deadName)}")
    assert(report(liveName).startsWith("kept"), s"live layout: ${report.get(liveName)}")
    assert(!new java.io.File(StarSchema.factServePath(dead)).exists(),
      "pruned layout files survived")
    assert(!new java.io.File(StarSchema.factServePath(dead) + "_model").exists(),
      "pruned layout sidecar survived")
    // the live layout still serves, bit-identically
    assert(tools.Golden.checksum(StarSchema.starJoinServed(spark, live)) == liveSig,
      "janitor disturbed a live layout")
    // idempotent: the pruned layout is simply absent from the next pass
    assert(!StarSchema.pruneFactLayouts(spark).toMap.contains(deadName))
    // an unproven (sidecar-less) dir — what a rival's MID-BUILD store
    // looks like from outside — is skipped, never deleted
    val fake = new java.io.File("spark-warehouse/factlayout_specmidbuild_000000")
    assert(fake.mkdirs())
    try {
      val r3 = StarSchema.pruneFactLayouts(spark).toMap
      assert(r3(fake.getName).startsWith("skipped"), s"mid-build dir: ${r3.get(fake.getName)}")
      assert(fake.exists(), "janitor deleted an unproven (possibly mid-build) layout")
    } finally { Dedup.deleteTree(fake.getPath) }
  }

  test("fact sink: streamed order batches equal a cold rebuild, landing race repairs") {
    import graft.streaming.FactSink
    import operators.StarSchema
    def copy(t: String, to: String): Unit =
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$to/$t.parquet")
    def land(dir: String, t: String, df: org.apache.spark.sql.DataFrame,
        first: Boolean): Unit =
      df.write.mode(if (first) "overwrite" else "append").parquet(s"$dir/$t.parquet")
    val orders = Tables.orders(spark, sf).localCheckpoint()
    val lineitem = Tables.lineitem(spark, sf).localCheckpoint()
    val cuts = orders.stat.approxQuantile("o_orderkey", Array(0.5, 0.8), 0.0)
    def oB(i: Int) = i match {
      case 0 => orders.filter(col("o_orderkey") <= cuts(0))
      case 1 => orders.filter(col("o_orderkey") > cuts(0) && col("o_orderkey") <= cuts(1))
      case _ => orders.filter(col("o_orderkey") > cuts(1))
    }
    def liB(i: Int) = i match {
      case 0 => lineitem.filter(col("l_orderkey") <= cuts(0))
      case 1 => lineitem.filter(col("l_orderkey") > cuts(0) && col("l_orderkey") <= cuts(1))
      case _ => lineitem.filter(col("l_orderkey") > cuts(1))
    }
    def sig(dir: String) = (
      tools.Golden.checksum(StarSchema.starJoinServed(spark, dir)),
      tools.Golden.checksum(operators.Stats.hdiVolatility(spark, dir)))
    // cold reference over the full corpus
    val dirC = java.nio.file.Files.createTempDirectory("graftfactsinkcold").toString
    Seq("customer", "nation", "region", "part").foreach(copy(_, dirC))
    land(dirC, "orders", orders, first = true)
    land(dirC, "lineitem", lineitem, first = true)
    val cold = sig(dirC)
    // streamed: land each batch's files, then the sink folds them
    val dirS = java.nio.file.Files.createTempDirectory("graftfactsink").toString
    Seq("customer", "nation", "region", "part").foreach(copy(_, dirS))
    (0 to 2).foreach { i =>
      land(dirS, "orders", oB(i), first = i == 0)
      land(dirS, "lineitem", liB(i), first = i == 0)
      FactSink.applyFactBatch(oB(i), i, dirS)
    }
    assert(sig(dirS) == cold, "streamed fact layout diverged from a cold rebuild")
    // replay of an applied batch id is a marker-skip no-op
    FactSink.applyFactBatch(oB(2), 2, dirS)
    assert(sig(dirS) == cold, "replayed batch changed the layout")
    // the same-window landing race: batch 2's files land DURING batch
    // 1's append window — batch 1's stamp covers them, batch 2's own
    // append is refused, and the sink must repair via forced rebuild,
    // not mark the batch applied with its rows missing
    val dirR = java.nio.file.Files.createTempDirectory("graftfactsinkrace").toString
    Seq("customer", "nation", "region", "part").foreach(copy(_, dirR))
    land(dirR, "orders", oB(0), first = true)
    land(dirR, "lineitem", liB(0), first = true)
    FactSink.applyFactBatch(oB(0), 0, dirR)
    land(dirR, "orders", oB(1), first = false)
    land(dirR, "lineitem", liB(1), first = false)
    land(dirR, "orders", oB(2), first = false)
    land(dirR, "lineitem", liB(2), first = false)
    FactSink.applyFactBatch(oB(1), 1, dirR)
    FactSink.applyFactBatch(oB(2), 2, dirR)
    assert(sig(dirR) == cold,
      "landing-race repair diverged from a cold rebuild over the full corpus")
  }

  test("unit parsing yields NULL factor for unparseable unit strings") {
    val df = spark.createDataFrame(Seq((1L, "box of things"), (2L, "12 kg")))
      .toDF("id", "unit_name")
      .withColumn("unit_value", regexp_extract(col("unit_name"), "^([0-9.]+)", 1))
      .withColumn("unit_type", trim(regexp_replace(col("unit_name"), "^([0-9.]+)", "")))
      .withColumn("value_in_kg",
        when(col("unit_value") =!= "",
          col("unit_value").cast("double") * operators.Units.kgFactor(col("unit_type"))))
    val rows = df.collect().map(r => r.getLong(0) -> Option(r.getAs[Any]("value_in_kg"))).toMap
    assert(rows(1L).isEmpty, "garbage unit must yield NULL")
    assert(rows(2L).contains(12.0))
  }
}
