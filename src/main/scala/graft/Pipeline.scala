package graft

import graft.operators._
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end pipeline main — the engine-side equivalent of the
  * reference's `make run-full-pipeline` (Airflow DAG chain raw -> staging
  * -> analytics -> ML extract, `/root/reference/Makefile`): builds the
  * dimension tables, the fact rollups, the analytics outputs, and the
  * denormalized forecasting extract in one Spark application, persisting
  * each layer as partitioned parquet.
  *
  * Orchestration (scheduling, retries) stays external by design — any
  * scheduler that can run a JVM main reproduces the reference's Airflow
  * setup; the engine itself is scheduler-agnostic.
  *
  * Usage: runMain graft.Pipeline <sfDir> <outDir>
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.builder("graft-pipeline")
      .master(s"local[${GraftSession.cpus}]")
      .getOrCreate()
    GraftSession.tuneLogs(spark)
    run(spark, sfDir, outDir)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val t0 = System.nanoTime()

    def stage(name: String)(df: org.apache.spark.sql.DataFrame,
        partitionCols: Seq[String] = Nil): Unit = {
      val s0 = System.nanoTime()
      Sinks.writeParquet(df, s"$outDir/$name", partitionCols)
      println(f"[pipeline] $name%-22s ${(System.nanoTime() - s0) / 1e9}%7.2fs")
    }

    // staging/analytics dims (dbt staging + analytics layers)
    stage("dim_locality")(StarSchema.dimBuild(spark, sfDir))
    stage("dim_country")(StarSchema.dedupMerge(spark, sfDir))
    stage("dim_date")(StarSchema.dateDim(spark, sfDir))
    stage("dim_unit")(Units.unitNormalize(spark, sfDir))
    // facts + analytics
    stage("fact_rollup")(StarSchema.starJoin(spark, sfDir))
    stage("fact_price_per_unit")(Units.pricePerUnit(spark, sfDir))
    stage("seasonal")(Seasonal.seasonalAgg(spark, sfDir))
    stage("monthly_trend")(Seasonal.monthlyTrend(spark, sfDir), Seq("year"))
    stage("best_markets")(TopK.topkPerGroup(spark, sfDir))
    stage("forecasts")(Forecast.seasonalForecast(spark, sfDir))
    // the prophet-input extract (dag_prophet_output.py)
    stage("ml_data")(StarSchema.mlExtract(spark, sfDir), Seq("country"))
    // LLM-corpus curation layers, genuinely CHAINED: splits, packs and
    // the report are computed over the CLEANED corpus (docs the curation
    // dropped must not leak into split assignments or bin fills).
    // Curation uses the DATA-DERIVED per-language floors and packing the
    // length-aware first-fit-decreasing — the r3 upgrades are the
    // pipeline defaults, not side queries.
    stage("corpus_thresholds")(TextAnalysis.qualityThresholds(spark, sfDir))
    // the clean applies the JUST-WRITTEN floors (read back like every
    // other chained layer) — the persisted thresholds are the thresholds
    // used, by construction rather than by recomputation
    val clean = TextAnalysis.corpusCleanWithFloors(
      TextAnalysis.scoredCorpus(spark, sfDir),
      spark.read.parquet(s"$outDir/corpus_thresholds"))
    stage("corpus_clean")(clean)
    import org.apache.spark.sql.functions.col
    val cleanedDocs = Tables.documents(spark, sfDir)
      .join(spark.read.parquet(s"$outDir/corpus_clean").select("doc_id"), Seq("doc_id"), "left_semi")
      // three screening stages read this frame — one scan, not three
      .localCheckpoint(eager = false)
    // r6 curation layers in the canonical shipping order: repetition
    // screen -> PII scrub -> benchmark decontamination. The scrub runs
    // BEFORE every content-keyed decision (split assignment AND the
    // decontamination screen key on md5 of the text), so the text that
    // ships is the text that was screened — scrubbing after would let a
    // PII rewrite flip a doc's split into train past a decontamination
    // check that never saw it. Each stage persists its evidence (the
    // flags/counts an audit asks for); downstream reads only survivors.
    stage("corpus_repetition")(Curation.repetitionStatsOf(cleanedDocs))
    val repKept = cleanedDocs
      .join(spark.read.parquet(s"$outDir/corpus_repetition")
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    stage("corpus_pii")(Curation.piiScrubOf(repKept))
    val scrubbed = spark.read.parquet(s"$outDir/corpus_pii")
      .select(col("doc_id"), col("scrubbed_text").as("text"))
      .localCheckpoint(eager = false)
    stage("corpus_decontamination")(Curation.contaminationOf(scrubbed))
    val shipped = scrubbed
      .join(spark.read.parquet(s"$outDir/corpus_decontamination")
        .filter(col("flag_drop")).select("doc_id"), Seq("doc_id"), "left_anti")
    stage("corpus_splits")(TextAnalysis.trainSplitOf(shipped))
    stage("corpus_packed")(TextAnalysis.packSequencesBucketedOf(spark, shipped))
    stage("corpus_report")(TextAnalysis.corpusStatsOf(
      spark.read.parquet(s"$outDir/corpus_clean")))
    // model layer: the distilled quality scorer (weights persist in the
    // fingerprint-keyed sidecar; this stage records the scored corpus)
    stage("quality_scores")(QualityModel.qualityClassifierServe(spark, sfDir))
    // persisted model state: forecast sufficient statistics (maintained
    // incrementally by streaming.ForecastModelSink on later batches)
    stage("forecast_model")(Forecast.forecastModelFrame(spark, sfDir))

    println(f"[pipeline] TOTAL ${(System.nanoTime() - t0) / 1e9}%.2fs -> $outDir")
  }

  // ------------------------------------------------- backfill / catch-up

  /** Airflow-style backfill/catch-up for the date-partitioned trend
    * layer (the reference schedules its DAG @daily with catchup enabled:
    * each logical date materializes its own slice, and re-running a date
    * replaces only that slice — dags/, docker-compose.airflow.yml).
    *
    *  - CATCH-UP (`years = None`): the existing `year=<y>` partition
    *    dirs ARE the watermark — presence-based, so a partially-failed
    *    earlier run self-heals (its missing slices are simply still
    *    due). Only years present in the source but absent from the
    *    layer rebuild; a fully caught-up layer is a no-op.
    *  - BACKFILL (`years = Some(...)`): the named slices rebuild
    *    unconditionally (the re-run-a-date semantics), touching nothing
    *    else.
    *
    * Either way the write is a DYNAMIC partition overwrite of one plan
    * filtered to the due years: Spark prunes the fact scan to the due
    * slices and replaces exactly the `year=<y>` directories the frame
    * produces — untouched partitions keep their files byte-for-byte,
    * which at 100 TB is the difference between re-running a day and
    * re-running the corpus. Returns the years actually rebuilt. */
  def backfillMonthlyTrend(spark: SparkSession, sfDir: String, outDir: String,
      years: Option[Seq[Int]] = None): Seq[Int] = {
    backfillLayer(spark, Seasonal.monthlyTrend(spark, sfDir),
      s"$outDir/monthly_trend", "year", years.map(_.map(_.toString)))
      .map(_.toInt)
  }

  /** The GENERIC presence-based backfill/catch-up harness the
    * layer-specific entry points instantiate: any frame carrying a
    * partition-key column, any layer path. Slice keys compare as their
    * partition-directory string form (`<partCol>=<value>`), so the
    * same harness drives int years, epoch days, or string dates.
    *
    *  - `keys = None` (CATCH-UP): slices present in the frame but
    *    absent on disk rebuild; nothing else is touched.
    *  - `keys = Some(...)` (BACKFILL): exactly the named slices
    *    rebuild, unconditionally.
    *
    * The write is a dynamic partition overwrite of ONE plan filtered
    * to the due keys — untouched partition dirs keep their files
    * byte-for-byte. The due-key discovery pass reads the frame's key
    * column only (group-cardinality after aggregation, never
    * fact-cardinality). Returns the slice keys rebuilt. */
  def backfillLayer(spark: SparkSession, frame: DataFrame, layer: String,
      partCol: String, keys: Option[Seq[String]] = None): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val existing: Set[String] = Option(new java.io.File(layer).listFiles)
      .getOrElse(Array.empty)
      .collect { case f if f.isDirectory && f.getName.startsWith(s"$partCol=") =>
        f.getName.stripPrefix(s"$partCol=")
      }.toSet
    val due = keys match {
      case Some(ks) => ks.distinct.sorted
      case None =>
        frame.select(col(partCol).cast("string")).distinct()
          .collect().map(_.getString(0)).filterNot(existing).sorted.toSeq
    }
    if (due.nonEmpty) {
      val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        frame.filter(col(partCol).cast("string").isin(due: _*))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy(partCol).parquet(layer)
      finally saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    due
  }

  /** Backfill/catch-up for the hourly event-window layer, sliced by
    * EPOCH DAY (timezone-free integer day key — the @daily logical-date
    * axis of the reference's event DAGs). Same semantics as
    * [[backfillMonthlyTrend]], same harness. */
  def backfillEventWindows(spark: SparkSession, sfDir: String, outDir: String,
      days: Option[Seq[Long]] = None): Seq[Long] = {
    import org.apache.spark.sql.functions.{col, expr}
    val frame = Events.eventWindows(spark, sfDir)
      .withColumn("day", expr("window_start_ms DIV 86400000"))
    backfillLayer(spark, frame, s"$outDir/event_windows", "day",
      days.map(_.map(_.toString)))
      .map(_.toLong)
  }
}
