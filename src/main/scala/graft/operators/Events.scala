package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream analytics in batch form: gap sessionization and tumbling
  * windows. `graft.streaming.EventStream` is the Structured Streaming twin
  * of the same semantics.
  *
  * Reference: the reference's enrichment APIs produce timed observation
  * streams ingested on an Airflow cadence (`dags/raw/
  * fetch_coordinates_and_weather.py`); graft treats them as first-class
  * event streams.
  *
  * Scale notes: sessionization windows are partitioned by `user_id` —
  * the shuffle is one hash exchange on the natural key and each user's
  * timeline sorts independently (no global sort). Timestamps are compared
  * in epoch milliseconds so results are engine- and timezone-portable.
  */
object Events {
  val SessionGapMs: Long = 30L * 60 * 1000

  /** q_sessionize — split each user's event timeline at >30 min gaps;
    * one row per session with count/value rollups. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        col("event_id"),
        // floor division, not truncation: `DIV` truncates toward zero,
        // which disagrees with epoch_ms for pre-1970 (negative) stamps;
        // subtracting the non-negative pmod first makes DIV exact floor
        expr("(ts - pmod(ts, 1000000)) DIV 1000000").as("ts_ms"),
        col("value"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val flagged = e
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(byUser))
      .withColumn(
        "is_new",
        when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > SessionGapMs, 1L)
          .otherwise(0L))
      .withColumn(
        "session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        cnt.as("n_events"),
        sumd2(col("value")).as("total_value"))
  }

  val sessionizeOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events
      |), flagged AS (
      |  SELECT user_id, event_id, ts_ms, value,
      |    CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM (
      |    SELECT *, LAG(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ts
      |    FROM e
      |  )
      |), sessions AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id, session_seq,
      |  MIN(ts_ms) AS session_start_ms,
      |  MAX(ts_ms) AS session_end_ms,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM sessions
      |GROUP BY user_id, session_seq""".stripMargin

  /** q_event_windows — tumbling 1-hour windows per event type (the batch
    * twin of the streaming windowed aggregation). */
  def eventWindows(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(
        // floor-division to the hour (see sessionize note on DIV vs floor)
        (expr("(ts - pmod(ts, 3600000000000)) DIV 3600000000000") * lit(3600000L))
          .as("window_start_ms"),
        col("event_type"))
      .agg(
        cnt.as("n_events"),
        sumd2(col("value")).as("total_value"),
        meanOf(sumd2(col("value")), cnt).as("avg_value"))

  val eventWindowsOracle: String =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** q_json_extract — semi-structured property extraction from the event
    * payload JSON, rolled up per event type. JSON path evaluation is a
    * codegen'd scalar (no UDF); the single shuffle is the 5-group rollup. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).cast(LongType).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        cnt.as("n"))

  val jsonExtractOracle: String =
    """SELECT event_type,
      |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k, COUNT(*) AS n
      |FROM (
      |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |  FROM events
      |)
      |GROUP BY event_type""".stripMargin

  /** Ordered funnel steps, first-occurrence semantics: a user completes
    * step i only with an event STRICTLY after their step-(i−1) first
    * completion time. */
  val FunnelSteps: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** q_funnel — ordered conversion funnel over each user's timeline.
    *
    * The sequential dependency (step i's first completion is the
    * earliest step-i event after step i−1's) is computed by the
    * mergeable stamps aggregate (see [[funnelStamps]]) — one hash
    * exchange, no per-user sort, map-side-combining partials that make
    * the build skew-proof. Strict `<` on the millisecond stamp makes
    * qualification order-free (ties never count), so results are
    * partition-invariant. The per-step rollup is a driver-sized stack
    * over a single aggregated row.
    *
    * Serves from the persisted [[ensureStamps]] generation: the funnel
    * family (q_funnel / q_conversion_lag / q_conversion_cohort, plus
    * q_cohort_retention's signup-cohort side) all consume the SAME
    * per-user stamps frame, and the fact-scale sort that derives it is
    * paid once per events-corpus generation, not once per query. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelFromStamps(ensureStamps(spark, dir))

  /** The (user_id, event_id, event_type, ts_ms) projection every funnel
    * query starts from. */
  private def eventsBase(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        expr("(ts - pmod(ts, 1000000)) DIV 1000000").as("ts_ms"))

  private[graft] def stampsServePath(dir: String): String =
    Similarity.servePath("funnel_stamps_", dir)

  /** Ensure a fresh persisted per-user stamps generation for `dir` and
    * return it as a lazy parquet read.
    *
    * Same fingerprint-keyed serving discipline as
    * [[Dedup.ensurePostings]]: the stamps frame — user-cardinality
    * (user_id, s0..s3), tiny next to the events fact — is keyed by the
    * events files' content fingerprint in a sidecar next to the store.
    * Any corpus swap under the dir changes the fingerprint and triggers
    * a rebuild; the sidecar is stamped only AFTER the store write
    * succeeds, so a crash in between leaves a stale sidecar and the
    * next ensure rebuilds, never serving a fresh-looking stale frame.
    * The reference analogue is the dashboard loading one materialized
    * funnel table that all pages share (`server/data_loader.py`); here
    * the fact-scale per-user sort is paid once per corpus generation
    * instead of once per serving query. */
  private[graft] def ensureStamps(spark: SparkSession, dir: String): DataFrame = {
    val path = stampsServePath(dir)
    val fp = Similarity.corpusFingerprint(spark, dir, "events.parquet")
    ServingStore.ensure(spark, "funnel-stamps", path, fp) { gen =>
      funnelStamps(eventsBase(spark, dir))
        .write.mode("overwrite").parquet(gen)
    }
  }

  /** Per-user step-completion stamps (user_id, s0..s3) — the funnel's
    * intermediate frame, shared with the conversion-lag rollup.
    *
    * Built with the mergeable [[graft.functions.FunnelStampsAgg]]
    * aggregate, not the chained-window form
    * ([[funnelStampsWindowed]], kept as the semantic reference the
    * equivalence specs pin against). The window build sorted every
    * event row of a user inside one task — a hot user owning half the
    * corpus serialized the whole build through that single sort, and
    * AQE cannot split a window partition. The aggregate builds per-user
    * candidate-stamp partials map-side (compacting to ~1 stamp per
    * funnel step), so the one hash exchange moves user-cardinality
    * partials and NO per-user sort appears anywhere in the plan. The
    * step ordinal is pre-projected (a codegen'd when-chain) so the
    * aggregate's unboxed BoundReference fast path binds. */
  private[graft] def funnelStamps(base: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(base.sparkSession)
    val stepIdx = FunnelSteps.zipWithIndex.foldLeft(lit(null).cast(IntegerType)) {
      case (acc, (step, i)) => when(col("event_type") === step, lit(i)).otherwise(acc)
    }
    base
      .select(col("user_id"), stepIdx.as("step_idx"), col("ts_ms"))
      .groupBy(col("user_id"))
      .agg(call_function(
        graft.functions.GraftFunctions.FunnelStampsName,
        col("step_idx"), col("ts_ms"), lit(FunnelSteps.size)).as("st"))
      .select(col("user_id") +:
        FunnelSteps.indices.map(i => col(s"st.s$i").as(s"s$i")): _*)
  }

  /** The chained running-min window form of [[funnelStamps]] — the
    * original build, retained as the reference implementation the
    * aggregate is spec-pinned against (they must agree row-for-row,
    * including users whose chain never starts). One per-user sort under
    * four shared-spec windows; correct, but a single hot user's whole
    * history sorts in one task. */
  private[graft] def funnelStampsWindowed(base: DataFrame): DataFrame = {
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chained = FunnelSteps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val qual =
        if (i == 0) col("event_type") === step
        else col("event_type") === step && col(s"m${i - 1}") < col("ts_ms")
      df.withColumn(s"m$i", min(when(qual, col("ts_ms"))).over(byUser))
    }
    val perUserAggs = FunnelSteps.indices.map(i => min(col(s"m$i")).as(s"s$i"))
    chained
      .groupBy(col("user_id"))
      .agg(perUserAggs.head, perUserAggs.tail: _*)
  }

  /** Funnel body over a (user_id, event_id, event_type, ts_ms) frame —
    * the from-scratch path the specs and streaming twin exercise. */
  private[graft] def funnelOf(base: DataFrame): DataFrame =
    funnelFromStamps(funnelStamps(base))

  /** Funnel rollup over a (user_id, s0..s3) stamps frame. */
  private[graft] def funnelFromStamps(stamps: DataFrame): DataFrame = {
    val countAggs = FunnelSteps.indices.map(i => count(col(s"s$i")).as(s"c$i"))
    val counts = stamps
      .agg(countAggs.head, countAggs.tail: _*)
    val stackArgs = FunnelSteps.zipWithIndex
      .map { case (s, i) => s"${i + 1}, '$s', c$i" }
      .mkString(", ")
    counts
      .select(
        expr(s"stack(${FunnelSteps.size}, $stackArgs) AS (step, event_type, n_users)"),
        col("c0"))
      .withColumn(
        "conv_rate",
        col("n_users").cast(DoubleType) / col("c0").cast(DoubleType))
      .drop("c0")
  }

  /** Shared oracle prefix: the chained-window stamps through per_user —
    * the SQL mirror of [[funnelStamps]]. */
  private val funnelStampsCte: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
      |), w0 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'signup' THEN ts_ms END)
      |    OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m0
      |  FROM e
      |), w1 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' AND m0 < ts_ms THEN ts_ms END)
      |    OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m1
      |  FROM w0
      |), w2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND m1 < ts_ms THEN ts_ms END)
      |    OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m2
      |  FROM w1
      |), w3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND m2 < ts_ms THEN ts_ms END)
      |    OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m3
      |  FROM w2
      |), per_user AS (
      |  SELECT user_id, MIN(m0) AS s0, MIN(m1) AS s1, MIN(m2) AS s2, MIN(m3) AS s3
      |  FROM w3 GROUP BY user_id
      |)""".stripMargin

  val funnelOracle: String =
    s"""$funnelStampsCte, c AS (
      |  SELECT COUNT(s0) AS c0, COUNT(s1) AS c1, COUNT(s2) AS c2, COUNT(s3) AS c3
      |  FROM per_user
      |)
      |SELECT step, event_type, n_users,
      |  CAST(n_users AS DOUBLE) / CAST(c0 AS DOUBLE) AS conv_rate
      |FROM (
      |  SELECT 1 AS step, 'signup' AS event_type, c0 AS n_users, c0 FROM c
      |  UNION ALL SELECT 2, 'view', c1, c0 FROM c
      |  UNION ALL SELECT 3, 'click', c2, c0 FROM c
      |  UNION ALL SELECT 4, 'purchase', c3, c0 FROM c
      |)""".stripMargin

  /** q_conversion_lag — per-transition conversion-time distribution:
    * for each consecutive funnel step pair, the converted-user count,
    * mean lag and exact median lag in milliseconds. Rides the SAME
    * chained-window stamps frame as the funnel (one per-user sort,
    * single exchange); the rollup is one aggregate over user-cardinality
    * stamps and a driver-sized stack. The mean sums lags as
    * DECIMAL(38,0) — a 100 TB user base times year-long lags overflows
    * int64 — and divides once, so Spark and DuckDB agree bitwise;
    * the median is the exact interpolating percentile both engines
    * define identically. */
  def conversionLag(spark: SparkSession, dir: String): DataFrame =
    conversionLagFromStamps(ensureStamps(spark, dir))

  /** Conversion-lag body over a (user_id, event_id, event_type, ts_ms)
    * frame — the from-scratch path the specs exercise. */
  private[graft] def conversionLagOf(base: DataFrame): DataFrame =
    conversionLagFromStamps(funnelStamps(base))

  /** Conversion-lag rollup over a (user_id, s0..s3) stamps frame. */
  private[graft] def conversionLagFromStamps(stamps: DataFrame): DataFrame = {
    val nSteps = FunnelSteps.size
    val lags = stamps.select(
      (1 until nSteps).map(i => (col(s"s$i") - col(s"s${i - 1}")).as(s"l$i")): _*)
    val aggs = (1 until nSteps).flatMap(i => Seq(
      count(col(s"l$i")).as(s"n$i"),
      (sum(col(s"l$i").cast(DecimalType(38, 0))).cast(DoubleType) /
        count(col(s"l$i")).cast(DoubleType)).as(s"m$i"),
      percentile(col(s"l$i"), lit(0.5)).as(s"p$i")))
    val stackArgs = (1 until nSteps)
      .map(i => s"'${FunnelSteps(i - 1)}_to_${FunnelSteps(i)}', n$i, m$i, p$i")
      .mkString(", ")
    lags
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${nSteps - 1}, $stackArgs) " +
        "AS (step, n_converted, mean_lag_ms, p50_lag_ms)")
  }

  val conversionLagOracle: String =
    s"""$funnelStampsCte, lag_rows AS (
      |  SELECT s1 - s0 AS l1, s2 - s1 AS l2, s3 - s2 AS l3 FROM per_user
      |), a AS (
      |  SELECT
      |    COUNT(l1) AS n1,
      |    CAST(SUM(CAST(l1 AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(l1) AS DOUBLE) AS m1,
      |    QUANTILE_CONT(l1, 0.5) AS p1,
      |    COUNT(l2) AS n2,
      |    CAST(SUM(CAST(l2 AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(l2) AS DOUBLE) AS m2,
      |    QUANTILE_CONT(l2, 0.5) AS p2,
      |    COUNT(l3) AS n3,
      |    CAST(SUM(CAST(l3 AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(l3) AS DOUBLE) AS m3,
      |    QUANTILE_CONT(l3, 0.5) AS p3
      |  FROM lag_rows
      |)
      |SELECT 'signup_to_view' AS step, n1 AS n_converted, m1 AS mean_lag_ms,
      |  p1 AS p50_lag_ms FROM a
      |UNION ALL SELECT 'view_to_click', n2, m2, p2 FROM a
      |UNION ALL SELECT 'click_to_purchase', n3, m3, p3 FROM a""".stripMargin

  /** Epoch-anchored 7-day bucket width in nanoseconds (events.ts is
    * read as raw nanos) — fixed-width arithmetic weeks, not calendar
    * ISO weeks, so the bucketing is engine- and timezone-portable. */
  val WeekNs: Long = 604800000000000L
  val WeekMs: Long = 604800000L

  def conversionCohort(spark: SparkSession, dir: String): DataFrame =
    conversionCohortFromStamps(ensureStamps(spark, dir))

  /** q_conversion_cohort — [[conversionLagOf]] split by signup cohort:
    * per epoch-week cohort (the user's s0 stamp, [[WeekMs]]-bucketed
    * like [[cohortRetention]]) and funnel transition, converted count,
    * exact decimal-summed mean lag and exact interpolating median.
    * The product question the global lag rollup can't answer: is
    * time-to-convert improving across signup generations? Same single
    * per-user exchange as the funnel family — the cohort key is derived
    * from a column the stamps frame already carries, so the split adds
    * a dim-cardinality aggregate, not a scan or shuffle. */
  private[graft] def conversionCohortOf(base: DataFrame): DataFrame =
    conversionCohortFromStamps(funnelStamps(base))

  /** Cohort-split conversion-lag rollup over a (user_id, s0..s3)
    * stamps frame. */
  private[graft] def conversionCohortFromStamps(stamps: DataFrame): DataFrame = {
    val nSteps = FunnelSteps.size
    val lags = stamps
      .filter(col("s0").isNotNull)
      .select(
        // pmod form = exact floor (bare DIV truncates toward zero and
        // would diverge from the oracle's `//` on pre-epoch stamps)
        expr(s"(s0 - pmod(s0, $WeekMs)) DIV $WeekMs").as("cohort_week") +:
          (1 until nSteps).map(i => (col(s"s$i") - col(s"s${i - 1}")).as(s"l$i")): _*)
    val aggs = (1 until nSteps).flatMap(i => Seq(
      count(col(s"l$i")).as(s"n$i"),
      (sum(col(s"l$i").cast(DecimalType(38, 0))).cast(DoubleType) /
        count(col(s"l$i")).cast(DoubleType)).as(s"m$i"),
      percentile(col(s"l$i"), lit(0.5)).as(s"p$i")))
    val stackArgs = (1 until nSteps)
      .map(i => s"'${FunnelSteps(i - 1)}_to_${FunnelSteps(i)}', n$i, m$i, p$i")
      .mkString(", ")
    lags
      .groupBy(col("cohort_week"))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("cohort_week",
        s"stack(${nSteps - 1}, $stackArgs) " +
          "AS (step, n_converted, mean_lag_ms, p50_lag_ms)")
  }

  val conversionCohortOracle: String =
    s"""$funnelStampsCte, lag_rows AS (
      |  SELECT CAST(s0 // $WeekMs AS BIGINT) AS cohort_week,
      |    s1 - s0 AS l1, s2 - s1 AS l2, s3 - s2 AS l3
      |  FROM per_user WHERE s0 IS NOT NULL
      |), a AS (
      |  SELECT cohort_week,
      |    COUNT(l1) AS n1,
      |    CAST(SUM(CAST(l1 AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(l1) AS DOUBLE) AS m1,
      |    QUANTILE_CONT(l1, 0.5) AS p1,
      |    COUNT(l2) AS n2,
      |    CAST(SUM(CAST(l2 AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(l2) AS DOUBLE) AS m2,
      |    QUANTILE_CONT(l2, 0.5) AS p2,
      |    COUNT(l3) AS n3,
      |    CAST(SUM(CAST(l3 AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(l3) AS DOUBLE) AS m3,
      |    QUANTILE_CONT(l3, 0.5) AS p3
      |  FROM lag_rows GROUP BY cohort_week
      |)
      |SELECT cohort_week, 'signup_to_view' AS step, n1 AS n_converted,
      |  m1 AS mean_lag_ms, p1 AS p50_lag_ms FROM a
      |UNION ALL SELECT cohort_week, 'view_to_click', n2, m2, p2 FROM a
      |UNION ALL SELECT cohort_week, 'click_to_purchase', n3, m3, p3 FROM a""".stripMargin


  /** q_cohort_retention — weekly signup cohorts × activity-week offsets.
    *
    * A user's cohort is the epoch-week of their first `signup` event;
    * a cohort is "active at offset k" through users with ANY event in
    * cohort_week + k. Activity first reduces to distinct (user, week) —
    * at 100 TB that collapses the fact table to |users|×|weeks| before
    * anything joins — then joins cohorts on user_id (both sides already
    * hash-partitioned by user_id from their own aggregations, so the
    * join reuses the exchange), and the cohort-cardinality `sizes` side
    * of the final join is broadcast-sized by construction. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    // the signup-cohort side serves from the persisted stamps store:
    // floor-division composes (s0 is floor(ts_ns/1e6) and WeekNs =
    // WeekMs * 1e6, so floor(s0 / WeekMs) == min signup week exactly),
    // and min commutes with the monotone floor — the cohorts frame is
    // identical to the from-scratch signup scan, minus its fact-scale
    // filter + exchange. The pmod form is exact FLOOR for negative
    // stamps too (bare DIV truncates toward zero, which would disagree
    // with the oracle's `//` on a pre-epoch signup). The activity side
    // necessarily still scans events, but now prunes to just
    // (user_id, ts).
    val cohorts = ensureStamps(spark, dir)
      .filter(col("s0").isNotNull)
      .select(col("user_id"),
        expr(s"(s0 - pmod(s0, $WeekMs)) DIV $WeekMs").as("cohort_week"))
    val activity = Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        expr(s"(ts - pmod(ts, $WeekNs)) DIV $WeekNs").as("week"))
      .distinct()
    cohortFromParts(activity, cohorts)
  }

  /** Cohort body over a (user_id, event_type, week) frame — the
    * from-scratch path the specs exercise. */
  private[graft] def cohortOf(e: DataFrame): DataFrame =
    cohortFromParts(
      e.select(col("user_id"), col("week")).distinct(),
      e.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week")))

  /** Retention rollup from a distinct (user_id, week) activity frame and
    * a per-user (user_id, cohort_week) cohort assignment. */
  private[graft] def cohortFromParts(activity: DataFrame, cohorts: DataFrame): DataFrame = {
    val sizes = cohorts.groupBy(col("cohort_week")).agg(cnt.as("n_cohort"))
    activity
      .join(cohorts, "user_id")
      .filter(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(cnt.as("n_active"))
      .join(sizes, "cohort_week")
      .select(
        (col("cohort_week") * lit(WeekMs)).as("cohort_week_ms"),
        col("week_offset"),
        col("n_active"),
        col("n_cohort"),
        (col("n_active").cast(DoubleType) / col("n_cohort").cast(DoubleType))
          .as("retention"))
  }

  val cohortRetentionOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) // 604800000 AS week FROM events
      |), cohorts AS (
      |  SELECT user_id, MIN(week) AS cohort_week FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), activity AS (
      |  SELECT DISTINCT user_id, week FROM e
      |), sizes AS (
      |  SELECT cohort_week, COUNT(*) AS n_cohort FROM cohorts GROUP BY cohort_week
      |), active AS (
      |  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
      |    COUNT(*) AS n_active
      |  FROM activity a JOIN cohorts c USING (user_id)
      |  WHERE a.week >= c.cohort_week
      |  GROUP BY 1, 2
      |)
      |SELECT active.cohort_week * 604800000 AS cohort_week_ms, week_offset,
      |  n_active, n_cohort,
      |  CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention
      |FROM active JOIN sizes USING (cohort_week)""".stripMargin
}
