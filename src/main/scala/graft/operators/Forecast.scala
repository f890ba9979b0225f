package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed "prophet-lite" forecasting: per-group OLS trend plus an
  * additive monthly-seasonality component, computed exactly from decimal
  * sufficient statistics.
  *
  * Reference: `server/forecast_utils.py` — Prophet models (trend + yearly
  * seasonality) fit per (country, product, market) in a driver-side thread
  * pool. The Spark-first re-expression replaces the per-group model-fit
  * loop with ONE aggregation computing every group's OLS sufficient
  * statistics (n, Sx, Sy, Sxx, Sxy) — a single map-side-combined shuffle
  * for ALL groups, which is what survives when "groups" means millions of
  * (product, market) series over 100 TB. The seasonal component mirrors
  * Prophet's additive seasonality as month-of-year mean deviations.
  *
  * Determinism: x is an integer month index and y a DECIMAL(18,2) price,
  * so every sufficient statistic is exact; slope/intercept/forecast are
  * derived in doubles with formulas textually identical to the oracle SQL.
  */
object Forecast {

  /** Month index: months since 1995-01 (data starts 1995). */
  private def tIndex(d: Column): Column =
    ((year(d) - 1995) * 12 + month(d) - 1).cast(LongType)

  private val Epoch = lit("1995-01-01").cast(DateType)

  // ---------------------------------- persisted daily serving state (r10)

  private[graft] def dayServePath(dir: String): String =
    Similarity.servePath("forecast_days_", dir)

  /** A forecast-days generation: `days`, the exact per-(brand, day)
    * state, and `months`, [[monthStateOf]] of that same `days`. */
  private val DayArtifacts = Seq(ServingStore.Artifact("days"), ServingStore.Artifact("months"))

  /** The two artifact reads of a served generation, each made on first
    * use: the serve memo keeps this object, so a read (and its schema
    * inference job) is paid once per generation and session, and only
    * by a query that reads that artifact. */
  private[graft] final class DayState(spark: SparkSession, gen: ServingStore.Generation) {
    lazy val days: DataFrame = spark.read.parquet(gen.path("days"))
    lazy val months: DataFrame = spark.read.parquet(gen.path("months"))
  }

  /** The forecast family's corpus fingerprint for `dir` as it stands NOW
    * (pure file metadata — no table-cache effects). Capture this BEFORE
    * landing a fact delta and pass it to [[appendDayStats]] as the
    * mandatory staleness proof. */
  def dayStatsFingerprint(spark: SparkSession, dir: String): Long =
    Similarity.corpusFingerprint(spark, dir, "lineitem.parquet") * 31 +
      Similarity.corpusFingerprint(spark, dir, "part.parquet")

  /** Ensure the forecast family's persisted serving state for `dir`, a
    * two-artifact generation committed by ONE sidecar stamp:
    *  - `days`: the exact per-(brand, day) rollup (n_x, Σdec2(y),
    *    Σdec2(y)²) — one row per group × observed DAY, bounded by dims ×
    *    calendar span, never by fact rows;
    *  - `months`: the same state rolled up to the month index, written
    *    from the committed `days` in the same commit, so no reader sees
    *    months that disagree with days.
    * Every member of the forecast family is an exact linear functional
    * of this state (daily/monthly OLS moments, dow/month seasonal means,
    * interval syy, changepoint hinge sums, the top-k closed form), so
    * the queries pay a dim-sized read + math instead of a fact scan
    * each, and the month-grain ones read `months` without re-rolling the
    * days — the persisted analogue of the reference caching its fitted
    * Prophet models per series (`server/forecast_utils.py`
    * load_or_train_model). Fingerprint-keyed on BOTH source tables; the
    * serve memo keeps both artifact reads ([[DayState]]). A generation
    * lacking either artifact (the single-artifact layout of an older
    * engine) is rebuilt on its next serve. Decimal sums regroup associatively, so every
    * downstream double is cast from the SAME exact total a fact scan
    * aggregates — serves are bit-identical to from-scratch fits
    * (spec-pinned per query). */
  private[graft] def ensureDayStats(spark: SparkSession, dir: String): DayState =
    ServingStore.ensureGeneration(spark, "forecast-days", dayServePath(dir),
        dayStatsFingerprint(spark, dir), DayArtifacts)(
      writeDayState(dayStateOf(dailyBase(spark, dir)), _))(new DayState(spark, _))

  /** Fold a NEW fact delta into the persisted day state without
    * re-scanning history — the daily-ingest maintenance path of
    * [[ensureDayStats]] (the streamed forecast model's fold applied to
    * the serving generation): the delta reduces to its own exact
    * per-(brand, day) partials and sums with the committed `days`, and
    * `months` is re-rolled from the merged `days` by the build's own
    * write, both inside one commit. Decimal exactness makes the merged
    * state BIT-IDENTICAL to a rebuild over the union (spec-gated), so
    * every state-served query keeps its oracle parity.
    *
    * Call AFTER the delta files land in `dir`, passing exactly the
    * newly-landed rows as a (brand, x: day index, y: price) frame and
    * `expectedFp`, the fingerprint captured BEFORE the delta landed
    * ([[dayStatsFingerprint]]). The proofs are the shared
    * [[ServingStore.landed]] ones and MANDATORY (r10 ADVICE: an
    * optional proof let a delta merge into a generation built for a
    * DIFFERENT corpus and then stamp the result fresh — a wrong state
    * served indefinitely): a stale generation, or one lacking either
    * artifact, must take the rebuild path, not absorb a delta and get
    * re-stamped. Crash safety follows from the commit: the sidecar
    * advances to the POST-delta fingerprint only after both artifacts
    * are written, and until then the landed delta keeps the stored
    * fingerprint stale, so a crash anywhere in between leaves
    * [[ensureDayStats]] rebuilding from scratch — never serving a
    * half-merged state. */
  def appendDayStats(spark: SparkSession, dir: String, delta: DataFrame,
      expectedFp: Long): Unit = {
    val path = dayServePath(dir)
    ServingStore.deriveGeneration(spark, "forecast-days", path, DayArtifacts, carry = Nil)(
      ServingStore.landed("forecast-days", path, Some(expectedFp),
        () => dayStatsFingerprint(spark, dir))) { (prev, next) =>
      // day state is an aggregate: the delta's partial sums re-aggregate
      // with the committed ones (decimal-exact, cast back to the stored
      // schema)
      val days = spark.read.parquet(prev.path("days"))
      writeDayState(days.unionByName(dayStateOf(delta))
        .groupBy(col("brand"), col("x"))
        .agg(
          sum(col("n_x")).as("n_x"),
          sum(col("syx_dec")).cast(days.schema("syx_dec").dataType).as("syx_dec"),
          sum(col("syyx_dec")).cast(days.schema("syyx_dec").dataType).as("syyx_dec")), next)
    }
    ()
  }

  /** Exact per-(brand, day) partials of a (brand, x: day index, y)
    * frame. */
  private[graft] def dayStateOf(obs: DataFrame): DataFrame =
    obs.groupBy(col("brand"), col("x"))
      .agg(
        cnt.as("n_x"),
        sum(dec2(col("y"))).as("syx_dec"),
        sum(dec2(col("y")) * dec2(col("y"))).as("syyx_dec"))

  /** Write both artifacts of an uncommitted generation: `days`, then
    * `months` rolled up from the days as written — the build and the
    * append share this one write, so there is one month formula. The
    * month state is brands × months rows, one file. The re-read takes
    * the schema just written instead of inferring it (a job). */
  private def writeDayState(days: DataFrame, gen: ServingStore.Generation): Unit = {
    days.write.mode("overwrite").parquet(gen.path("days"))
    monthStateOf(days.sparkSession.read.schema(days.schema).parquet(gen.path("days")))
      .coalesce(1).write.mode("overwrite").parquet(gen.path("months"))
  }

  /** The daily-grain fact projection the state aggregates. */
  private[graft] def dailyBase(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_shipdate"))
    val p = broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .select(
        col("p_brand").as("brand"),
        datediff(col("l_shipdate"), Epoch).cast(LongType).as("x"),
        col("l_extendedprice").as("y"))
  }

  /** The served day state with its calendar columns re-derived from the
    * day index (dow/month of epoch+x ARE dow/month of l_shipdate). */
  private def dayFrame(spark: SparkSession, dir: String): DataFrame =
    ensureDayStats(spark, dir).days
      .withColumn("d", date_add(Epoch, col("x").cast(IntegerType)))
      .withColumn("dow", dayofweek(col("d")))
      .withColumn("m", month(col("d")))

  /** The served month state ([[monthStateOf]] of the served days, one
    * row per (brand, month index)) — what the month-grain serves read. */
  private[operators] def monthFrame(spark: SparkSession, dir: String): DataFrame =
    ensureDayStats(spark, dir).months

  /** Monthly per-x state derived exactly from the daily state (x becomes
    * the month index of epoch+x; decimal sums re-sum associatively).
    * Column types cast back to the daily state's so downstream decimal
    * products keep their audited precision budgets. */
  private[graft] def monthStateOf(days: DataFrame): DataFrame =
    days
      .groupBy(col("brand"), tIndex(date_add(Epoch, col("x").cast(IntegerType))).as("x"))
      .agg(
        sum(col("n_x")).as("n_x"),
        sum(col("syx_dec")).cast(DecimalType(28, 2)).as("syx_dec"),
        sum(col("syyx_dec")).cast(DecimalType(38, 4)).as("syyx_dec"))

  /** [[olsStats]]'s exact schema derived from a per-x state frame — the
    * doubles are cast from the same exact totals a fact scan sums. */
  private def olsStatsOfState(state: DataFrame): DataFrame =
    state.groupBy(col("brand"))
      .agg(
        sum(col("n_x")).as("n"),
        sum(col("x") * col("n_x")).as("sx"),
        sum(col("x") * col("x") * col("n_x")).as("sxx"),
        sum(col("syx_dec")).cast(DoubleType).as("sy"),
        sum(xDec * syxN).cast(DoubleType).as("sxy"),
        sum(col("syyx_dec")).cast(DoubleType).as("syy"),
        max(col("x")).as("max_x"))

  /** Per-(brand, dow) means from the daily state — [[forecastHorizon]]'s
    * dowMeans, same exact totals. */
  private def dowMeansOfState(day: DataFrame): DataFrame =
    day.groupBy(col("brand").as("db"), col("dow"))
      .agg(meanOf(sum(col("syx_dec")).cast(DoubleType), sum(col("n_x"))).as("mean_dow"))

  /** Per-(brand, calendar month) means from the daily state. */
  private def monthMeansOfState(day: DataFrame): DataFrame =
    day.groupBy(col("brand").as("mb"), col("m").as("month"))
      .agg(meanOf(sum(col("syx_dec")).cast(DoubleType), sum(col("n_x"))).as("mean_month"))

  private def joined(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_shipdate"))
    val p = broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .select(
        col("p_brand").as("brand"),
        tIndex(col("l_shipdate")).as("x"),
        month(col("l_shipdate")).as("m"),
        col("l_extendedprice").as("y"))
  }

  private val xDec: Column = col("x").cast(DecimalType(10, 0))

  /** Exact per-group OLS sufficient statistics (syy feeds the residual
    * variance for prediction intervals; unused columns are pruned by
    * Catalyst in the queries that don't need it). */
  private def olsStats(df: DataFrame): DataFrame =
    df.groupBy(col("brand"))
      .agg(
        cnt.as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(dec2(col("y"))).cast(DoubleType).as("sy"),
        sum(xDec * dec2(col("y"))).cast(DoubleType).as("sxy"),
        sum(dec2(col("y")) * dec2(col("y"))).cast(DoubleType).as("syy"),
        max(col("x")).as("max_x"))

  /** OLS slope with a degenerate-series guard: a group whose x values are
    * all identical has zero x-variance — NULL slope (ANSI double division
    * would otherwise abort the job; DuckDB yields NULL rows). */
  private def slopeCol: Column = {
    val varX = col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sx").cast(DoubleType)
    when(varX > 0,
      (col("n").cast(DoubleType) * col("sxy") - col("sx").cast(DoubleType) * col("sy")) / varX)
  }

  /** q_forecast_linear — per-brand linear trend and next-month forecast.
    * Serves from the persisted month state ([[ensureDayStats]]); the
    * from-scratch body is [[forecastLinearScratch]] (spec-pinned equal). */
  def forecastLinear(spark: SparkSession, dir: String): DataFrame =
    linearOf(olsStatsOfState(monthFrame(spark, dir)))

  private[graft] def forecastLinearScratch(spark: SparkSession, dir: String): DataFrame =
    linearOf(olsStats(joined(spark, dir)))

  private def linearOf(stats: DataFrame): DataFrame =
    stats
      .withColumn("slope", slopeCol)
      .withColumn(
        "intercept",
        (col("sy") - col("slope") * col("sx").cast(DoubleType)) / col("n").cast(DoubleType))
      .withColumn(
        "forecast_next",
        col("intercept") + col("slope") * (col("max_x") + 1).cast(DoubleType))
      .select(col("brand"), col("n"), col("slope"), col("intercept"), col("forecast_next"))

  val forecastLinearOracle: String =
    """SELECT brand, n, slope,
      |  (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
      |  (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
      |    + slope * CAST(max_x + 1 AS DOUBLE) AS forecast_next
      |FROM (
      |  SELECT brand, n, sx, sxx, sy, sxy, max_x,
      |    CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    ELSE NULL END AS slope
      |  FROM (
      |    SELECT p_brand AS brand, COUNT(*) AS n,
      |      CAST(SUM(x) AS BIGINT) AS sx,
      |      CAST(SUM(x * x) AS BIGINT) AS sxx,
      |      CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |      CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |      CAST(MAX(x) AS BIGINT) AS max_x
      |    FROM (
      |      SELECT p_brand,
      |        (CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) - 1995) * 12
      |          + CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) - 1 AS x,
      |        l_extendedprice AS y
      |      FROM lineitem JOIN part ON l_partkey = p_partkey
      |    ) GROUP BY p_brand
      |  )
      |)""".stripMargin

  /** q_forecast_interval — next-month forecast with a Prophet-parity
    * uncertainty band: the reference serves `yhat_lower`/`yhat_upper`
    * from Prophet's default 80% interval
    * (`single_product_forecasting.py`, interval_width=0.8); here the
    * band is the classical OLS prediction interval derived from the SAME
    * exact sufficient statistics as the trend fit —
    * se² = s²(1 + 1/n + (x0-x̄)²/Sxx), s² = SSE/(n-2) — with z for the
    * 80% two-sided normal interval. One extra decimal sum (syy) on the
    * existing single aggregation pass; no second scan. */
  def forecastInterval(spark: SparkSession, dir: String): DataFrame =
    intervalOf(olsStatsOfState(monthFrame(spark, dir)))

  private[graft] def forecastIntervalScratch(spark: SparkSession, dir: String): DataFrame =
    intervalOf(olsStats(joined(spark, dir)))

  private def intervalOf(stats: DataFrame): DataFrame = {
    val nD = col("n").cast(DoubleType)
    val sxD = col("sx").cast(DoubleType)
    val sxxD = col("sxx").cast(DoubleType)
    val x0 = (col("max_x") + 1).cast(DoubleType)
    stats
      .withColumn("slope", slopeCol)
      .withColumn("intercept", (col("sy") - col("slope") * sxD) / nD)
      .withColumn("forecast_next", col("intercept") + col("slope") * x0)
      // the guard keeps every division/sqrt inside the defined region so
      // Spark and DuckDB cannot diverge on IEEE edge values
      .withColumn(
        "se_pred",
        when(col("n") > 2 && nD * sxxD - sxD * sxD > 0,
          sqrt(
            (greatest(col("syy") - col("intercept") * col("sy") - col("slope") * col("sxy"),
              lit(0.0)) / (nD - 2.0)) *
              (lit(1.0) + lit(1.0) / nD +
                (x0 - sxD / nD) * (x0 - sxD / nD) / (sxxD - sxD * sxD / nD)))))
      .withColumn("yhat_lo", col("forecast_next") - lit(1.2815515655446004) * col("se_pred"))
      .withColumn("yhat_hi", col("forecast_next") + lit(1.2815515655446004) * col("se_pred"))
      .select(col("brand"), col("n"), col("forecast_next"), col("se_pred"),
        col("yhat_lo"), col("yhat_hi"))
  }

  val forecastIntervalOracle: String =
    """WITH stats AS (
      |  SELECT p_brand AS brand, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
    |    CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    -- via VARCHAR: syy's scaled magnitude exceeds 2^53, and DuckDB's
      |    -- direct decimal->double cast double-rounds (int128 -> double,
      |    -- then /10^4); the string path is correctly rounded, matching
      |    -- Spark's BigDecimal.doubleValue
      |    CAST(CAST(SUM(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy,
      |    CAST(MAX(x) AS BIGINT) AS max_x
      |  FROM (
      |    SELECT p_brand,
      |      (CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) - 1995) * 12
      |        + CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) - 1 AS x,
      |      l_extendedprice AS y
      |    FROM lineitem JOIN part ON l_partkey = p_partkey
      |  ) GROUP BY p_brand
      |), sloped AS (
      |  SELECT *, CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    ELSE NULL END AS slope
      |  FROM stats
      |), fitted AS (
      |  SELECT *, (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept FROM sloped
      |), fc AS (
      |  SELECT *, intercept + slope * CAST(max_x + 1 AS DOUBLE) AS forecast_next FROM fitted
      |), banded AS (
      |  SELECT *, CASE WHEN n > 2 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |    THEN SQRT(
      |      (GREATEST(syy - intercept * sy - slope * sxy, 0.0) / (CAST(n AS DOUBLE) - 2.0)) *
      |      (1.0 + 1.0 / CAST(n AS DOUBLE) +
      |        (CAST(max_x + 1 AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(max_x + 1 AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
      |    ELSE NULL END AS se_pred
      |  FROM fc
      |)
      |SELECT brand, n, forecast_next, se_pred,
      |  forecast_next - 1.2815515655446004 * se_pred AS yhat_lo,
      |  forecast_next + 1.2815515655446004 * se_pred AS yhat_hi
      |FROM banded""".stripMargin

  /** q_forecast_weekly — Prophet-parity weekly seasonality
    * (`server/forecast_utils.py:29-34` fits weekly_seasonality=True):
    * daily-index OLS trend plus additive day-of-week seasonal indices
    * (mean deviation per dow, exact-decimal), forecasting the 7 days
    * after each brand's last observation. dow is Spark's `dayofweek`
    * (1=Sunday..7=Saturday; the oracle shifts DuckDB's 0-based dow). */
  def forecastWeekly(spark: SparkSession, dir: String): DataFrame = {
    val day = dayFrame(spark, dir)
    weeklyOf(seasonalTrend(olsStatsOfState(day)), dowMeansOfState(day))
  }

  private[graft] def forecastWeeklyScratch(spark: SparkSession, dir: String): DataFrame = {
    val base = dailyBase(spark, dir)
      .withColumn("dow", dayofweek(date_add(Epoch, col("x").cast(IntegerType))))
    weeklyOf(
      seasonalTrend(olsStats(base)),
      base.groupBy(col("brand").as("db"), col("dow"))
        .agg(meanOf(sum(dec2(col("y"))).cast(DoubleType), cnt).as("mean_dow")))
  }

  private def weeklyOf(trend: DataFrame, dowMeans: DataFrame): DataFrame = {
    val epoch = Epoch
    val futures = trend
      .withColumn("day_offset", explode(sequence(lit(1), lit(7))))
      .withColumn("x_future", col("max_x") + col("day_offset"))
      .withColumn("forecast_date", date_add(epoch, col("x_future").cast(IntegerType)))
      .withColumn("fdow", dayofweek(col("forecast_date")))
    futures
      // dow means are group-cardinality (brands x 7) — broadcast, never
      // SMJ. LEFT join with a 0.0 fallback: a dow never observed for the
      // brand forecasts at the trend (overall-mean deviation 0) instead
      // of silently losing the day — the horizon is exactly 7 rows per
      // brand (spec-asserted), same contract as [[forecastHorizon]].
      .join(broadcast(dowMeans),
        col("brand") === col("db") && col("fdow") === col("dow"), "left")
      .withColumn("seasonal_idx", coalesce(col("mean_dow") - col("mean_all"), lit(0.0)))
      .withColumn(
        "forecast",
        col("intercept") + col("slope") * col("x_future").cast(DoubleType) + col("seasonal_idx"))
      .select(col("brand"), col("day_offset"), col("forecast_date"),
        col("fdow").as("dow"), col("seasonal_idx"), col("forecast"))
  }

  val forecastWeeklyOracle: String =
    """WITH base AS (
      |  SELECT p_brand AS brand,
      |    CAST(DATE_DIFF('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS x,
      |    CAST(EXTRACT(dow FROM l_shipdate) AS INT) + 1 AS dow,
      |    l_extendedprice AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), stats AS (
      |  SELECT brand, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(MAX(x) AS BIGINT) AS max_x
      |  FROM base GROUP BY brand
      |), trend AS (
      |  SELECT brand, slope,
      |    (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
      |    sy / CAST(n AS DOUBLE) AS mean_all, max_x
      |  FROM (
      |    SELECT brand, n, sx, sy, max_x,
      |      CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |      THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      ELSE NULL END AS slope
      |    FROM stats
      |  )
      |), dowm AS (
      |  SELECT brand AS db, dow,
      |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_dow
      |  FROM base GROUP BY brand, dow
      |), futures AS (
      |  SELECT brand, slope, intercept, mean_all, max_x,
      |    CAST(d AS INT) AS day_offset,
      |    max_x + d AS x_future,
      |    DATE '1995-01-01' + CAST(max_x + d AS INTEGER) AS forecast_date
      |  FROM trend, (SELECT UNNEST(GENERATE_SERIES(1, 7)) AS d)
      |)
      |SELECT f.brand, f.day_offset, f.forecast_date,
      |  CAST(EXTRACT(dow FROM f.forecast_date) AS INT) + 1 AS dow,
      |  COALESCE(m.mean_dow - f.mean_all, 0.0) AS seasonal_idx,
      |  f.intercept + f.slope * CAST(f.x_future AS DOUBLE)
      |    + COALESCE(m.mean_dow - f.mean_all, 0.0) AS forecast
      |FROM futures f LEFT JOIN dowm m
      |  ON f.brand = m.db AND CAST(EXTRACT(dow FROM f.forecast_date) AS INT) + 1 = m.dow""".stripMargin

  /** Forecast horizon (days) for [[forecastHorizon]] — the reference's
    * `make_future_dataframe(periods)` runs with periods >= 365
    * (`server/forecast_utils.py:56-60`). */
  val HorizonDays = 365

  /** q_forecast_horizon — the reference's full additive model in one
    * query: daily-index trend + weekly AND yearly seasonality (dow and
    * month-of-year mean-deviation indices), predicting [[HorizonDays]]
    * days past each brand's last observation — the composed
    * trend+weekly+yearly shape `forecast_utils.py` fits, at Prophet's
    * default >= 365-day horizon.
    *
    * No new scan shapes: the three passes (OLS stats, dow means, month
    * means) aggregate the SAME broadcast-joined fact projection — at
    * 100 TB, three map-side-combined shuffles of group-cardinality
    * output — and the future grid is group-cardinality x 365 rows built
    * by explode, with both seasonal joins broadcast. */
  def forecastHorizon(spark: SparkSession, dir: String): DataFrame = {
    val day = dayFrame(spark, dir)
    horizonOf(seasonalTrend(olsStatsOfState(day)),
      dowMeansOfState(day), monthMeansOfState(day))
  }

  private[graft] def forecastHorizonScratch(spark: SparkSession, dir: String): DataFrame = {
    val (trend, dowMeans, monthMeans, _) = scratchDailyParts(spark, dir)
    horizonOf(trend, dowMeans, monthMeans)
  }

  /** The (trend, dowMeans, monthMeans, asof) quartet from a fresh daily
    * fact scan — the from-scratch reference the state-served horizon /
    * recency / weekly surfaces are spec-pinned against. */
  private def scratchDailyParts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = dailyBase(spark, dir)
      .withColumn("d", date_add(Epoch, col("x").cast(IntegerType)))
      .withColumn("dow", dayofweek(col("d")))
      .withColumn("m", month(col("d")))
      .localCheckpoint(eager = false)
    val trend = seasonalTrend(olsStats(base))
    val dowMeans = base
      .groupBy(col("brand").as("db"), col("dow"))
      .agg(meanOf(sum(dec2(col("y"))).cast(DoubleType), cnt).as("mean_dow"))
    val monthMeans = base
      .groupBy(col("brand").as("mb"), col("m").as("month"))
      .agg(meanOf(sum(dec2(col("y"))).cast(DoubleType), cnt).as("mean_month"))
    val asof = base.agg(max(col("x")).as("asof_x"))
    (trend, dowMeans, monthMeans, asof)
  }

  private def horizonOf(trend: DataFrame, dowMeans: DataFrame,
      monthMeans: DataFrame): DataFrame = {
    val epoch = Epoch
    val futures = trend
      .withColumn("day_offset", explode(sequence(lit(1), lit(HorizonDays))))
      .withColumn("x_future", col("max_x") + col("day_offset"))
      .withColumn("forecast_date", date_add(epoch, col("x_future").cast(IntegerType)))
      .withColumn("fdow", dayofweek(col("forecast_date")))
      .withColumn("fmonth", month(col("forecast_date")))
    futures
      // LEFT joins with a 0.0 fallback: a (brand, dow) or (brand, month)
      // never observed in history has no mean-deviation index — the
      // principled additive-model fallback is the overall mean (index 0),
      // NOT silently dropping the forecast date (the horizon contract is
      // exactly HorizonDays rows per group, spec-asserted)
      .join(broadcast(dowMeans),
        col("brand") === col("db") && col("fdow") === col("dow"), "left")
      .join(broadcast(monthMeans),
        col("brand") === col("mb") && col("fmonth") === col("month"), "left")
      .withColumn("weekly_idx", coalesce(col("mean_dow") - col("mean_all"), lit(0.0)))
      .withColumn("yearly_idx", coalesce(col("mean_month") - col("mean_all"), lit(0.0)))
      .withColumn(
        "forecast",
        col("intercept") + col("slope") * col("x_future").cast(DoubleType) +
          col("weekly_idx") + col("yearly_idx"))
      .select(col("brand"), col("day_offset"), col("forecast_date"),
        col("weekly_idx"), col("yearly_idx"), col("forecast"))
  }

  val forecastHorizonOracle: String =
    s"""WITH base AS (
       |  SELECT p_brand AS brand,
       |    CAST(DATE_DIFF('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS x,
       |    CAST(EXTRACT(dow FROM l_shipdate) AS INT) + 1 AS dow,
       |    CAST(EXTRACT(month FROM l_shipdate) AS INT) AS m,
       |    l_extendedprice AS y
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |), stats AS (
       |  SELECT brand, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
       |    CAST(MAX(x) AS BIGINT) AS max_x
       |  FROM base GROUP BY brand
       |), trend AS (
       |  SELECT brand, slope,
       |    (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
       |    sy / CAST(n AS DOUBLE) AS mean_all, max_x
       |  FROM (
       |    SELECT brand, n, sx, sy, max_x,
       |      CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
       |      THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      ELSE NULL END AS slope
       |    FROM stats
       |  )
       |), dowm AS (
       |  SELECT brand AS db, dow,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_dow
       |  FROM base GROUP BY brand, dow
       |), monthm AS (
       |  SELECT brand AS mb, m AS month,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_month
       |  FROM base GROUP BY brand, m
       |), futures AS (
       |  SELECT brand, slope, intercept, mean_all, max_x,
       |    CAST(d AS INT) AS day_offset,
       |    max_x + d AS x_future,
       |    DATE '1995-01-01' + CAST(max_x + d AS INTEGER) AS forecast_date
       |  FROM trend, (SELECT UNNEST(GENERATE_SERIES(1, $HorizonDays)) AS d)
       |)
       |SELECT f.brand, f.day_offset, f.forecast_date,
       |  COALESCE(w.mean_dow - f.mean_all, 0.0) AS weekly_idx,
       |  COALESCE(m.mean_month - f.mean_all, 0.0) AS yearly_idx,
       |  f.intercept + f.slope * CAST(f.x_future AS DOUBLE)
       |    + COALESCE(w.mean_dow - f.mean_all, 0.0)
       |    + COALESCE(m.mean_month - f.mean_all, 0.0) AS forecast
       |FROM futures f
       |LEFT JOIN dowm w ON f.brand = w.db AND CAST(EXTRACT(dow FROM f.forecast_date) AS INT) + 1 = w.dow
       |LEFT JOIN monthm m ON f.brand = m.mb AND CAST(EXTRACT(month FROM f.forecast_date) AS INT) = m.month""".stripMargin

  /** q_forecast_recency — data-recency horizons, the reference's
    * `calculate_forecast_periods` (`server/forecast_utils.py:37-42`):
    * `periods = (today − last observation).days + 365`, floored at 365 —
    * a group whose data went stale forecasts a LONGER horizon so the
    * series still reaches a year past "now". "Today" is the corpus as-of
    * date (the global max observed day — deterministic, no wall clock),
    * so horizons stretch per group exactly as the reference's do against
    * the live date. Model shape is [[forecastHorizon]]'s trend + weekly +
    * yearly additive composition; the as-of scalar joins in by broadcast
    * (1 row), and each group explodes `horizon` future days instead of a
    * fixed 365. */
  def forecastRecency(spark: SparkSession, dir: String): DataFrame = {
    val day = dayFrame(spark, dir)
    recencyOf(seasonalTrend(olsStatsOfState(day)),
      dowMeansOfState(day), monthMeansOfState(day),
      day.agg(max(col("x")).as("asof_x")))
  }

  private[graft] def forecastRecencyScratch(spark: SparkSession, dir: String): DataFrame = {
    val (trend, dowMeans, monthMeans, asof) = scratchDailyParts(spark, dir)
    recencyOf(trend, dowMeans, monthMeans, asof)
  }

  private def recencyOf(trend: DataFrame, dowMeans: DataFrame,
      monthMeans: DataFrame, asof: DataFrame): DataFrame = {
    val epoch = Epoch
    val futures = trend
      .crossJoin(broadcast(asof)) // 1-row scalar — broadcast, never a shuffle
      .withColumn(
        "horizon",
        greatest(col("asof_x") - col("max_x") + lit(HorizonDays), lit(HorizonDays.toLong))
          .cast(IntegerType))
      .withColumn("day_offset", explode(sequence(lit(1), col("horizon"))))
      .withColumn("x_future", col("max_x") + col("day_offset"))
      .withColumn("forecast_date", date_add(epoch, col("x_future").cast(IntegerType)))
      .withColumn("fdow", dayofweek(col("forecast_date")))
      .withColumn("fmonth", month(col("forecast_date")))
    futures
      .join(broadcast(dowMeans),
        col("brand") === col("db") && col("fdow") === col("dow"), "left")
      .join(broadcast(monthMeans),
        col("brand") === col("mb") && col("fmonth") === col("month"), "left")
      .withColumn("weekly_idx", coalesce(col("mean_dow") - col("mean_all"), lit(0.0)))
      .withColumn("yearly_idx", coalesce(col("mean_month") - col("mean_all"), lit(0.0)))
      .withColumn(
        "forecast",
        col("intercept") + col("slope") * col("x_future").cast(DoubleType) +
          col("weekly_idx") + col("yearly_idx"))
      .select(col("brand"), col("horizon"), col("day_offset"), col("forecast_date"),
        col("forecast"))
  }

  val forecastRecencyOracle: String =
    s"""WITH base AS (
       |  SELECT p_brand AS brand,
       |    CAST(DATE_DIFF('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS x,
       |    CAST(EXTRACT(dow FROM l_shipdate) AS INT) + 1 AS dow,
       |    CAST(EXTRACT(month FROM l_shipdate) AS INT) AS m,
       |    l_extendedprice AS y
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |), stats AS (
       |  SELECT brand, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
       |    CAST(MAX(x) AS BIGINT) AS max_x
       |  FROM base GROUP BY brand
       |), trend AS (
       |  SELECT brand, slope,
       |    (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
       |    sy / CAST(n AS DOUBLE) AS mean_all, max_x
       |  FROM (
       |    SELECT brand, n, sx, sy, max_x,
       |      CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
       |      THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      ELSE NULL END AS slope
       |    FROM stats
       |  )
       |), dowm AS (
       |  SELECT brand AS db, dow,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_dow
       |  FROM base GROUP BY brand, dow
       |), monthm AS (
       |  SELECT brand AS mb, m AS month,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_month
       |  FROM base GROUP BY brand, m
       |), asof_now AS (
       |  SELECT MAX(x) AS asof_x FROM base
       |), futures AS (
       |  SELECT brand, slope, intercept, mean_all, max_x,
       |    CAST(horizon AS INT) AS horizon,
       |    CAST(UNNEST(GENERATE_SERIES(1, horizon)) AS INT) AS day_offset
       |  FROM (
       |    SELECT t.*, GREATEST(a.asof_x - t.max_x + $HorizonDays, $HorizonDays) AS horizon
       |    FROM trend t, asof_now a
       |  )
       |), grid AS (
       |  SELECT brand, slope, intercept, mean_all, horizon, day_offset,
       |    max_x + day_offset AS x_future,
       |    DATE '1995-01-01' + CAST(max_x + day_offset AS INTEGER) AS forecast_date
       |  FROM futures
       |)
       |SELECT g.brand, g.horizon, g.day_offset, g.forecast_date,
       |  g.intercept + g.slope * CAST(g.x_future AS DOUBLE)
       |    + COALESCE(w.mean_dow - g.mean_all, 0.0)
       |    + COALESCE(m.mean_month - g.mean_all, 0.0) AS forecast
       |FROM grid g
       |LEFT JOIN dowm w ON g.brand = w.db AND CAST(EXTRACT(dow FROM g.forecast_date) AS INT) + 1 = w.dow
       |LEFT JOIN monthm m ON g.brand = m.mb AND CAST(EXTRACT(month FROM g.forecast_date) AS INT) = m.month""".stripMargin

  /** q_seasonal_forecast — trend + additive month-of-year seasonality:
    * forecast for each month of the year after each brand's last
    * observed month. Seasonal index = (month mean) - (overall mean). */
  def seasonalForecast(spark: SparkSession, dir: String): DataFrame =
    seasonalForecastFromState(monthFrame(spark, dir))

  private[graft] def seasonalForecastScratch(spark: SparkSession, dir: String): DataFrame = {
    val base = joined(spark, dir)
    val monthly = base
      .groupBy(col("brand").as("mb"), col("m").as("month"))
      .agg(meanOf(sum(dec2(col("y"))).cast(DoubleType), cnt).as("mean_month"))
    seasonalCore(seasonalTrend(olsStats(base)), monthly)
  }

  /** Trend columns the seasonal composition consumes, from any frame
    * carrying the OLS stats names — shared by the fact-scan fit and the
    * streamed-state serve so both run the identical IEEE sequence. */
  private def seasonalTrend(stats: DataFrame): DataFrame =
    stats
      .withColumn("slope", slopeCol)
      .withColumn(
        "intercept",
        (col("sy") - col("slope") * col("sx").cast(DoubleType)) / col("n").cast(DoubleType))
      .withColumn("mean_all", col("sy") / col("n").cast(DoubleType))
      .select(col("brand"), col("slope"), col("intercept"), col("mean_all"), col("max_x"))

  /** Seasonal composition tail over (trend, per-month means). */
  private def seasonalCore(trend: DataFrame, monthly: DataFrame): DataFrame =
    monthly
      .join(broadcast(trend), col("mb") === col("brand"))
      .withColumn("seasonal_idx", col("mean_month") - col("mean_all"))
      // forecast horizon: month m of the year after the last observed index
      .withColumn(
        "x_future",
        ((floor((col("max_x") + lit(12)) / 12) * 12) + col("month") - 1).cast(DoubleType))
      .withColumn(
        "forecast",
        col("intercept") + col("slope") * col("x_future") + col("seasonal_idx"))
      .select(col("brand"), col("month"), col("seasonal_idx"), col("forecast"))

  // ------------------------------------------------- rank-by-forecast top-k

  /** q_topk_forecast — products ranked by MEAN FORECASTED price: the
    * reference's actual "best products" semantics
    * (`server/pages/best_products.py::forecast_best_products` ranks by
    * `forecast["yhat"].mean()` ascending, filtering negative forecasts —
    * `forecast_utils.py:118-135`; `forecast_market_prices` at :56-66 does
    * the same per market). Composes the trend + monthly-seasonality model
    * with the top-k rank in ONE pass:
    *
    * Over the 12 months after each group's last observation, every
    * calendar month occurs exactly once, so the horizon's mean yhat has
    * the closed form `intercept + slope*(max_x + 6.5) + (Σ idx_m)/12` —
    * no future-grid explode at all. The per-month seasonal sums pivot
    * into the SAME aggregation as the OLS stats (map-side-combined,
    * group-cardinality output), and the 12-term index sum folds in fixed
    * month order so Spark and the oracle run the identical IEEE sequence.
    * A month absent from a group's history contributes index 0 (the
    * additive-model fallback, as in [[forecastHorizon]]).
    *
    * Scale shape: one aggregation over the fact → one row per group; the
    * rank window sees only group-cardinality rows (bounded by the
    * product dimension, same as every dashboard "best N" surface). */
  def forecastTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // served from the persisted month state: per-(brand, month) cent
    // sums recover EXACTLY from the state's decimal sums (each y is a
    // 2-decimal price, so Σcents = 100·Σdec2(y) is an integer), and the
    // 13 long sums aggregate the dim-sized state instead of the fact
    val state = monthFrame(spark, dir)
      .withColumn("cents_x", (col("syx_dec") * lit(100)).cast(LongType))
      .withColumn("m", (pmod(col("x"), lit(12L)) + 1).cast(IntegerType))
    val aggs: Seq[Column] =
      Seq(
        sum(col("n_x")).as("n"),
        sum(col("x") * col("n_x")).as("sx"),
        sum(col("x") * col("x") * col("n_x")).as("sxx"),
        (sum(col("cents_x")).cast(DoubleType) / lit(100.0)).as("sy"),
        (sum(col("x") * col("cents_x")).cast(DoubleType) / lit(100.0)).as("sxy"),
        max(col("x")).as("max_x")) ++
        (1 to 12).flatMap { m =>
          Seq(
            (sum(when(col("m") === m, col("cents_x"))).cast(DoubleType) / lit(100.0))
              .as(s"sy$m"),
            sum(when(col("m") === m, col("n_x"))).cast(LongType).as(s"n$m"))
        }
    topkTail(state.groupBy(col("brand")).agg(aggs.head, aggs.tail: _*), k)
  }

  /** From-scratch fact-scan form of [[forecastTopK]] (spec reference). */
  private[graft] def forecastTopKScratch(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    // Cents are materialized by a codegen'd Project BEFORE the aggregate
    // (same fused-FP fast path as TopK.topkPerGroup, precondition
    // property-tested in GraftProps): the 13 decimal sum buffers (sy, sxy,
    // 12 monthly) become plain long sums, and the per-row decimal multiply
    // xDec * dec2(y) becomes a long multiply. Each surfaced double is
    // bit-equal to the decimal form while a group's cents-weighted sum
    // stays under 2^53 (see Exact.sumCents2's budget note) — at a scale
    // where a single brand's Σ|x|·cents could exceed that, restore the
    // decimal buffers.
    val base = joined(spark, dir)
      .withColumn("cents", floor(col("y") * lit(100) + lit(0.5)))
    val aggs: Seq[Column] =
      Seq(
        cnt.as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        (sum(col("cents")).cast(DoubleType) / lit(100.0)).as("sy"),
        (sum(col("x") * col("cents")).cast(DoubleType) / lit(100.0)).as("sxy"),
        max(col("x")).as("max_x")) ++
        (1 to 12).flatMap { m =>
          Seq(
            (sum(when(col("m") === m, col("cents"))).cast(DoubleType) / lit(100.0))
              .as(s"sy$m"),
            count(when(col("m") === m, lit(1))).as(s"n$m"))
        }
    topkTail(base.groupBy(col("brand")).agg(aggs.head, aggs.tail: _*), k)
  }

  /** Fit + closed-form horizon mean + rank over the 18-column stats
    * frame — shared by the state-served and fact-scan forms. */
  private def topkTail(stats: DataFrame, k: Int): DataFrame = {
    val nD = col("n").cast(DoubleType)
    val sxD = col("sx").cast(DoubleType)
    val fitted = stats
      .withColumn("slope", slopeCol)
      .withColumn("intercept", (col("sy") - col("slope") * sxD) / nD)
      .withColumn("mean_all", col("sy") / nD)
    val idxSum = (1 to 12)
      .map(m => coalesce(
        col(s"sy$m") / col(s"n$m").cast(DoubleType) - col("mean_all"), lit(0.0)))
      .reduce(_ + _) // left fold in month order — mirrored textually in SQL
    val ranked = fitted
      .withColumn(
        "mean_yhat",
        col("intercept") + col("slope") * (col("max_x").cast(DoubleType) + lit(6.5)) +
          idxSum / lit(12.0))
      .filter(col("mean_yhat") > 0)
    val w = Window.orderBy(col("mean_yhat"), col("brand"))
    ranked
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("brand"), col("n"), col("mean_yhat"), col("rk"))
  }

  /** Spec-only reference for [[forecastTopK]]'s closed form: the explicit
    * 12-row future grid for one brand, averaged driver-side. */
  private[graft] def seasonalForecastHorizonMeanFor(
      spark: SparkSession, dir: String, brand: String): Double = {
    val base = joined(spark, dir).filter(col("brand") === brand)
    val s = olsStats(base)
      .withColumn("slope", slopeCol)
      .withColumn(
        "intercept",
        (col("sy") - col("slope") * col("sx").cast(DoubleType)) / col("n").cast(DoubleType))
      .withColumn("mean_all", col("sy") / col("n").cast(DoubleType))
      .collect()(0)
    val slope = s.getAs[Double]("slope")
    val intercept = s.getAs[Double]("intercept")
    val meanAll = s.getAs[Double]("mean_all")
    val maxX = s.getAs[Long]("max_x")
    val mm = base.groupBy(col("m"))
      .agg(meanOf(sum(dec2(col("y"))).cast(DoubleType), cnt).as("mean_month"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val yhats = (1 to 12).map { d =>
      val x = maxX + d
      val calMonth = (x % 12).toInt + 1 // x = (year-1995)*12 + month-1
      intercept + slope * x + mm.get(calMonth).map(_ - meanAll).getOrElse(0.0)
    }
    yhats.sum / 12.0
  }

  val forecastTopKOracle: String = {
    val idxSumSql = (1 to 12)
      .map(m => s"COALESCE(sy$m / CAST(n$m AS DOUBLE) - mean_all, 0.0)")
      .reduce((a, b) => s"($a + $b)")
    val monthAggs = (1 to 12).map { m =>
      s"""    CAST(SUM(CASE WHEN m = $m THEN CAST(y AS DECIMAL(18,2)) END) AS DOUBLE) AS sy$m,
         |    COUNT(CASE WHEN m = $m THEN 1 END) AS n$m""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT p_brand AS brand,
       |    (CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) - 1995) * 12
       |      + CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) - 1 AS x,
       |    CAST(EXTRACT(month FROM l_shipdate) AS INT) AS m,
       |    l_extendedprice AS y
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |), stats AS (
       |  SELECT brand, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
       |    CAST(MAX(x) AS BIGINT) AS max_x,
       |$monthAggs
       |  FROM base GROUP BY brand
       |), fitted AS (
       |  SELECT *,
       |    (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
       |    sy / CAST(n AS DOUBLE) AS mean_all
       |  FROM (
       |    SELECT *,
       |      CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
       |      THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      ELSE NULL END AS slope
       |    FROM stats
       |  )
       |), scored AS (
       |  SELECT brand, n,
       |    intercept + slope * (CAST(max_x AS DOUBLE) + 6.5)
       |      + $idxSumSql / 12.0 AS mean_yhat
       |  FROM fitted
       |)
       |SELECT brand, n, mean_yhat, rk FROM (
       |  SELECT brand, n, mean_yhat,
       |    CAST(ROW_NUMBER() OVER (ORDER BY mean_yhat, brand) AS INT) AS rk
       |  FROM scored WHERE mean_yhat > 0
       |) WHERE rk <= 10""".stripMargin
  }

  // ------------------------------------------------- fitted-model persistence

  /** Per-group OLS sufficient statistics in their native EXACT types —
    * decimal sums not yet cast to double. This frame is the mergeable
    * model state: every column is an associative exact aggregate (counts,
    * integer sums, decimal sums, max), so partials from a new data batch
    * fold in by summation without touching history. */
  private[graft] def olsStatsExact(df: DataFrame): DataFrame =
    df.groupBy(col("brand"))
      .agg(
        cnt.as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(dec2(col("y"))).as("sy_dec"),
        sum(xDec * dec2(col("y"))).as("sxy_dec"),
        sum(dec2(col("y")) * dec2(col("y"))).as("syy_dec"),
        max(col("x")).as("max_x"))

  /** Persist the fitted forecast model. The reference caches trained
    * Prophet models keyed by series (`server/forecast_utils.py:14-18`
    * `load_or_train_model`); here the model IS the per-group exact OLS
    * sufficient-statistics frame — persisting it means later forecasts
    * (any horizon, intervals, seasonal composition) derive from a
    * group-cardinality parquet read instead of re-scanning the fact, and
    * `graft.streaming.ForecastModelSink` maintains it incrementally,
    * each batch reduced to its own exact partials. Exact decimal
    * sums round-trip parquet losslessly, so forecasts from the persisted
    * model are BIT-IDENTICAL to fresh fits (spec-gated). */
  def writeForecastModel(spark: SparkSession, dir: String, modelPath: String): Unit =
    forecastModelFrame(spark, dir).write.mode("overwrite").parquet(modelPath)

  /** The persisted-model frame ([[writeForecastModel]]'s content) for
    * sinks that manage their own layout — the pipeline writes it through
    * the shared staged sink like every other layer. */
  def forecastModelFrame(spark: SparkSession, dir: String): DataFrame =
    olsStatsExact(joined(spark, dir))

  /** The model's observation input shape (brand, x, m, y) — what the
    * streaming model sink consumes per micro-batch. */
  private[graft] def observationsFrame(spark: SparkSession, dir: String): DataFrame =
    joined(spark, dir)

  /** Exact associative merge of two model-statistics frames — the
    * per-micro-batch fold of the streaming model sink
    * (`graft.streaming.ForecastModelSink`). */
  private[graft] def mergeStatsFrames(prev: DataFrame, add: DataFrame): DataFrame = {
    val merged = prev
      .unionByName(add)
      .groupBy(col("brand"))
      .agg(
        sum(col("n")).as("n"),
        sum(col("sx")).as("sx"),
        sum(col("sxx")).as("sxx"),
        sum(col("sy_dec")).as("sy_dec"),
        sum(col("sxy_dec")).as("sxy_dec"),
        sum(col("syy_dec")).as("syy_dec"),
        max(col("max_x")).as("max_x"))
    // restore the canonical model schema (sums widen decimal precision)
    merged.select(
      add.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  /** Next-month forecast from a persisted model frame (a
    * [[writeForecastModel]] path read back, or the streamed model's
    * generation) — [[forecastLinear]] without the fact scan (the double
    * casts here see the same exact decimal totals a fresh fit casts at
    * aggregation time). */
  def forecastFromModel(model: DataFrame): DataFrame =
    model
      .withColumn("sy", col("sy_dec").cast(DoubleType))
      .withColumn("sxy", col("sxy_dec").cast(DoubleType))
      .withColumn("slope", slopeCol)
      .withColumn(
        "intercept",
        (col("sy") - col("slope") * col("sx").cast(DoubleType)) / col("n").cast(DoubleType))
      .withColumn(
        "forecast_next",
        col("intercept") + col("slope") * (col("max_x") + 1).cast(DoubleType))
      .select(col("brand"), col("n"), col("slope"), col("intercept"), col("forecast_next"))

  // ------------------------------------------ widened (per-x) model state

  /** Per-(brand, x) exact rollup — the WIDENED streaming model state.
    * Every forecast family's sufficient statistics are an exact LINEAR
    * functional of this frame: trend moments (Σx·n_x, Σx²·n_x, Σy, Σx·y),
    * monthly seasonal sums (calendar month = x mod 12 + 1 by the index
    * definition), and changepoint hinge moments for knots at ANY
    * location. The last point is why the state is per-x and not
    * pre-hinged: knots move whenever a batch extends a group's x-range,
    * so hinge sums are NOT associative under micro-batch merge — but the
    * per-x rollup is, and hinge sums re-derive from it exactly.
    * Cardinality: one row per (group, observed month index) — bounded by
    * dims x calendar span, never by fact rows. */
  private[graft] def xStatsExact(df: DataFrame): DataFrame =
    df.groupBy(col("brand"), col("x"))
      .agg(cnt.as("n_x"), sum(dec2(col("y"))).as("syx_dec"))

  /** Exact associative merge of two per-x state frames (the
    * micro-batch fold of `graft.streaming.ForecastModelSink`'s widened
    * layer). */
  private[graft] def mergeXStatsFrames(prev: DataFrame, add: DataFrame): DataFrame = {
    val merged = prev
      .unionByName(add)
      .groupBy(col("brand"), col("x"))
      .agg(sum(col("n_x")).as("n_x"), sum(col("syx_dec")).as("syx_dec"))
    merged.select(
      add.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  /** syx_dec narrowed so decimal products with a (10,0) weight stay
    * within precision 38 (10 + 27 + 1). A per-(brand, month-index) price
    * sum needing more than 25 integer digits is beyond any physical
    * corpus; the cast would overflow LOUDLY under ANSI if that ever
    * changed. */
  private def syxN: Column = col("syx_dec").cast(DecimalType(27, 2))

  /** Group OLS stats derived exactly from the per-x state — the same
    * VALUES [[olsStats]] computes from the fact scan (integer moments
    * weighted by n_x; decimal sums re-summed, so the double casts see
    * equal exact totals). syy is not per-x-derivable and not needed by
    * the families served from this state. */
  private def trendFromState(state: DataFrame): DataFrame =
    state.groupBy(col("brand"))
      .agg(
        sum(col("n_x")).as("n"),
        sum(col("x") * col("n_x")).as("sx"),
        sum(col("x") * col("x") * col("n_x")).as("sxx"),
        sum(col("syx_dec")).cast(DoubleType).as("sy"),
        sum(xDec * syxN).cast(DoubleType).as("sxy"),
        max(col("x")).as("max_x"))

  /** q_seasonal_forecast served from the widened streaming state —
    * BIT-IDENTICAL to the fact-scan fit (spec-gated): the trend and
    * monthly means derive from the same exact totals, and the
    * composition tail is the shared [[seasonalCore]]. */
  private[graft] def seasonalForecastFromState(state: DataFrame): DataFrame = {
    val monthly = state
      .groupBy(col("brand").as("mb"),
        (pmod(col("x"), lit(12L)) + 1).cast(IntegerType).as("month"))
      .agg(meanOf(sum(col("syx_dec")).cast(DoubleType), sum(col("n_x"))).as("mean_month"))
    seasonalCore(seasonalTrend(trendFromState(state)), monthly)
  }

  /** q_forecast_changepoint served from the widened streaming state —
    * BIT-IDENTICAL to the fact-scan fit (spec-gated). Knots re-derive
    * from the state's full x-range (so they sit exactly where a batch
    * retrain would put them), hinge moments are n_x-weighted sums over
    * the per-x rows, and the solve tail is the shared
    * [[changepointSolve]]. */
  private[graft] def forecastChangepointFromState(state: DataFrame): DataFrame = {
    val rng = state.groupBy(col("brand").as("rb"))
      .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"))
    val feat = state
      .join(broadcast(rng), col("brand") === col("rb"))
      .select(col("brand"), col("x"), col("n_x"), col("syx_dec"), knotCol(1), knotCol(2))
      .select(
        col("brand"), col("x"), col("n_x"), col("syx_dec"), col("s1"), col("s2"),
        greatest(col("x") - col("s1"), lit(0L)).as("h1"),
        greatest(col("x") - col("s2"), lit(0L)).as("h2"))
    val stats = feat
      .groupBy(col("brand"))
      .agg(
        sum(col("n_x")).as("n"),
        sum(col("x") * col("n_x")).as("sx"),
        sum(col("h1") * col("n_x")).as("sh1"),
        sum(col("h2") * col("n_x")).as("sh2"),
        sum(col("x") * col("x") * col("n_x")).as("sxx"),
        sum(col("x") * col("h1") * col("n_x")).as("sxh1"),
        sum(col("x") * col("h2") * col("n_x")).as("sxh2"),
        sum(col("h1") * col("h1") * col("n_x")).as("sh1h1"),
        sum(col("h1") * col("h2") * col("n_x")).as("sh1h2"),
        sum(col("h2") * col("h2") * col("n_x")).as("sh2h2"),
        sum(col("syx_dec")).cast(DoubleType).as("sy"),
        sum(xDec * syxN).cast(DoubleType).as("sxy"),
        sum(col("h1").cast(DecimalType(10, 0)) * syxN).cast(DoubleType).as("sh1y"),
        sum(col("h2").cast(DecimalType(10, 0)) * syxN).cast(DoubleType).as("sh2y"),
        max(col("x")).as("max_x"),
        max(col("s1")).as("s1"),
        max(col("s2")).as("s2"))
    changepointSolve(stats)
  }

  // --------------------------------------------- piecewise (changepoint) trend

  /** Number of trend changepoints for [[forecastChangepoint]]; hinge
    * locations are evenly spaced over the first 80% of each group's
    * observed x-range (the uniform-grid simplification of Prophet's
    * default `n_changepoints` / `changepoint_range=0.8` placement,
    * `server/forecast_utils.py:28-34`). */
  val Changepoints = 2

  /** Tiny symbolic expression tree rendered to BOTH a Spark [[Column]]
    * and oracle SQL text with identical shape — the Cramer-rule solve of
    * the hinge-feature normal equations is generated once from this tree,
    * so the two engines evaluate the exact same IEEE operation sequence
    * and the DuckDB hash oracle stays bit-exact. */
  private sealed trait Ex
  private case class V(name: String) extends Ex
  private case class Mul(a: Ex, b: Ex) extends Ex
  private case class Add(a: Ex, b: Ex) extends Ex
  private case class Sub(a: Ex, b: Ex) extends Ex

  private def exCol(e: Ex): Column = e match {
    case V(n) => col(n)
    case Mul(a, b) => exCol(a) * exCol(b)
    case Add(a, b) => exCol(a) + exCol(b)
    case Sub(a, b) => exCol(a) - exCol(b)
  }

  private def exSql(e: Ex): String = e match {
    case V(n) => n
    case Mul(a, b) => s"(${exSql(a)} * ${exSql(b)})"
    case Add(a, b) => s"(${exSql(a)} + ${exSql(b)})"
    case Sub(a, b) => s"(${exSql(a)} - ${exSql(b)})"
  }

  /** Cofactor expansion along the first row, terms folded left in column
    * order — a fixed association order shared by both renderings. */
  private def det(m: Vector[Vector[Ex]]): Ex =
    if (m.size == 1) m(0)(0)
    else {
      val terms = m(0).indices.map { j =>
        val minor = m.tail.map(row => row.patch(j, Nil, 1))
        (j, Mul(m(0)(j), det(minor)))
      }
      terms.tail.foldLeft(terms.head._2: Ex) { case (acc, (j, t)) =>
        if (j % 2 == 0) Add(acc, t) else Sub(acc, t)
      }
    }

  /** Feature basis: [1, x, (x-s1)+, (x-s2)+]. Normal-equation matrix
    * A = XᵀX over the double-cast stats names, rhs b = Xᵀy. */
  private val cpA: Vector[Vector[Ex]] = Vector(
    Vector(V("d_n"), V("d_sx"), V("d_sh1"), V("d_sh2")),
    Vector(V("d_sx"), V("d_sxx"), V("d_sxh1"), V("d_sxh2")),
    Vector(V("d_sh1"), V("d_sxh1"), V("d_sh1h1"), V("d_sh1h2")),
    Vector(V("d_sh2"), V("d_sxh2"), V("d_sh1h2"), V("d_sh2h2")))
  private val cpB: Vector[Ex] = Vector(V("d_sy"), V("d_sxy"), V("d_sh1y"), V("d_sh2y"))
  private val cpDet: Ex = det(cpA)
  private val cpNums: Vector[Ex] =
    Vector.tabulate(4)(i => det(cpA.indices.toVector.map(r =>
      cpA(r).updated(i, cpB(r)))))

  /** q_forecast_changepoint — piecewise-linear ("Prophet-default") trend:
    * per-brand OLS over hinge features [1, x, (x-s1)+, (x-s2)+] with
    * [[Changepoints]] knots evenly spaced over the first 80% of the
    * group's x-range, plus the next-month forecast from the fitted
    * piecewise trend. A series with a mid-history trend break (which a
    * single global slope forecasts visibly wrong) is fit exactly.
    *
    * Scale shape: pass 1 reduces the fact to per-group (min, max) x; the
    * per-row hinge features then come from a BROADCAST join of that
    * group-cardinality frame, and pass 2 is one map-side-combined
    * aggregation of the 14 exact sufficient statistics (hinge products
    * are integers, moment sums decimal). The 4x4 normal equations are
    * solved in the projection via generated Cramer expansions — no
    * per-group model-fit loop, no driver-side matrix math. */
  def forecastChangepoint(spark: SparkSession, dir: String): DataFrame =
    forecastChangepointFromState(monthFrame(spark, dir))

  private[graft] def forecastChangepointScratch(spark: SparkSession, dir: String): DataFrame =
    forecastChangepointOf(joined(spark, dir).select(col("brand"), col("x"), col("y")))

  /** DataFrame core of [[forecastChangepoint]] over any (brand, x: long,
    * y: decimal) frame — the planted-trend-break spec fits synthetic
    * series through it. */
  /** Hinge-knot j for a group's observed x-range (see [[Changepoints]]). */
  private def knotCol(j: Int): Column =
    (col("min_x") + floor((col("max_x") - col("min_x")).cast(DoubleType) *
      lit(8.0 * j) / lit(10.0 * Changepoints)).cast(LongType)).as(s"s$j")

  private[graft] def forecastChangepointOf(base: DataFrame): DataFrame = {
    val rng = base.groupBy(col("brand").as("rb"))
      .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"))
    val feat = base
      .join(broadcast(rng), col("brand") === col("rb"))
      .select(col("brand"), col("x"), col("y"), knotCol(1), knotCol(2))
      .select(
        col("brand"), col("x"), col("y"), col("s1"), col("s2"),
        greatest(col("x") - col("s1"), lit(0L)).as("h1"),
        greatest(col("x") - col("s2"), lit(0L)).as("h2"))
    val stats = feat
      .groupBy(col("brand"))
      .agg(
        cnt.as("n"),
        sum(col("x")).as("sx"),
        sum(col("h1")).as("sh1"),
        sum(col("h2")).as("sh2"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("h1")).as("sxh1"),
        sum(col("x") * col("h2")).as("sxh2"),
        sum(col("h1") * col("h1")).as("sh1h1"),
        sum(col("h1") * col("h2")).as("sh1h2"),
        sum(col("h2") * col("h2")).as("sh2h2"),
        sum(dec2(col("y"))).cast(DoubleType).as("sy"),
        sum(xDec * dec2(col("y"))).cast(DoubleType).as("sxy"),
        sum(col("h1").cast(DecimalType(10, 0)) * dec2(col("y"))).cast(DoubleType).as("sh1y"),
        sum(col("h2").cast(DecimalType(10, 0)) * dec2(col("y"))).cast(DoubleType).as("sh2y"),
        max(col("x")).as("max_x"),
        max(col("s1")).as("s1"),
        max(col("s2")).as("s2"))
    changepointSolve(stats)
  }

  /** Cramer-rule solve + next-month projection over any frame carrying
    * the 14 hinge sufficient statistics — shared by the fact-scan fit
    * and the streamed-state serve. */
  private def changepointSolve(stats: DataFrame): DataFrame = {
    val doubled = stats.select(
      col("brand") +: col("n") +: col("s1") +: col("s2") +: col("max_x") +:
        (Seq("n", "sx", "sh1", "sh2", "sxx", "sxh1", "sxh2", "sh1h1", "sh1h2", "sh2h2")
          .map(c => col(c).cast(DoubleType).as(s"d_$c")) ++
          Seq("sy", "sxy", "sh1y", "sh2y").map(c => col(c).as(s"d_$c"))): _*)
    val xf = (col("max_x") + 1).cast(DoubleType)
    val solved = doubled
      .withColumn("det_a", exCol(cpDet))
      .withColumn("b0", when(col("det_a") =!= 0.0, exCol(cpNums(0)) / col("det_a")))
      .withColumn("b1", when(col("det_a") =!= 0.0, exCol(cpNums(1)) / col("det_a")))
      .withColumn("b2", when(col("det_a") =!= 0.0, exCol(cpNums(2)) / col("det_a")))
      .withColumn("b3", when(col("det_a") =!= 0.0, exCol(cpNums(3)) / col("det_a")))
    solved
      .withColumn(
        "forecast_next",
        col("b0") + col("b1") * xf +
          col("b2") * greatest(xf - col("s1").cast(DoubleType), lit(0.0)) +
          col("b3") * greatest(xf - col("s2").cast(DoubleType), lit(0.0)))
      .select(col("brand"), col("n"), col("s1"), col("s2"),
        col("b0"), col("b1"), col("b2"), col("b3"), col("forecast_next"))
  }

  val forecastChangepointOracle: String = {
    def sSql(j: Int): String =
      s"(min_x + CAST(FLOOR(CAST(max_x - min_x AS DOUBLE) * ${8.0 * j} / ${10.0 * Changepoints}) AS BIGINT))"
    def beta(i: Int): String =
      s"CASE WHEN ${exSql(cpDet)} <> 0.0 THEN (${exSql(cpNums(i))} / ${exSql(cpDet)}) ELSE NULL END"
    s"""WITH base AS (
       |  SELECT p_brand AS brand,
       |    (CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) - 1995) * 12
       |      + CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) - 1 AS x,
       |    l_extendedprice AS y
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |), rng AS (
       |  SELECT brand AS rb, MIN(x) AS min_x, MAX(x) AS max_x FROM base GROUP BY brand
       |), feat AS (
       |  SELECT brand, x, y, s1, s2,
       |    GREATEST(x - s1, 0) AS h1, GREATEST(x - s2, 0) AS h2
       |  FROM (
       |    SELECT brand, x, y, ${sSql(1)} AS s1, ${sSql(2)} AS s2
       |    FROM base JOIN rng ON brand = rb
       |  )
       |), stats AS (
       |  SELECT brand, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(h1) AS BIGINT) AS sh1,
       |    CAST(SUM(h2) AS BIGINT) AS sh2,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(x * h1) AS BIGINT) AS sxh1,
       |    CAST(SUM(x * h2) AS BIGINT) AS sxh2,
       |    CAST(SUM(h1 * h1) AS BIGINT) AS sh1h1,
       |    CAST(SUM(h1 * h2) AS BIGINT) AS sh1h2,
       |    CAST(SUM(h2 * h2) AS BIGINT) AS sh2h2,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(h1 AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sh1y,
       |    CAST(SUM(CAST(h2 AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sh2y,
       |    CAST(MAX(x) AS BIGINT) AS max_x,
       |    CAST(MAX(s1) AS BIGINT) AS s1,
       |    CAST(MAX(s2) AS BIGINT) AS s2
       |  FROM feat GROUP BY brand
       |), d AS (
       |  SELECT brand, n, s1, s2, max_x,
       |    CAST(n AS DOUBLE) AS d_n, CAST(sx AS DOUBLE) AS d_sx,
       |    CAST(sh1 AS DOUBLE) AS d_sh1, CAST(sh2 AS DOUBLE) AS d_sh2,
       |    CAST(sxx AS DOUBLE) AS d_sxx, CAST(sxh1 AS DOUBLE) AS d_sxh1,
       |    CAST(sxh2 AS DOUBLE) AS d_sxh2, CAST(sh1h1 AS DOUBLE) AS d_sh1h1,
       |    CAST(sh1h2 AS DOUBLE) AS d_sh1h2, CAST(sh2h2 AS DOUBLE) AS d_sh2h2,
       |    sy AS d_sy, sxy AS d_sxy, sh1y AS d_sh1y, sh2y AS d_sh2y
       |  FROM stats
       |), solved AS (
       |  SELECT brand, n, s1, s2, max_x,
       |    ${beta(0)} AS b0, ${beta(1)} AS b1, ${beta(2)} AS b2, ${beta(3)} AS b3
       |  FROM d
       |)
       |SELECT brand, n, s1, s2, b0, b1, b2, b3,
       |  b0 + b1 * CAST(max_x + 1 AS DOUBLE)
       |    + b2 * GREATEST(CAST(max_x + 1 AS DOUBLE) - CAST(s1 AS DOUBLE), 0.0)
       |    + b3 * GREATEST(CAST(max_x + 1 AS DOUBLE) - CAST(s2 AS DOUBLE), 0.0) AS forecast_next
       |FROM solved""".stripMargin
  }

  val seasonalForecastOracle: String =
    """WITH base AS (
      |  SELECT p_brand AS brand,
      |    (CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) - 1995) * 12
      |      + CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) - 1 AS x,
      |    CAST(EXTRACT(month FROM l_shipdate) AS INT) AS m,
      |    l_extendedprice AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), stats AS (
      |  SELECT brand, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(MAX(x) AS BIGINT) AS max_x
      |  FROM base GROUP BY brand
      |), trend AS (
      |  SELECT brand, slope,
      |    (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
      |    sy / CAST(n AS DOUBLE) AS mean_all,
      |    max_x
      |  FROM (
      |    SELECT brand, n, sx, sy, max_x,
      |      CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |      THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      ELSE NULL END AS slope
      |    FROM stats
      |  )
      |), monthly AS (
      |  SELECT brand AS mb, m AS month,
      |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_month
      |  FROM base GROUP BY brand, m
      |)
      |SELECT brand, month,
      |  mean_month - mean_all AS seasonal_idx,
      |  intercept + slope * CAST((CAST(FLOOR((max_x + 12) / 12) AS BIGINT) * 12) + month - 1 AS DOUBLE)
      |    + (mean_month - mean_all) AS forecast
      |FROM monthly JOIN trend ON mb = brand""".stripMargin
}
