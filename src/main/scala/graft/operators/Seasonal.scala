package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seasonal and trend analytics over the price fact.
  *
  * Reference: README objective "Identify seasonal pricing patterns";
  * `server/forecast_utils.py:prepare_prophet_data` (per-group monthly
  * series with a constructed first-of-month date) and the dashboard's
  * trend smoothing.
  *
  * Scale notes: all three operators serve from the forecast family's
  * persisted per-(brand, month) state ([[Forecast.ensureDayStats]]), of
  * (group x month) cardinality and maintained per ingest instead of
  * re-aggregated per read; the window pass runs on it, partitioned by
  * group key (never a global window). Monthly sums stay DECIMAL through
  * the window frame so the moving average is bit-deterministic (window
  * segment-tree combine order cannot change an exact sum).
  */
object Seasonal {

  /** Meteorological season from a month number. */
  def season(m: Column): Column =
    when(m.isin(12, 1, 2), "winter")
      .when(m.isin(3, 4, 5), "spring")
      .when(m.isin(6, 7, 8), "summer")
      .otherwise("autumn")

  private def withBrand(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_shipdate"))
    val p = broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    li.join(p, col("l_partkey") === col("p_partkey"))
  }

  /** q_seasonal_agg — average price per (brand, season). Serves from the
    * forecast family's persisted per-month state ([[Forecast.monthFrame]]):
    * the decimal sums regroup associatively, so the served doubles cast
    * from the same exact totals a fact scan aggregates (spec-pinned
    * against [[seasonalAggScratch]]). */
  def seasonalAgg(spark: SparkSession, dir: String): DataFrame =
    Forecast.monthFrame(spark, dir)
      .groupBy(col("brand"), season(monthOf(col("x"))).as("season"))
      .agg(
        meanOf(sum(col("syx_dec")).cast(DoubleType), sum(col("n_x"))).as("avg_price"),
        sum(col("n_x")).as("n_obs"))

  /** Calendar year and month of a month index (months since 1995-01). */
  private def yearOf(x: Column): Column = (floor(x / 12) + 1995).cast(IntegerType)
  private def monthOf(x: Column): Column = (pmod(x, lit(12L)) + 1).cast(IntegerType)

  private[graft] def seasonalAggScratch(spark: SparkSession, dir: String): DataFrame =
    withBrand(spark, dir)
      .groupBy(col("p_brand").as("brand"), season(month(col("l_shipdate"))).as("season"))
      .agg(
        meanOf(sumd2(col("l_extendedprice")), cnt).as("avg_price"),
        cnt.as("n_obs"))

  val seasonalAggOracle: String =
    """SELECT p_brand AS brand,
      |  CASE WHEN EXTRACT(month FROM l_shipdate) IN (12,1,2) THEN 'winter'
      |    WHEN EXTRACT(month FROM l_shipdate) IN (3,4,5) THEN 'spring'
      |    WHEN EXTRACT(month FROM l_shipdate) IN (6,7,8) THEN 'summer'
      |    ELSE 'autumn' END AS season,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
      |  COUNT(*) AS n_obs
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1, 2""".stripMargin

  /** q_monthly_trend — per-brand monthly series with constructed_date
    * (the Prophet training frame, forecast_utils.py:25-29): one row of
    * the persisted month state per (brand, month), no regrouping. */
  def monthlyTrend(spark: SparkSession, dir: String): DataFrame =
    Forecast.monthFrame(spark, dir)
      .select(col("brand"), yearOf(col("x")).as("year"), monthOf(col("x")).as("month"),
        meanOf(col("syx_dec").cast(DoubleType), col("n_x")).as("avg_price"),
        col("n_x").as("n_obs"))
      .withColumn("constructed_date", make_date(col("year"), col("month"), lit(1)))
      .select(col("brand"), col("year"), col("month"), col("constructed_date"), col("avg_price"), col("n_obs"))

  private[graft] def monthlyTrendScratch(spark: SparkSession, dir: String): DataFrame =
    withBrand(spark, dir)
      .groupBy(
        col("p_brand").as("brand"),
        year(col("l_shipdate")).as("year"),
        month(col("l_shipdate")).as("month"))
      .agg(
        meanOf(sumd2(col("l_extendedprice")), cnt).as("avg_price"),
        cnt.as("n_obs"))
      .withColumn("constructed_date", make_date(col("year"), col("month"), lit(1)))
      .select(col("brand"), col("year"), col("month"), col("constructed_date"), col("avg_price"), col("n_obs"))

  val monthlyTrendOracle: String =
    """SELECT brand, year, month, MAKE_DATE(year, month, 1) AS constructed_date, avg_price, n_obs
      |FROM (
      |  SELECT p_brand AS brand,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INT) AS year,
      |    CAST(EXTRACT(month FROM l_shipdate) AS INT) AS month,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
      |    COUNT(*) AS n_obs
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  /** q_moving_avg — 3-month moving average price per brand. The moving
    * mean is (windowed decimal sum of prices) / (windowed count), NOT an
    * average of averages — exact, and weight-correct across months. */
  def movingAvg(spark: SparkSession, dir: String): DataFrame =
    movingAvgOverMonthly(Forecast.monthFrame(spark, dir)
      .select(col("brand"), yearOf(col("x")).as("year"), monthOf(col("x")).as("month"),
        col("syx_dec").as("sum_price"), col("n_x").as("n_obs")))

  private[graft] def movingAvgScratch(spark: SparkSession, dir: String): DataFrame =
    movingAvgOverMonthly(withBrand(spark, dir)
      .groupBy(
        col("p_brand").as("brand"),
        year(col("l_shipdate")).as("year"),
        month(col("l_shipdate")).as("month"))
      .agg(
        sum(dec2(col("l_extendedprice"))).cast(DecimalType(28, 2)).as("sum_price"),
        cnt.as("n_obs")))

  private def movingAvgOverMonthly(monthly: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("brand"))
      .orderBy(col("year"), col("month"))
      .rowsBetween(-2, Window.currentRow)
    monthly
      .withColumn("mov_sum", sum(col("sum_price")).over(w).cast(DecimalType(38, 2)))
      .withColumn("mov_n", sum(col("n_obs")).over(w))
      .select(
        col("brand"),
        col("year"),
        col("month"),
        (col("sum_price").cast(DoubleType) / col("n_obs").cast(DoubleType)).as("avg_price"),
        (col("mov_sum").cast(DoubleType) / col("mov_n").cast(DoubleType)).as("mov_avg_3m"))
  }

  val movingAvgOracle: String =
    """SELECT brand, year, month,
      |  CAST(sum_price AS DOUBLE) / CAST(n_obs AS DOUBLE) AS avg_price,
      |  CAST(CAST(SUM(sum_price) OVER w AS DECIMAL(38,2)) AS DOUBLE)
      |    / CAST(SUM(n_obs) OVER w AS DOUBLE) AS mov_avg_3m
      |FROM (
      |  SELECT p_brand AS brand,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INT) AS year,
      |    CAST(EXTRACT(month FROM l_shipdate) AS INT) AS month,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sum_price,
      |    COUNT(*) AS n_obs
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2, 3
      |)
      |WINDOW w AS (PARTITION BY brand ORDER BY year, month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin
}
