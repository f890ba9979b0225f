package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Covariate statistics: exact Pearson correlation per group.
  *
  * Reference: README objective "Impact of weather variations — measure the
  * influence of seasonal weather changes on pricing" and the weather
  * covariates carried into the ML extract (`dags/prophet/
  * dag_prophet_output.py:33-34`). The harness schema's (discount,
  * quantity) pair stands in for (temperature, price).
  *
  * Built-in `corr()` aggregates doubles and is therefore not reproducible
  * across partitionings; this operator computes r from exact decimal
  * moment sums in one map-side-combined pass, then derives r in doubles
  * with the oracle's exact formula. Group count bounds the reduce side at
  * any fact scale.
  */
object Stats {

  /** q_covariate_corr — Pearson r between discount and quantity per brand. */
  def covariateCorr(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .select(col("l_partkey"), col("l_discount"), col("l_quantity"))
    val p = broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    val x = dec2(col("l_discount"))
    val y = dec2(col("l_quantity"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(
        cnt.as("n"),
        sum(x).cast(DoubleType).as("sx"),
        sum(y).cast(DoubleType).as("sy"),
        sum((x * y).cast(DecimalType(22, 4))).cast(DoubleType).as("sxy"),
        sum((x * x).cast(DecimalType(22, 4))).cast(DoubleType).as("sxx"),
        sum((y * y).cast(DecimalType(22, 4))).cast(DoubleType).as("syy"))
      .withColumn("vxx", col("n").cast(DoubleType) * col("sxx") - col("sx") * col("sx"))
      .withColumn("vyy", col("n").cast(DoubleType) * col("syy") - col("sy") * col("sy"))
      .withColumn(
        "corr_disc_qty",
        // zero-variance groups have undefined correlation -> NULL (and
        // never an ANSI divide-by-zero); guard mirrored in the oracle
        when(col("vxx") > 0 && col("vyy") > 0,
          (col("n").cast(DoubleType) * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("vxx")) * sqrt(col("vyy")))))
      .select(col("brand"), col("n"), col("corr_disc_qty"))
  }

  /** q_hdi_volatility — the reference's declared-but-unfinished objective
    * ("Relationship between HDI and price volatility — [NOT DONE YET]",
    * README.md): per-nation price volatility (sample stddev of monthly
    * mean prices) correlated with a per-nation development indicator
    * (mean customer account balance standing in for HDI). Two exact
    * aggregation levels; the final 25-row correlation is computed from
    * decimal sums so the scalar output is bit-deterministic. */
  def hdiVolatility(spark: SparkSession, dir: String): DataFrame = {
    // orders-lineitem is FACT-FACT: served from the fact layout's
    // denormalized monthly fact (r15) — the orderkey join and the
    // customer-nation attach were paid once at layout time (bucket-
    // local over the co-bucketed tables + broadcast dims; the r14 sf1
    // trial showed the per-query join cost GROWS with data), so this
    // query is a pure scan+rollup over (nationkey, ship month, price
    // partial) rows — the dbt fact_transaction discipline.
    val monthFact = StarSchema.ensureFactLayout(spark, dir).path("monthfact")
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    // Monthly revenue per nation kept DECIMAL end-to-end: never re-quantize
    // a derived double back to decimal (Spark's double->decimal cast goes
    // through the shortest string repr; DuckDB rounds the binary value —
    // they can disagree by 1 ulp of the target scale). Summing the
    // persisted per-(order, month) partials is bit-equal to the flat
    // sum (decimal addition is associative).
    val monthly = spark.read.parquet(monthFact)
      .groupBy(
        col("nationkey"),
        col("ship_yy").as("yy"),
        col("ship_mm").as("mm"))
      .agg(sum(col("price")).cast(DecimalType(18, 2)).as("m_rev"))
    val vol = monthly
      .groupBy(col("nationkey"))
      .agg(
        cnt.as("n_months"),
        sum(col("m_rev")).cast(DoubleType).as("sp"),
        // operands widened to DECIMAL(19,2): DuckDB multiplies width<=18
        // decimals in int64 (raw overflow at ~3e9 * 3e9); width 19 forces
        // int128 in both engines and the (38,4) product stays exact
        sum((col("m_rev").cast(DecimalType(19, 2)) * col("m_rev").cast(DecimalType(19, 2)))
          .cast(DecimalType(38, 4))).cast(DoubleType).as("spp"))
      .withColumn(
        "volatility",
        // single-month groups have undefined sample stddev (0/0 = NaN,
        // which floor+ANSI-cast would turn into a job failure); define
        // their volatility as 0 — mirrored in the oracle
        // greatest(..., 0): cancellation on near-constant series can give
        // a tiny negative variance; sqrt of that is NaN in Spark and a
        // hard error in DuckDB
        when(col("n_months") > 1,
          sqrt(greatest(
            (col("n_months").cast(DoubleType) * col("spp") - col("sp") * col("sp")) /
              (col("n_months").cast(DoubleType) * (col("n_months").cast(DoubleType) - lit(1.0))),
            lit(0.0))))
          .otherwise(lit(0.0)))
    val hdi = c
      .groupBy(col("c_nationkey").as("hk"))
      .agg(meanOf(sumd2(col("c_acctbal")), cnt).as("hdi_proxy"))
    // Final 25-row correlation: quantize the derived doubles with floor()
    // (exact on binary doubles, engine-portable) so the corr inputs are
    // integers and the sums stay order-independent.
    // The quantized Pearson runs in DECIMAL(38,0) (int128-class), not
    // LONG: at sf10 the per-nation quantized volatility reaches ~3e9,
    // so n*sxx and sx*sx pass 9.2e18 and a LongType multiply overflows
    // under ANSI (found by the r16 100x tier). Decimal keeps every
    // intermediate exact to 1e38 — two more data decades of headroom —
    // and the oracle mirrors it with HUGEINT, so the final
    // integer-to-double casts stay bit-identical.
    vol
      .join(hdi, col("nationkey") === col("hk"))
      .select(
        floor(col("volatility")).cast(DecimalType(19, 0)).as("qv"),
        floor(col("hdi_proxy")).cast(DecimalType(19, 0)).as("qh"))
      .agg(
        cnt.as("n_nations"),
        sum(col("qv")).as("sx"),
        sum(col("qh")).as("sy"),
        sum(col("qv") * col("qh")).as("sxy"),
        sum(col("qv") * col("qv")).as("sxx"),
        sum(col("qh") * col("qh")).as("syy"))
      .select(
        col("n_nations"),
        ((col("n_nations") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (sqrt((col("n_nations") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)) *
            sqrt((col("n_nations") * col("syy") - col("sy") * col("sy")).cast(DoubleType))))
          .as("corr_hdi_volatility"))
  }

  val hdiVolatilityOracle: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nationkey,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yy,
      |    CAST(EXTRACT(month FROM l_shipdate) AS INT) AS mm,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS m_rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  GROUP BY 1, 2, 3
      |), vol AS (
      |  SELECT nationkey,
      |    CASE WHEN n_months > 1 THEN SQRT(GREATEST((CAST(n_months AS DOUBLE) * spp - sp * sp)
      |      / (CAST(n_months AS DOUBLE) * (CAST(n_months AS DOUBLE) - 1.0)), 0.0)) ELSE 0.0 END AS volatility
      |  FROM (
      |    SELECT nationkey, COUNT(*) AS n_months,
      |      CAST(CAST(SUM(m_rev) AS VARCHAR) AS DOUBLE) AS sp,
      |      CAST(CAST(SUM(CAST(CAST(m_rev AS DECIMAL(19,2)) * CAST(m_rev AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS spp
      |    FROM monthly GROUP BY nationkey
      |  )
      |), hdi AS (
      |  SELECT c_nationkey AS hk,
      |    CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hdi_proxy
      |  FROM customer GROUP BY c_nationkey
      |), q AS (
      |  SELECT CAST(FLOOR(volatility) AS BIGINT) AS qv,
      |    CAST(FLOOR(hdi_proxy) AS BIGINT) AS qh
      |  FROM vol JOIN hdi ON nationkey = hk
      |)
      |SELECT COUNT(*) AS n_nations,
      |  CAST(CAST(COUNT(*) AS HUGEINT) * SUM(CAST(qv AS HUGEINT) * CAST(qh AS HUGEINT)) - SUM(CAST(qv AS HUGEINT)) * SUM(CAST(qh AS HUGEINT)) AS DOUBLE)
      |  / (SQRT(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(CAST(qv AS HUGEINT) * CAST(qv AS HUGEINT)) - SUM(CAST(qv AS HUGEINT)) * SUM(CAST(qv AS HUGEINT)) AS DOUBLE))
      |     * SQRT(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(CAST(qh AS HUGEINT) * CAST(qh AS HUGEINT)) - SUM(CAST(qh AS HUGEINT)) * SUM(CAST(qh AS HUGEINT)) AS DOUBLE)))
      |  AS corr_hdi_volatility
      |FROM q""".stripMargin

  val covariateCorrOracle: String =
    """SELECT brand, n,
      |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
      |        AND CAST(n AS DOUBLE) * syy - sy * sy > 0
      |  THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
      |    / (SQRT(CAST(n AS DOUBLE) * sxx - sx * sx)
      |       * SQRT(CAST(n AS DOUBLE) * syy - sy * sy))
      |  ELSE NULL END AS corr_disc_qty
      |FROM (
      |  SELECT p_brand AS brand, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(22,4))) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(22,4))) AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(22,4))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand
      |)""".stripMargin
}
