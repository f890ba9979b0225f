package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bit-deterministic aggregation helpers.
  *
  * Floating-point sums depend on partition/merge order, so a double-summing
  * plan is not reproducible across runs, partition counts, or engines. All
  * graft measures are therefore summed in DECIMAL (exact, associative — the
  * map-side partial aggregate is still used) and only *derived* quantities
  * (averages, slopes, correlations) are computed in doubles, from the exact
  * sums, with formulas kept textually identical to the DuckDB oracle SQL so
  * both engines perform the same IEEE-754 operations.
  *
  * This is also the 100 TB answer: decimal partial aggregation shuffles one
  * row per (group, column), and determinism means a re-run of a failed stage
  * cannot produce a different result (Spark task retries are safe).
  */
object Exact {
  /** Cast a nominally 2-decimal double measure to exact decimal. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Cast to exact decimal with 4-decimal scale (derived products). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Exact decimal sum surfaced as DOUBLE. Spark's Decimal.toDouble is
    * correctly rounded (BigDecimal); DuckDB's direct decimal->double
    * cast is NOT once the decimal's unscaled units exceed 2^53 (int128
    * storage path double-rounds — observed one ulp high at sf10's
    * scale-6 sum_charge, r17), so oracles for high-scale fact sums
    * convert via a VARCHAR round-trip (strtod is correctly rounded). */
  def sumd2(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact sum of a 2-decimal measure via LONG integer cents, surfaced as
    * DOUBLE — the fast path of [[sumd2]] for hot aggregations: the
    * per-row value is the same decimal-rounded cents (via [[dec2]], so
    * rounding semantics are identical), but the aggregation buffer is a
    * plain long instead of a decimal (no per-row overflow/rescale on the
    * combine path). Bit-equal to [[sumd2]]: while total cents stay below
    * 2^53 the long casts to double exactly, and the final /100.0 is the
    * same correctly-rounded division DuckDB performs scaling its exact
    * decimal sum. Valid while a GROUP's total stays under 2^53 cents
    * (~$90 trillion) — use [[sumd2]] where a fact-scale global sum could
    * exceed that. */
  def sumCents2(c: Column): Column =
    sum((dec2(c) * lit(100)).cast(LongType)).cast(DoubleType) / lit(100.0)

  /** count(*) as BIGINT (Spark's native count type; oracle casts to match). */
  def cnt: Column = count(lit(1))

  /** Derived mean from an exact sum and a count. */
  def meanOf(sumDouble: Column, n: Column): Column =
    sumDouble / n.cast(DoubleType)
}
