package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** As-of (most-recent-prior) join — an operator Spark has no native form
  * of. Semantics: attach to every fact row the latest reference-series
  * value whose effective time is <= the fact's time, per key.
  *
  * Reference analogue: `dbt/models/analytics/fact_transaction.sql` joins
  * transactions to monthly fx rates on exact (year, month); the as-of
  * form is what that becomes when rates update irregularly (the
  * reference's currency API delivers sparse updates).
  *
  * Implementation is the scalable union+window pattern, NOT a range join:
  * tag rate rows and fact rows, union them, and run ONE window pass per
  * key ordered by (time, rate-first) carrying `last(rate ignoring nulls)`
  * forward. Cost is a single hash shuffle on the key plus a per-key sort —
  * no quadratic candidate pairs, no broadcast of the fact side, and skew
  * is bounded by per-key series length. A naive `fact JOIN rates ON key
  * AND r.t <= f.t` + max-by explodes O(facts x rates/key) and is exactly
  * what this operator avoids at 100 TB.
  */
object AsOf {

  /** Generic as-of: left rows get `valueCol`'s latest value from `right`
    * with right.timeCol <= left.timeCol, matched on `keyCol`. */
  def asofJoin(
      facts: DataFrame,
      rates: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String): DataFrame = {
    val f = facts.withColumn("_is_rate", lit(0)).withColumn(valueCol, lit(null).cast(DoubleType))
    val r = rates
      .select(col(keyCol), col(timeCol), col(valueCol))
      .withColumn("_is_rate", lit(1))
    val unioned = f.select(
      (f.columns.filterNot(c => c == "_is_rate" || c == valueCol).map(col) :+
        col("_is_rate") :+ col(valueCol)): _*)
      .unionByName(r, allowMissingColumns = true)
    // rate rows sort BEFORE fact rows at the same timestamp (desc on the
    // tag), so a same-instant update is visible to same-instant facts;
    // among duplicate (key, time) rate rows the value itself is the final
    // tie-break, so `last` deterministically resolves to the MAX value
    // (fact rows carry null values and are unaffected)
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col(timeCol), col("_is_rate").desc, col(valueCol).asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_asof", last(col(valueCol), ignoreNulls = true).over(w))
      .filter(col("_is_rate") === 0)
      .drop("_is_rate", valueCol)
      .withColumnRenamed("_asof", valueCol)
  }

  /** Broadcast as-of: same semantics as [[asofJoin]] (latest
    * right.timeCol <= left.timeCol per key; max value on duplicate
    * (key, time) right rows), for the common case where the reference
    * series is DIM-SIZED (fx rates, price indices): the series collapses
    * to one sorted array per key, broadcasts, and each fact row resolves
    * its rate map-side with an array scan — the fact side never
    * shuffles or sorts, which at 100 TB removes the only fact-volume
    * stage the union+window form has. Use [[asofJoin]] when the series
    * side is itself fact-scale. (GraftProps asserts the two forms agree
    * on arbitrary inputs.) */
  def asofJoinBroadcast(
      facts: DataFrame,
      rates: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String): DataFrame = {
    // null-valued updates carry no information in either form (the
    // window's `last` ignores them); null-timed rows are dropped here by
    // contract (an update without an effective time is meaningless)
    val series = rates
      .filter(col(timeCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        col(timeCol).cast(LongType).as("_t"),
        col(valueCol).cast(DoubleType).as("_v"))))
        .as("_series"))
    // latest element with _t <= fact time via the native binary-search
    // expression (ascending (time, value) sort makes the last qualifying
    // element max-time, max-value on ties — exactly asofJoin's `last` +
    // value-ascending tie policy). log2(n) compares per fact row in one
    // codegen'd call, vs the aggregate/filter HOF composition's O(n)
    // lambda machinery.
    graft.functions.GraftFunctions.ensureRegistered(facts.sparkSession)
    val lookup = call_function(graft.functions.GraftFunctions.AsOfLookupName,
      col("_series"), col(timeCol).cast(LongType))
    facts
      .join(broadcast(series), Seq(keyCol), "left")
      .withColumn(valueCol, lookup)
      .drop("_series")
  }

  /** The fact frame [[asofRates]] attaches over (lineitem ⋈ part,
    * month-indexed) — shared by the persisted series build and the
    * per-query attach. */
  private def rateFacts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_shipdate"))
    val p = broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    li
      .join(p, col("l_partkey") === col("p_partkey"))
      .select(
        col("p_brand").as("brand"),
        ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
          .cast(LongType).as("t"),
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_extendedprice").as("price"))
  }

  private[graft] def rateSeriesServePath(dir: String): String =
    Similarity.servePath("asof_rates_series_", dir)

  /** Ensure a fresh persisted quarterly rate SERIES for `dir` (r18
    * verdict #6: q_asof_rates was the suite's largest correct graft row
    * at sf10 — 12.3 s — because the series aggregation re-scanned the
    * whole fact side on EVERY query, doubling the one fact-volume pass
    * the attach itself needs). The series is brand × quarter (dim-sized
    * by construction), so its build — one fact scan + one map-side-
    * combinable aggregate — amortizes across a corpus generation under
    * the [[ensureResolvedEnrichment]] discipline (fingerprint keyed on
    * BOTH source tables, crash-safe sidecar ordering), and every serve
    * pays only the broadcast as-of attach over a single fact scan.
    * Doubles round-trip parquet exactly and the decimal-exact mean is
    * order-independent, so the served series is bit-equal to the
    * from-scratch aggregate (spec-pinned). */
  private[graft] def ensureRateSeries(spark: SparkSession, dir: String): DataFrame = {
    val path = rateSeriesServePath(dir)
    val fp = Similarity.corpusFingerprint(spark, dir, "lineitem.parquet") * 31 +
      Similarity.corpusFingerprint(spark, dir, "part.parquet")
    ServingStore.ensure(spark, "asof-rate-series", path, fp) { gen =>
      rateFacts(spark, dir)
        .filter(pmod(col("t"), lit(3)) === 0)
        .groupBy(col("brand"), col("t"))
        .agg(meanOf(sum(dec2(col("price"))).cast(DoubleType), cnt).as("rate"))
        .coalesce(1).write.mode("overwrite").parquet(gen)
    }
  }

  /** q_asof_rates — line items priced with the latest quarterly reference
    * rate (per brand) published on-or-before their ship month. The
    * reference series is brand x quarter (dim-sized by construction), so
    * this runs the broadcast form: the fact side is never shuffled or
    * sorted, and the series itself serves from its persisted generation
    * ([[ensureRateSeries]]) — the whole per-query plan is ONE fact scan
    * with broadcast joins. */
  def asofRates(spark: SparkSession, dir: String): DataFrame = {
    val rates = ensureRateSeries(spark, dir)
    asofJoinBroadcast(rateFacts(spark, dir), rates, "brand", "t", "rate")
      .filter(col("rate").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("brand"), col("t"),
        col("price"), col("rate"),
        (col("price") / col("rate")).as("price_rel"))
  }

  /** From-scratch form of [[asofRates]] (series aggregated in-plan) —
    * the spec pins store-served == from-scratch. */
  private[graft] def asofRatesFromScratch(spark: SparkSession, dir: String): DataFrame = {
    val facts = rateFacts(spark, dir)
    val rates = facts
      .filter(pmod(col("t"), lit(3)) === 0)
      .groupBy(col("brand"), col("t"))
      .agg(meanOf(sum(dec2(col("price"))).cast(DoubleType), cnt).as("rate"))
    asofJoinBroadcast(facts, rates, "brand", "t", "rate")
      .filter(col("rate").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("brand"), col("t"),
        col("price"), col("rate"),
        (col("price") / col("rate")).as("price_rel"))
  }

  // --------------------------------------- incremental enrichment sidecar

  /** Resolve an append-only enrichment log to its CURRENT view: per
    * (key, time), the value delivered by the latest refresh wins. The
    * log is the batch twin of a cached HTTP enrichment fetcher
    * (reference: dags/raw/fetch_coordinates_and_weather.py and
    * fetch_currencies.py append each refresh's observations and
    * re-deliver corrections): refreshes only ever APPEND rows tagged
    * with a monotonically increasing refresh id, so corrections are new
    * rows, not updates — the layout an object store actually supports
    * at 100 TB. Resolution is one max_by partial aggregate (map-side
    * combinable, one shuffle of the dim-sized log). */
  def resolveEnrichment(log: DataFrame, keyCol: String, timeCol: String,
      valueCol: String, refreshCol: String = "refresh"): DataFrame =
    log.groupBy(col(keyCol), col(timeCol))
      .agg(max_by(col(valueCol), col(refreshCol)).as(valueCol))

  /** q_enrich_attach — orders enriched with a per-nation monthly price
    * indicator maintained INCREMENTALLY: an initial quarterly backfill
    * (refresh 0, computed over the half of orders with even keys — the
    * data available at first fetch) plus a later corrective refresh
    * (refresh 1) that restates every second quarter from complete data.
    * The resolved sidecar attaches as-of (latest published month <= the
    * order's month, per nation) via the broadcast form: the fact side
    * never shuffles, the sidecar is dim-sized (nation x quarter).
    *
    * Unlike [[asofRates]] the series here is a REFRESH LOG, so the query
    * exercises the full enrichment loop: append -> latest-refresh-wins
    * resolution -> as-of attach — the reference's fetch-cache-join
    * pipeline as one declarative plan. */
  /** The enriched fact frame the attach runs over (orders ⋈ customer,
    * month-indexed). Lazily checkpointed: it feeds both refresh
    * aggregates AND the final attach. */
  private[graft] def enrichFacts(spark: SparkSession, dir: String): DataFrame =
    enrichFactsPlain(spark, dir).localCheckpoint(eager = false)

  /** Same frame without the checkpoint — for single-consumer plans (the
    * store-served attach), where materializing would only add a barrier. */
  private def enrichFactsPlain(spark: SparkSession, dir: String): DataFrame = {
    val c = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey")))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(
        col("c_nationkey").as("nation"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1)
          .cast(LongType).as("t"),
        col("o_orderkey"),
        col("o_totalprice").as("price"))
  }

  /** The append-only enrichment refresh LOG (nation, t, v, refresh):
    * refresh 0 is a quarterly backfill over the initially-available
    * half of the data; refresh 1 restates every second quarter from
    * complete data. Shared by the batch query and the streaming sink's
    * spec (which streams exactly these rows, refresh-ordered). */
  private[graft] def enrichmentLog(facts: DataFrame): DataFrame = {
    val quarters = facts.filter(pmod(col("t"), lit(3)) === 0)
    val prelim = quarters
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .groupBy(col("nation"), col("t"))
      .agg(meanOf(sumd2(col("price")), cnt).as("v"))
      .withColumn("refresh", lit(0))
    val corrective = quarters
      .filter(pmod(col("t"), lit(6)) === 0)
      .groupBy(col("nation"), col("t"))
      .agg(meanOf(sumd2(col("price")), cnt).as("v"))
      .withColumn("refresh", lit(1))
    prelim.unionByName(corrective)
  }

  private[graft] def enrichServePath(dir: String): String =
    Similarity.servePath("enrich_resolved_", dir)

  /** Ensure a fresh persisted RESOLVED enrichment store for `dir` and
    * return it as a lazy read. The EnrichmentSink streaming twin already
    * maintains the resolved (nation, t, rate) view as state; this is its
    * batch serving generation (same fingerprint-keyed discipline as
    * [[Dedup.ensurePostings]], keyed on both source tables since the log
    * derives from orders ⋈ customer). The store is dim-sized (nation ×
    * quarter), so the build's fact scan + resolution shuffle amortize
    * across a corpus generation and every serve pays ONLY the map-side
    * broadcast as-of attach. Crash-safe like the posting index: the
    * fingerprint sidecar lands only after the store write commits. */
  private[graft] def ensureResolvedEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val path = enrichServePath(dir)
    val fp = Similarity.corpusFingerprint(spark, dir, "orders.parquet") * 31 +
      Similarity.corpusFingerprint(spark, dir, "customer.parquet")
    ServingStore.ensure(spark, "enrichment-resolved", path, fp) { gen =>
      resolveEnrichment(enrichmentLog(enrichFacts(spark, dir)), "nation", "t", "v")
        .withColumnRenamed("v", "rate")
        .coalesce(1).write.mode("overwrite").parquet(gen)
    }
  }

  def enrichAttach(spark: SparkSession, dir: String): DataFrame = {
    // the append-only sidecar log, resolved to latest-refresh-wins and
    // served from its persisted generation — the attach below is the
    // whole query plan: one orders scan, broadcast joins only, zero
    // fact-side shuffles
    val resolved = ensureResolvedEnrichment(spark, dir)
    asofJoinBroadcast(enrichFactsPlain(spark, dir), resolved, "nation", "t", "rate")
      .filter(col("rate").isNotNull)
      .select(col("o_orderkey"), col("nation"), col("t"), col("price"),
        col("rate"), (col("price") / col("rate")).as("price_rel"))
  }

  /** From-scratch form of [[enrichAttach]] — the spec pins store-served
    * == from-scratch resolution. */
  private[graft] def enrichAttachFromScratch(spark: SparkSession, dir: String): DataFrame = {
    val facts = enrichFacts(spark, dir)
    val resolved = resolveEnrichment(
      enrichmentLog(facts), "nation", "t", "v")
      .withColumnRenamed("v", "rate")
    asofJoinBroadcast(facts, resolved, "nation", "t", "rate")
      .filter(col("rate").isNotNull)
      .select(col("o_orderkey"), col("nation"), col("t"), col("price"),
        col("rate"), (col("price") / col("rate")).as("price_rel"))
  }

  val enrichAttachOracle: String =
    """WITH facts AS (
      |  SELECT c_nationkey AS nation,
      |    (CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) - 1995) * 12
      |      + CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) - 1 AS t,
      |    o_orderkey, o_totalprice AS price
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |), quarters AS (
      |  SELECT * FROM facts WHERE t % 3 = 0
      |), sidecar AS (
      |  SELECT nation, t, 0 AS refresh,
      |    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS v
      |  FROM quarters WHERE o_orderkey % 2 = 0 GROUP BY nation, t
      |  UNION ALL
      |  SELECT nation, t, 1 AS refresh,
      |    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS v
      |  FROM quarters WHERE t % 6 = 0 GROUP BY nation, t
      |), resolved AS (
      |  SELECT nation, t, ARG_MAX(v, refresh) AS rate
      |  FROM sidecar GROUP BY nation, t
      |)
      |SELECT f.o_orderkey, f.nation, f.t, f.price, r.rate,
      |  f.price / r.rate AS price_rel
      |FROM facts f ASOF JOIN resolved r
      |  ON f.nation = r.nation AND f.t >= r.t""".stripMargin

  val asofRatesOracle: String =
    """WITH facts AS (
      |  SELECT p_brand AS brand,
      |    (CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) - 1995) * 12
      |      + CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) - 1 AS t,
      |    l_orderkey, l_linenumber, l_extendedprice AS price
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), rates AS (
      |  SELECT brand, t,
      |    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rate
      |  FROM facts WHERE t % 3 = 0 GROUP BY brand, t
      |)
      |SELECT f.l_orderkey, f.l_linenumber, f.brand, f.t, f.price, r.rate,
      |  f.price / r.rate AS price_rel
      |FROM facts f ASOF JOIN rates r
      |  ON f.brand = r.brand AND f.t >= r.t""".stripMargin
}
