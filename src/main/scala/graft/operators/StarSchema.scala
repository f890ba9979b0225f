package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema construction and consumption: dimension extraction with
  * surrogate keys, dedup-with-merge, calendar dims, the fact build, and the
  * denormalized ML extract.
  *
  * Reference: `dbt/models/staging/stg_countries.sql`, `stg_commodities.sql`,
  * `dbt/models/analytics/dim_date.sql`, `fact_transaction.sql`, and the ML
  * extract in `dags/prophet/dag_prophet_output.py:16-47`.
  *
  * Scale notes: surrogate keys via a global `row_number()` window are used
  * ONLY on dimension-cardinality inputs (distinct names — thousands of rows
  * at 100 TB fact scale); a fact-scale id would use a content hash instead,
  * never a global sort. All dims are broadcast into the fact joins, so the
  * fact table is never shuffled for a join — only for its own final rollup.
  */
object StarSchema {

  /** Country-name style text canonicalization (stg_countries.sql:4-12):
    * the reference's special-case renames FIRST ('Iran (Islamic Republic
    * of)'→'Iran', 'State of Palestine'→'Palestine'), then the regex
    * scrub — strip non [a-zA-Z0-9 space ' - ( )], collapse whitespace,
    * trim. */
  def canonName(c: Column): Column =
    when(c === "Iran (Islamic Republic of)", lit("Iran"))
      .when(c === "State of Palestine", lit("Palestine"))
      .otherwise(trim(regexp_replace(regexp_replace(c, "[^a-zA-Z0-9 '()-]", ""), "\\s+", " ")))

  /** The oracle-side SQL of [[canonName]] over a column expression. */
  private def canonSql(col: String): String =
    s"""CASE WHEN $col = 'Iran (Islamic Republic of)' THEN 'Iran'
       |    WHEN $col = 'State of Palestine' THEN 'Palestine'
       |    ELSE TRIM(REGEXP_REPLACE(REGEXP_REPLACE($col, '[^a-zA-Z0-9 ''()-]', '', 'g'), '\\s+', ' ', 'g')) END""".stripMargin

  /** q_dim_build — locality dim from nation x region with row_number
    * surrogate ids, like stg_commodities/dim_* DISTINCT+ROW_NUMBER. */
  def dimBuild(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(canonName(col("n_name")).as("name"), col("r_name").as("region_name"))
      .distinct()
      // rows are distinct on (name, region_name): canonicalization can
      // collide two raw names, so region_name joins the ordering to keep
      // id assignment deterministic
      .withColumn("id",
        row_number().over(Window.orderBy(col("name"), col("region_name"))).cast(LongType))
      .select(col("id"), col("name"), col("region_name"))
  }

  val dimBuildOracle: String =
    s"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY name, region_name) AS BIGINT) AS id, name, region_name
       |FROM (
       |  SELECT DISTINCT
       |    ${canonSql("n_name")} AS name,
       |    r_name AS region_name
       |  FROM nation JOIN region ON n_regionkey = r_regionkey
       |)""".stripMargin

  /** q_dedup_merge — dedup with attribute merge (stg_countries.sql:35-43):
    * nations seen via customers and via suppliers, canonicalized then
    * merged — int flags via MAX(flag), and a nullable STRING attribute
    * via MAX(iso3) exactly like the reference's `MAX(iso3)` (the customer
    * side carries a derived iso3 code, the supplier side contributes
    * NULL, mirroring the hdi-vs-wfp asymmetry). */
  def dedupMerge(spark: SparkSession, dir: String): DataFrame = {
    val n = broadcast(Tables.nation(spark, dir))
    val cust = Tables
      .customer(spark, dir)
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(canonName(col("n_name")).as("name"),
        upper(substring(col("n_name"), 1, 3)).as("iso3"),
        lit(1).as("has_cust"), lit(0).as("has_supp"))
      .distinct()
    val supp = Tables
      .supplier(spark, dir)
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(canonName(col("n_name")).as("name"),
        lit(null).cast(StringType).as("iso3"),
        lit(0).as("has_cust"), lit(1).as("has_supp"))
      .distinct()
    cust
      .unionAll(supp)
      .groupBy(col("name"))
      .agg(max(col("iso3")).as("iso3"),
        max(col("has_cust")).as("has_cust"), max(col("has_supp")).as("has_supp"))
      .withColumn("id", row_number().over(Window.orderBy(col("name"))).cast(LongType))
      .select(col("id"), col("name"), col("iso3"), col("has_cust"), col("has_supp"))
  }

  val dedupMergeOracle: String =
    s"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY name) AS BIGINT) AS id, name, iso3, has_cust, has_supp
       |FROM (
       |  SELECT name, MAX(iso3) AS iso3, MAX(has_cust) AS has_cust, MAX(has_supp) AS has_supp
       |  FROM (
       |    SELECT DISTINCT ${canonSql("n_name")} AS name,
       |      UPPER(SUBSTRING(n_name, 1, 3)) AS iso3, 1 AS has_cust, 0 AS has_supp
       |    FROM customer JOIN nation ON c_nationkey = n_nationkey
       |    UNION ALL
       |    SELECT DISTINCT ${canonSql("n_name")} AS name,
       |      CAST(NULL AS VARCHAR) AS iso3, 0 AS has_cust, 1 AS has_supp
       |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |  ) GROUP BY name
       |)""".stripMargin

  /** q_date_dim — year x month calendar grid (dim_date.sql): distinct years
    * cross-joined with distinct months, row_number id ordered by (y, m). */
  def dateDim(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val years = o.select(year(col("o_orderdate")).as("year")).distinct()
    val months = o.select(month(col("o_orderdate")).as("month")).distinct()
    years
      .crossJoin(broadcast(months))
      .withColumn(
        "id",
        row_number().over(Window.orderBy(col("year"), col("month"))).cast(LongType))
      .select(col("id"), col("year"), col("month"))
  }

  val dateDimOracle: String =
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY year, month) AS BIGINT) AS id, year, month
      |FROM (SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year FROM orders)
      |CROSS JOIN (SELECT DISTINCT CAST(EXTRACT(month FROM o_orderdate) AS INT) AS month FROM orders)""".stripMargin

  /** q_star_join — the fact build + rollup (fact_transaction.sql): lineitem
    * against orders, customer, nation, region; revenue per (region, year).
    * nation/region broadcast; customer->orders and orders->lineitem are the
    * only key joins, handled by AQE (broadcast at test SF, sort-merge with
    * skew handling at cluster scale). */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(18, 2))
    // pre-aggregate the fact stream on its join key BEFORE the
    // fact-fact join (r14, the sf1 pair's worst offender): the map-side
    // partial collapses the ~4 lineitem rows per order into one
    // (orderkey, revenue partial, count) row, so the orderkey exchange
    // ships a quarter of the rows and the join probes orders-many rows,
    // not lineitem-many. Decimal partials are associative — the final
    // sum-of-partials is bit-equal to the flat sum (oracle parity).
    val liAgg = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"),
        dec4(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))).as("rev"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("rev")).as("rev"), cnt.as("n"))
    // orders-lineitem is FACT-FACT: at warehouse scale neither side
    // broadcasts (orders grows with the corpus — the 64 MB session
    // threshold was quietly turning this into a driver-built 1.5M-key
    // hashed relation at sf1, the measured 5x row). A SHUFFLED hash
    // join keyed on the orderkey reuses the pre-aggregation's hash
    // partitioning on the lineitem side — one orders-side exchange,
    // no sort, and the same plan shape a 1000-executor run wants.
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .hint("shuffle_hash")
    // conformed-dim flattening: the customer->nation->region snowflake
    // joins INSIDE one broadcast build (customer-cardinality, region
    // name attached), so the fact probes ONE bundled dim instead of
    // three chained broadcasts — at toy scale that is 2 fewer
    // broadcast-build jobs (the star row's measured constant), at
    // cluster scale 2 fewer BroadcastExchanges shipped to executors
    val dim = broadcast(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name")))
    liAgg.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name").as("region_name"), year(col("o_orderdate")).as("order_year"))
      .agg(
        sum(col("rev")).cast(DoubleType).as("revenue"),
        sum(col("n")).as("n_items"))
  }

  val starJoinOracle: String =
    """SELECT r_name AS region_name, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, CAST(EXTRACT(year FROM o_orderdate) AS INT)""".stripMargin

  /** Persist a DataFrame as a bucketed, bucket-sorted parquet table.
    * This is the 100 TB ingest-side contract: bucket the fact tables ONCE
    * on their join key and every subsequent key join between co-bucketed
    * tables (and every aggregation keyed on the bucket key) runs with NO
    * exchange and NO sort — the bucketing IS the shuffle, paid at write
    * time. `path` makes the table external so tests own the storage. */
  def writeBucketed(df: DataFrame, table: String, key: String, numBuckets: Int,
      path: String): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, key).sortBy(key)
      .option("path", path).saveAsTable(table)

  /** Bucketed-table variant of [[starJoin]]: with lineitem and orders
    * bucketed+sorted on orderkey, the fact-fact join is exchange-free and
    * sort-free (bucket-local sort-merge); dims broadcast; the ONLY
    * shuffle in the whole query is the final (region, year) rollup's.
    * PlatformSpec writes the bucketed tables and asserts exactly one
    * exchange in the physical plan, with results equal to [[starJoin]]. */
  def starJoinBucketed(spark: SparkSession, dir: String,
      liTable: String, oTable: String): DataFrame = {
    val li = spark.table(liTable)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = spark.table(oTable)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    // same conformed-dim flattening as [[starJoin]]: one bundled
    // customer->region broadcast instead of three chained ones. Inner
    // joins carry their own broadcast hints — the bucketed spec runs
    // with auto-broadcast OFF, and unhinted inner joins would shuffle
    // inside the bundle build
    val dim = broadcast(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name")))
    val one = lit(1).cast(DecimalType(18, 2))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name").as("region_name"), year(col("o_orderdate")).as("order_year"))
      .agg(
        sum(dec4(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))))
          .cast(DoubleType)
          .as("revenue"),
        cnt.as("n_items"))
  }

  // ------------------------------ persisted co-bucketed fact layout (serving)

  /** Buckets for the serving fact layout. 32 matches the local
    * harness's cores; at warehouse scale the knob scales with fact
    * volume like the posting index's ([[Dedup.PostingsBuckets]]). */
  val FactBuckets = 32

  /** Bumped on any change to the served fact tables' shape (columns,
    * partial-aggregation semantics) — the store key must see code
    * changes the file fingerprint cannot. */
  private[graft] val FactLayoutVersion = 5

  private[graft] def factServePath(dir: String): String =
    new java.io.File(Similarity.servePath("factlayout_", dir)).getAbsolutePath

  /** The fingerprint the fact layout is keyed by. Covers the DIM
    * tables too (r15 review): the denormalized facts BAKE IN region
    * names and customer nations at build time, so an in-place dim
    * rewrite (nation reassignment, region rename) must read as stale
    * and rebuild — a lineitem/orders-only fingerprint would serve the
    * old attribution with a fresh-looking stamp. `numBuckets` is part
    * of the key for the same reason: re-registering a different bucket
    * spec over existing files would make joins treat rows as
    * co-partitioned when they are not. */
  private[graft] def factFingerprint(spark: SparkSession, dir: String,
      numBuckets: Int = FactBuckets): Long =
    ((((((Similarity.corpusFingerprint(spark, dir, "lineitem.parquet") * 31 +
      Similarity.corpusFingerprint(spark, dir, "orders.parquet")) * 31 +
      Similarity.corpusFingerprint(spark, dir, "customer.parquet")) * 31 +
      Similarity.corpusFingerprint(spark, dir, "nation.parquet")) * 31 +
      Similarity.corpusFingerprint(spark, dir, "region.parquet")) * 31 +
      Similarity.corpusFingerprint(spark, dir, "part.parquet")) * 31 +
      numBuckets) * 31 + FactLayoutVersion

  /** The conformed locality dim bundle (customer -> nation -> region
    * flattened to custkey -> nation key + region name) — ONE definition
    * shared by the layout build and the delta append, which must stay
    * bit-identical for the append-equals-rebuild invariant (r15
    * review: this was copy-pasted at both sites). */
  private def conformedDim(spark: SparkSession, dir: String): DataFrame =
    broadcast(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"), col("r_name")))

  /** The transaction-grain fact's column expressions over
    * (li-slim ⨝ orders-slim ⨝ conformed dim ⨝ part-brand) — ONE
    * definition shared by the layout build and the delta append (the
    * append-equals-rebuild bit-equality invariant). `xprice` is the
    * raw parquet decimal, so the served `price` column is type- and
    * bit-identical to a direct lineitem read. */
  private def txFactCols: Seq[Column] = Seq(
    col("l_orderkey"), col("l_linenumber"),
    make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1))
      .as("constructed_date"),
    col("p_brand").as("product_name"),
    col("n_name").as("country"),
    col("xprice").as("price"),
    (col("xprice") / (lit(1.0) + col("c_nationkey").cast(DoubleType) * lit(0.05)))
      .as("price_usd"))

  /** Stamped with every fact-layout generation: the corpus dir (the
    * serve-path name hashes it irreversibly; the janitor reads it back)
    * and the layout version, which the fingerprint also covers — an
    * append into a layout of an older table shape must refuse even
    * without a pre-delta fingerprint to compare (the FactSink repair
    * path passes none). */
  private def factMeta(dir: String): Seq[(String, String)] =
    Seq("dir" -> dir, "ver" -> FactLayoutVersion.toString)

  /** The artifacts of a fact-layout generation: the co-bucketed
    * partial tables (registered per generation as `graft_fact_<which>_`
    * tables) and the denormalized facts. */
  private def factArtifacts(dir: String, numBuckets: Int): Seq[ServingStore.Artifact] = {
    def bucketed(sub: String, key: String) = ServingStore.Artifact(sub,
      Some(ServingStore.Bucketing(ServingStore.tableBase("fact_" + sub, dir), key, numBuckets)))
    Seq(bucketed("lirev", "l_orderkey"), bucketed("limonth", "l_orderkey"),
      bucketed("orders", "o_orderkey")) ++
      Seq("fact", "monthfact", "txfact", "nationfact").map(ServingStore.Artifact(_))
  }

  /** Ensure the co-bucketed-on-orderkey FACT layout exists for `dir`
    * and is registered; returns its generation (tables `lirev`,
    * `limonth`, `orders`; paths `fact`, `monthfact`, `txfact`,
    * `nationfact`).
    *
    * The r14 sf1 trial left q_star_join as the one row that GROWS with
    * data: the per-query cost was the agg exchange + the orderkey
    * exchange + the join build, paid on every run. This layout is the
    * ingest-side answer (the reference's dbt `fact_transaction` builds
    * its fact table once per load, not per query): lineitem's
    * per-orderkey revenue partials (decimal-associative — the rollup
    * of partials is bit-equal to the flat sum) and the slim orders
    * columns are persisted bucketed AND sorted on the orderkey, so
    * every subsequent orderkey join between them is bucket-local —
    * zero exchanges, zero sorts, paid once at layout time. A
    * [[ServingStore]] generation keyed by [[factFingerprint]] and
    * stamped with [[factMeta]]. `force` rebuilds even when the
    * fingerprint matches — the streaming sink's repair path for a
    * generation whose fp covers files whose rows were never appended
    * (the SigSink landing race). */
  private[graft] def ensureFactLayout(spark: SparkSession, dir: String,
      numBuckets: Int = FactBuckets, force: Boolean = false): ServingStore.Generation =
    ServingStore.ensureGeneration(spark, "fact-layout", factServePath(dir),
        factFingerprint(spark, dir, numBuckets), factArtifacts(dir, numBuckets),
        meta = factMeta(dir), force = force) { gen =>
      // the dims too (r16 ADVICE): the rebuild BAKES region/nation
      // attribution in via conformedDim — an in-place dim rewrite (the
      // very staleness this fingerprint exists to catch) must not read
      // through a plan pinned to the old dim file listing
      Seq("lineitem", "orders", "customer", "nation", "region", "part")
        .foreach(Tables.invalidate(spark, dir, _))
      val one = lit(1).cast(DecimalType(18, 2))
      // one lineitem scan feeds both partial tables AND the
      // transaction-grain denormalized fact (r16): xprice keeps the
      // RAW parquet decimal so txfact serves ml_extract's price column
      // bit- and type-identically
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          dec4(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))).as("rev"),
          dec2(col("l_extendedprice")).as("price"),
          col("l_extendedprice").as("xprice"),
          col("l_shipdate"))
        .localCheckpoint(eager = false)
      // per-orderkey revenue partials: orders-cardinality, the star
      // rollup's probe side needs NO per-query aggregation at all.
      // Partials are cast back to width-18 decimals (exact: per-order
      // sums are far below 10^14) so parquet stores them as plain
      // INT64 columns — half the bytes and the fast vectorized-read
      // path, instead of 16-byte binary decimals
      // every write is pre-partitioned on the BUCKET key with exactly
      // numBuckets partitions: bucketBy does not shuffle, so a write
      // whose tasks each hold rows of many buckets fans out to
      // tasks x buckets files (measured: 1024 for the month partials)
      // and every later scan pays the per-file footer cost. One
      // aligned task per bucket = one file per bucket. The groupBys
      // reuse the repartition (hash on a subset of the group keys
      // satisfies the aggregation's distribution).
      ServingStore.writeBucketed(
        li.repartition(numBuckets, col("l_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(sum(col("rev")).cast(DecimalType(18, 4)).as("rev"), cnt.as("n")),
        gen, "lirev")
      // per-(orderkey, ship month) price partials: the monthly rollups'
      // (hdi volatility) probe side
      ServingStore.writeBucketed(
        li.repartition(numBuckets, col("l_orderkey"))
          .groupBy(col("l_orderkey"),
            year(col("l_shipdate")).as("ship_yy"), month(col("l_shipdate")).as("ship_mm"))
          .agg(sum(col("price")).cast(DecimalType(18, 2)).as("price")),
        gen, "limonth")
      ServingStore.writeBucketed(
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            col("o_totalprice"))
          .repartition(numBuckets, col("o_orderkey")),
        gen, "orders")
      // DENORMALIZED facts — the reference's own architecture (dbt
      // fact_transaction.sql materializes the joined fact once per
      // load; queries read the fact table). The co-bucketed tables
      // above make this build join exchange-free; the conformed dim
      // attributes (region name, customer nation) are broadcast in at
      // build time, so the serve paths are pure scan+rollup.
      // Transaction grain, not pre-aggregated: any rollup over
      // region/year (or nation/month) serves from them.
      val dim = conformedDim(spark, dir)
      spark.table(gen.table("lirev"))
        .join(spark.table(gen.table("orders")).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("r_name"), year(col("o_orderdate")).as("order_year"),
          col("rev"), col("n"))
        .repartition(numBuckets)
        .write.parquet(gen.path("fact"))
      spark.table(gen.table("limonth"))
        .join(spark.table(gen.table("orders")).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          col("ship_yy"), col("ship_mm"), col("price"))
        .repartition(numBuckets)
        .write.parquet(gen.path("monthfact"))
      // TRANSACTION-grain denormalized fact (r16, the literal dbt
      // fact_transaction shape): raw lineitem rows with the order
      // month, brand, nation and usd conversion attached — ml_extract
      // (and anything at its grain) serves as a pure scan. One
      // exchange on the raw lineitem side (its rows arrive
      // unpartitioned); the orders side is the bucketed table, the
      // dims broadcast. The part attach is the one dim that scales
      // with SF — at warehouse scale it becomes a bucket-local
      // partkey join, paid once here instead of per query.
      val partDim = broadcast(
        Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
      li.repartition(numBuckets, col("l_orderkey"))
        .join(spark.table(gen.table("orders")).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .join(partDim, col("l_partkey") === col("p_partkey"))
        .select(txFactCols: _*)
        .write.parquet(gen.path("txfact"))
      // NATION-grain order partials (r16): per-nation decimal sums of
      // o_totalprice + order counts — price_usd (order grain, no
      // lineitem dependency) serves as a 25-row-scale scan+rollup.
      // Partials are decimal-associative, so append batches just lay
      // more partial rows next to these.
      spark.table(gen.table("orders"))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("n_name"))
        .agg(sum(dec2(col("o_totalprice"))).cast(DecimalType(18, 2)).as("total_local"),
          cnt.as("n_orders"))
        .coalesce(1)
        .write.parquet(gen.path("nationfact"))
    }

  /** Incrementally maintain the fact layout after an ingest: a new
    * generation hard-linking every committed table and adding ONLY the
    * newly landed orders' partials and denormalized fact rows, stamped
    * with the post-append fingerprint — the [[Dedup.appendPostings]]
    * discipline applied to the fact tables. This is what makes the
    * layout viable at warehouse scale: a daily ingest writes bucket
    * files next to the linked ones (bucket ids live in file names, so
    * the bucket spec — and the exchange-free orderkey join — survives)
    * instead of re-scanning and re-shuffling the whole fact history.
    * The reference's dbt models are incremental for the same reason.
    *
    * PRECONDITION (the TPC-H ingest shape, probed with loud refusals):
    * the delta is ORDER-COMPLETE — every delta lineitem row belongs to
    * a delta order, and no delta orderkey is already served. An order
    * whose lineitems land across two deltas would split its revenue
    * partial into two rows per orderkey, breaking the fact's
    * one-row-per-order grain; refuse and rebuild instead.
    *
    * Call AFTER the delta files land in `dir`, passing exactly the
    * newly landed rows. `expectedFp` (snapshotted BEFORE the delta
    * landed) proves the generation matches the pre-append corpus —
    * out-of-band edits must take the full-rebuild path. A layout of an
    * older table shape ([[factMeta]]) is refused structurally. */
  def appendFactLayout(spark: SparkSession, dir: String,
      newLineitem: DataFrame, newOrders: DataFrame,
      expectedFp: Option[Long] = None,
      numBuckets: Int = FactBuckets): Unit = {
    ServingStore.deriveGeneration(spark, "fact-layout", factServePath(dir),
        factArtifacts(dir, numBuckets), carry = factArtifacts(dir, numBuckets).map(_.sub),
        meta = factMeta(dir))(
      ServingStore.landed("fact-layout", factServePath(dir), expectedFp, () => {
        // dims included (r16 ADVICE): the delta's denormalized fact
        // rows read conformedDim — which must see the CURRENT dim
        // files, not a memoized plan over the pre-delta listing
        Seq("lineitem", "orders", "customer", "nation", "region", "part")
          .foreach(Tables.invalidate(spark, dir, _))
        factFingerprint(spark, dir, numBuckets)
      })) { (prev, next) =>
      val one = lit(1).cast(DecimalType(18, 2))
      // one evaluation of each delta feeds the probes AND the writes
      val o = newOrders
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
        .localCheckpoint(eager = false)
      val li = newLineitem
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          dec4(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))).as("rev"),
          dec2(col("l_extendedprice")).as("price"),
          col("l_extendedprice").as("xprice"),
          col("l_shipdate"))
        .localCheckpoint(eager = false)
      // order-completeness probes (delta-sized broadcasts — the
      // ServingStore.append key-probe convention: checkpointed frames
      // carry no stats, so hint or the probe sort-merges the store)
      val deltaKeys = broadcast(o.select(col("o_orderkey")).distinct())
      require(li.join(deltaKeys, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .isEmpty,
        "delta lineitem rows reference orderkeys outside the delta orders — " +
          "the delta is not order-complete; rebuild with ensureFactLayout")
      if (!spark.read.parquet(prev.path("orders")).join(deltaKeys, Seq("o_orderkey")).isEmpty)
        throw new ServingStore.KeysAlreadyPresentRefusal(
          "delta orderkeys already present in the served layout — the same " +
            "rows were appended twice; rebuild with ensureFactLayout")
      // delta partials, same expressions as the build (bit-equal rollups)
      val liRev = li.repartition(numBuckets, col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("rev")).cast(DecimalType(18, 4)).as("rev"), cnt.as("n"))
        .localCheckpoint(eager = false) // feeds the bucketed append AND the fact join
      val liMonth = li.repartition(numBuckets, col("l_orderkey"))
        .groupBy(col("l_orderkey"),
          year(col("l_shipdate")).as("ship_yy"), month(col("l_shipdate")).as("ship_mm"))
        .agg(sum(col("price")).cast(DecimalType(18, 2)).as("price"))
        .localCheckpoint(eager = false)
      ServingStore.writeBucketed(liRev, next, "lirev")
      ServingStore.writeBucketed(liMonth, next, "limonth")
      ServingStore.writeBucketed(o.repartition(numBuckets, col("o_orderkey")), next, "orders")
      // denormalized fact deltas: the delta-local join (delta orders
      // broadcast against delta partials) + the conformed dims
      val dim = conformedDim(spark, dir)
      liRev.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("r_name"), year(col("o_orderdate")).as("order_year"),
          col("rev"), col("n"))
        .write.mode("append").parquet(next.path("fact"))
      liMonth.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          col("ship_yy"), col("ship_mm"), col("price"))
        .write.mode("append").parquet(next.path("monthfact"))
      // delta transaction-grain fact rows (same expressions as the build)
      val partDim = broadcast(
        Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
      li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .join(partDim, col("l_partkey") === col("p_partkey"))
        .select(txFactCols: _*)
        .write.mode("append").parquet(next.path("txfact"))
      // delta nation partials: decimal-associative, one more partial row
      // per nation lands next to the existing ones
      o.join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("n_name"))
        .agg(sum(dec2(col("o_totalprice"))).cast(DecimalType(18, 2)).as("total_local"),
          cnt.as("n_orders"))
        .coalesce(1)
        .write.mode("append").parquet(next.path("nationfact"))
    }
    ()
  }

  /** Compact the fact layout back to ONE file per bucket/partition —
    * [[Dedup.compactPostings]]'s discipline for every table: each
    * [[appendFactLayout]] lays new files next to the existing ones, and
    * after a season of daily ingests each scan opens O(appends) small
    * files (LSM read-amplification). The compacted generation has the
    * same content, bucket spec and fingerprint — queries before and
    * after are equal by construction, and readers of the previous
    * generation keep it. */
  def compactFactLayout(spark: SparkSession, dir: String,
      numBuckets: Int = FactBuckets): Unit = {
    ensureFactLayout(spark, dir, numBuckets)
    ServingStore.deriveGeneration(spark, "fact-layout", factServePath(dir),
        factArtifacts(dir, numBuckets), carry = Nil, meta = factMeta(dir))(identity) { (prev, next) =>
      factArtifacts(dir, numBuckets).foreach { a =>
        val df = spark.read.parquet(prev.path(a.sub))
        a.bucketing match {
          // Read the RAW files, not the catalog table — the bucketed
          // relation's advertised partitioning would elide the
          // one-task-per-bucket repartition (compactPostings' note)
          case Some(b) =>
            ServingStore.writeBucketed(df.repartition(numBuckets, col(b.key)), next, a.sub)
          // nationfact is a PARTIALS store: compaction is the LSM merge —
          // fold the per-append partial rows back to one row per nation
          // (decimal sums are associative, so queries are equal by
          // construction); the row-grain stores just re-pack files
          case None if a.sub == "nationfact" =>
            df.groupBy(col("c_nationkey"), col("n_name"))
              .agg(sum(col("total_local")).cast(DecimalType(18, 2)).as("total_local"),
                sum(col("n_orders")).as("n_orders"))
              .coalesce(1).write.parquet(next.path(a.sub))
          case None => df.repartition(numBuckets).write.parquet(next.path(a.sub))
        }
      }
    }
    // the corpus stamp is unchanged, so memoized prepared plans would
    // keep the previous generation — which the NEXT commit prunes
    graft.PlanCache.invalidate()
  }

  /** Fact-layout JANITOR (r15 watch item 2): a layout's paths are keyed
    * by a hash of its corpus dir, so a deleted corpus leaves an
    * orphaned layout that nothing would ever rebuild OR reclaim — at
    * warehouse scale that is unbounded dead storage. This pass walks
    * the serve root, reads each layout's sidecar-stamped corpus dir,
    * and retires layouts whose corpus no longer exists
    * ([[ServingStore.retire]]: corpus liveness re-probed under the build
    * lock, sidecar deleted first). Sidecar-less dirs are SKIPPED, not
    * deleted: an unreadable sidecar is also what a first build looks
    * like from outside, and the janitor must never race a builder
    * (those dirs resolve next pass). Returns one (layout, action) line
    * per dir — a janitor that deletes silently is how warehouses lose
    * data. */
  def pruneFactLayouts(spark: SparkSession,
      warehouse: String = "spark-warehouse"): Seq[(String, String)] = {
    val root = new java.io.File(warehouse)
    val layouts = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("factlayout_") &&
        !f.getName.endsWith("_model") && !f.getName.contains("_lock"))
      .sortBy(_.getName)
    layouts.toSeq.map { f =>
      val row =
        try Some(Similarity.readSidecarRows(spark, f.getPath + "_model")(0))
        catch { case e if scala.util.control.NonFatal(e) => None }
      row match {
        case None =>
          (f.getName, "skipped: sidecar unreadable (mid-build or unproven)")
        case Some(r) if !r.schema.fieldNames.contains("dir") =>
          (f.getName, "skipped: legacy sidecar without a corpus stamp")
        case Some(r) =>
          val dir = r.getAs[String]("dir")
          def dead = !new java.io.File(dir).exists()
          if (!dead) (f.getName, s"kept: corpus live at $dir")
          else if (ServingStore.retire(spark, f.getPath, factArtifacts(dir, FactBuckets))(dead))
            (f.getName, s"pruned: corpus gone from $dir")
          else (f.getName, "kept: corpus reappeared before the lock")
      }
    }
  }

  /** q_star_join's SERVE path: a pure scan+rollup over
    * [[ensureFactLayout]]'s denormalized transaction-grain fact — the
    * joins were paid once at layout time (bucket-local fact-fact +
    * broadcast dims, the dbt fact_transaction discipline), so the
    * plan's only exchange is the final 25-row-scale (region, year)
    * rollup (spec-pinned: zero orderkey exchanges, zero joins).
    * Identical results to the inline [[starJoin]] (same oracle — the
    * partials are decimal-associative). */
  def starJoinServed(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(ensureFactLayout(spark, dir).path("fact"))
      .groupBy(col("r_name").as("region_name"), col("order_year"))
      .agg(
        sum(col("rev")).cast(DoubleType).as("revenue"),
        sum(col("n")).as("n_items"))
  }

  /** q_ml_extract's SERVE path (r16): a pure scan of the layout's
    * transaction-grain denormalized fact — the reference's dbt
    * fact_transaction IS this table; every join (orders, customer,
    * nation, part) was paid once at layout time. Bit- and type-equal
    * to the inline [[mlExtract]] (same expressions, [[txFactCols]]). */
  def mlExtractServed(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(ensureFactLayout(spark, dir).path("txfact"))
      .select(col("l_orderkey"), col("l_linenumber"), col("constructed_date"),
        col("product_name"), col("country"), col("price"), col("price_usd"))
  }

  /** q_price_usd's SERVE path (r16): scan+rollup over the layout's
    * per-nation order partials — 25-row-scale input, zero joins; the
    * partial decimal sums regroup associatively to the flat totals, so
    * results are bit-equal to the inline [[priceUsd]]. */
  def priceUsdServed(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(ensureFactLayout(spark, dir).path("nationfact"))
      .groupBy(col("n_name").as("nation_name"),
        (lit(1.0) + col("c_nationkey").cast(DoubleType) * lit(0.05)).as("fx_rate"))
      .agg(sum(col("total_local")).cast(DoubleType).as("total_local"),
        sum(col("n_orders")).as("n_orders"))
      .withColumn("total_usd", col("total_local") / col("fx_rate"))
      .select(col("nation_name"), col("fx_rate"), col("total_local"),
        col("total_usd"), col("n_orders"))
  }

  /** q_price_usd — fx conversion via a derived rate dim
    * (dag_prophet_output.py:22-23 `price/dim_currency_value.value`). The
    * rate is aggregated-then-divided so the heavy pass stays decimal-exact. */
  def priceUsd(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val fx = broadcast(
      Tables
        .nation(spark, dir)
        .select(
          col("n_nationkey"),
          col("n_name"),
          (lit(1.0) + col("n_nationkey").cast(DoubleType) * lit(0.05)).as("fx_rate")))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(fx, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"), col("fx_rate"))
      .agg(sumd2(col("o_totalprice")).as("total_local"), cnt.as("n_orders"))
      .withColumn("total_usd", col("total_local") / col("fx_rate"))
      .select(col("nation_name"), col("fx_rate"), col("total_local"), col("total_usd"), col("n_orders"))
  }

  val priceUsdOracle: String =
    """SELECT nation_name, fx_rate, total_local, total_local / fx_rate AS total_usd, n_orders
      |FROM (
      |  SELECT n_name AS nation_name,
      |    1.0 + CAST(n_nationkey AS DOUBLE) * 0.05 AS fx_rate,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_local,
      |    COUNT(*) AS n_orders
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, 1.0 + CAST(n_nationkey AS DOUBLE) * 0.05
      |)""".stripMargin

  /** q_ml_extract — row-level denormalized extract for forecasting
    * (dag_prophet_output.py): keys, constructed_date (first of month),
    * local + usd price, dim attributes. */
  def mlExtract(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_extendedprice"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = broadcast(Tables.nation(spark, dir))
    val p = broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1))
          .as("constructed_date"),
        col("p_brand").as("product_name"),
        col("n_name").as("country"),
        col("l_extendedprice").as("price"),
        (col("l_extendedprice") / (lit(1.0) + col("c_nationkey").cast(DoubleType) * lit(0.05)))
          .as("price_usd"))
  }

  val mlExtractOracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  MAKE_DATE(CAST(EXTRACT(year FROM o_orderdate) AS INT), CAST(EXTRACT(month FROM o_orderdate) AS INT), 1) AS constructed_date,
      |  p_brand AS product_name,
      |  n_name AS country,
      |  l_extendedprice AS price,
      |  l_extendedprice / (1.0 + CAST(c_nationkey AS DOUBLE) * 0.05) AS price_usd
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN part ON l_partkey = p_partkey""".stripMargin
}
