package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet loaders for the harness tables (TPC-H-ish star schema plus an
  * event stream and an LLM corpus). All operators read through here so that
  * column pruning / filter pushdown reach the parquet scans (the loaders
  * return lazy plans; nothing is cached).
  *
  * Mapping to the reference's data model (see SURVEY.md §3): `lineitem` and
  * `orders` stand in for the WFP price observations, `part` for commodities,
  * `supplier` for markets, `nation`/`region` for localities/countries,
  * `events` for the enrichment-API cadence, and `documents`/`embeddings` for
  * the added LLM-pipeline corpus.
  */
object Tables {
  /** Lazy-plan memoization per (session, dir, table): repeated loads of
    * the same table skip re-listing files and re-reading parquet footers
    * (a fixed ~50-100ms tax per query in a many-query session). Entries
    * are plans, not data — nothing is cached executor-side. Keyed WEAKLY
    * on the session object itself, so stopped sessions (and their plans)
    * are collectable and cannot collide with later sessions.
    *
    * Each entry keeps the [[listingStamp]] of the table's files taken
    * BEFORE its read: a load whose stamp still matches returns the same
    * DataFrame, any landed, deleted or rewritten file re-reads. A plan
    * pinned to an old listing is therefore never handed out, so no
    * writer has to drop plans after changing a table. A path the
    * listing cannot see ([[NoStamp]]) is read fresh and never memoized. */
  private val plans = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), (Long, DataFrame)]]())

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = listingStamp(Seq(new java.io.File(path)).filter(_.exists))
    if (stamp == NoStamp) spark.read.parquet(path)
    else {
      val perSession = plans.synchronized {
        var m = plans.get(spark)
        if (m == null) {
          m = scala.collection.concurrent.TrieMap.empty[(String, String), (Long, DataFrame)]
          plans.put(spark, m)
        }
        m
      }
      perSession.get((dir, name)) match {
        case Some((s, df)) if s == stamp => df
        case _ =>
          val df = spark.read.parquet(path)
          perSession.put((dir, name), (stamp, df))
          df
      }
    }
  }

  /** Stamp sentinel: the listing saw no file, so a change is invisible
    * to the stamp — never memoize under it. */
  private[graft] val NoStamp = Long.MinValue

  /** Fold (name, length, nanosecond mtime) over `entries` and every
    * file and directory beneath them, plus the total entry count — one
    * driver-side listing, the levels the scan planner reads. Nanosecond
    * mtimes (where the filesystem stores them) close the
    * same-name/same-length in-place overwrite within one millisecond
    * tick; the entry count closes deletions that a pure fold over
    * survivors could alias. [[NoStamp]] when `entries` is empty. */
  private[graft] def listingStamp(entries: Seq[java.io.File]): Long = {
    var n = 0L
    def fold(h0: Long, f: java.io.File): Long = {
      n += 1
      val mtime =
        try java.nio.file.Files
          .getLastModifiedTime(f.toPath)
          .to(java.util.concurrent.TimeUnit.NANOSECONDS)
        catch { case _: java.io.IOException => f.lastModified() }
      val h = ((h0 * 31 + f.getName.hashCode) * 31 + f.length()) * 31 + mtime
      if (f.isDirectory) {
        val c = f.listFiles()
        if (c == null) h else c.sortBy(_.getName).foldLeft(h)(fold)
      } else h
    }
    if (entries.isEmpty) NoStamp
    else {
      val h = entries.foldLeft(1125899906842597L)(fold)
      val stamped = h * 31 + n
      if (stamped == NoStamp) stamped + 1 else stamped
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  /** `events.ts` is normalized to a LONG of epoch NANOSECONDS whatever the
    * generator wrote, so every downstream operator keeps exact integer time
    * arithmetic (`DIV`/`pmod` bucketing) that agrees bitwise with the
    * DuckDB oracles' `epoch_ms(ts)`:
    *  - TIMESTAMP(NANOS) parquet (early generations): unmappable to Spark's
    *    microsecond TimestampType, so read the raw INT64 via the legacy
    *    nanos-as-long flag — already epoch nanos.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current generations):
    *    arrives as TIMESTAMP_NTZ; the session timezone is pinned UTC
    *    (GraftSession), so casting to TimestampType reads the naive stamp
    *    as the same UTC instant DuckDB assumes, then `unix_micros * 1000`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(df("ts")) * 1000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            df("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected LONG nanos or a parquet timestamp")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
