package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Output sinks. The reference persists to DuckDB tables and a flat
  * `ml_data.csv` (`dags/prophet/dag_prophet_output.py:55-60`); graft's
  * native sink is partitioned parquet laid out for downstream pruning.
  *
  * Scale notes: `partitionBy` on a low-cardinality key (year, nation,
  * source) gives partition-pruned reads for the dashboard's
  * filter-by-country/product access pattern; `maxRecordsPerFile` bounds
  * file sizes so a 1000-executor write neither creates millions of tiny
  * files nor multi-GB stragglers. Sorting within partitions clusters data
  * for parquet min/max row-group skipping on the sort key.
  */
object Sinks {

  /** Partitioned, size-bounded parquet write. */
  def writeParquet(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val sorted =
      if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*) else df
    val w = sorted.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }
}
