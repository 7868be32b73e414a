package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Table I/O (SURVEY.md §1.3): the engine targets an Iceberg table of pages
 * per BASELINE.json input_hint, but the build ships no Iceberg runtime.
 * This is the Iceberg-shaped layout in plain parquet —
 * Hive-style day-partitioned parquet with `date=YYYY-MM-DD/` directories,
 * so `date(warc_ts)` predicates prune partitions exactly as an Iceberg
 * partition spec on days would. A real catalog would replace these four
 * calls with `spark.read.table` / `writeTo(...).append`.
 */
object ParquetTableIO {

  def readPages(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Writes pages partitioned by `date(warc_ts)` so day predicates prune. */
  def writePages(df: DataFrame, path: String): Unit = {
    val withDate =
      if (df.columns.contains("date")) df
      else df.withColumn("date", to_date(col("warc_ts")))
    withDate.write.mode(SaveMode.Overwrite).partitionBy("date").parquet(path)
  }

  def readState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Sketch state partitioned by date — per-day magnitude queries read one
    * partition; cross-day merges still prune to the dates involved. */
  def writeState(df: DataFrame, path: String, overwrite: Boolean = true): Unit =
    df.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .partitionBy("date")
      .parquet(path)
}
