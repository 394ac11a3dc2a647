package graft.sources

import graft.core.{IngestConfig, PartitionHour}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S2 + S3 — the hour-partitioned, clustered landing table and its
  * truncate-and-replace partition sink (SURVEY §2.1 S2/S3).
  *
  * Reference semantics: one BigQuery table partitioned by
  * `TIMESTAMP_TRUNC(field, HOUR)` and clustered
  * (`/root/reference/bq_create_table_ddl.sql:1-13`); every load targets a
  * single `table$YYYYMMDDHH` decorator with `WRITE_TRUNCATE`, replacing
  * exactly that hour idempotently (`tasks.py:24-25`,
  * `bigquery_interaction.py:18-20`, `README.md:34-39`).
  *
  * Spark-native mapping:
  *  - physical layout: parquet hive-partitioned on derived columns
  *    `year/month/day/hour` from `date_trunc("hour", partitionField)` — so the
  *    landing tree mirrors the raw tree and partition pruning is free for any
  *    reader filtering on those columns;
  *  - `WRITE_TRUNCATE` on one decorator: one staged swap
  *    ([[PartitionSwap]]) — only the partitions present in the written
  *    frame are replaced, each old-or-new for a concurrent reader; all
  *    others are untouched. Re-running an hour converges (idempotent),
  *    which is what makes blanket retries safe at any scale;
  *  - `CLUSTER BY field`: `sortWithinPartitions(field)` before the write.
  *    Parquet then lays rows out sorted and row-group min/max stats give
  *    BigQuery-cluster-like data skipping to downstream scans. This is a
  *    *local* sort per output task — no shuffle, no range exchange.
  *
  * Scale notes: an hourly ingest writes exactly one partition directory; the
  * write is embarrassingly parallel per input split and shuffle-free end to
  * end (scan -> derive partition cols -> local sort -> write). At 100 TB/day
  * that remains one independent job per hour with no cross-hour coordination.
  */
object LandingTable {

  /** Derived physical partition columns, zero-padded to match the hive path
    * codec (`year=%Y/month=%m/day=%d/hour=%H`, `partition.py:4`). Derived from
    * the record's partition field exactly like BigQuery's
    * `TIMESTAMP_TRUNC(field, HOUR)`.
    */
  val PartitionCols: Seq[String] = Seq("year", "month", "day", "hour")

  private def derivedPartitionCols(partitionField: String): Seq[(String, Column)] = {
    val ts = date_trunc("hour", col(partitionField))
    Seq(
      "year"  -> date_format(ts, "yyyy"),
      "month" -> date_format(ts, "MM"),
      "day"   -> date_format(ts, "dd"),
      "hour"  -> date_format(ts, "HH"))
  }

  /** Append the derived year/month/day/hour columns to a record frame. */
  def withPartitionColumns(df: DataFrame, partitionField: String): DataFrame =
    derivedPartitionCols(partitionField).foldLeft(df) {
      case (d, (name, c)) => d.withColumn(name, c)
    }

  /** Truncate-and-replace exactly the partitions present in `df` (for the
    * reference pipeline: exactly one hour) through the one staged swap,
    * [[PartitionSwap.overwrite]].
    */
  def overwritePartitions(df: DataFrame, cfg: IngestConfig): Unit =
    PartitionSwap.overwrite(clustered(df, cfg), cfg.landingPath, PartitionCols)

  private[sources] def clustered(df: DataFrame, cfg: IngestConfig): DataFrame =
    withPartitionColumns(df, cfg.partitionField)
      .sortWithinPartitions(col(cfg.clusterField))

  /** Read the landing table with partition discovery (year/month/day/hour
    * surface as string columns; filters on them prune directories before any
    * file is opened).
    */
  def read(spark: SparkSession, cfg: IngestConfig): DataFrame =
    spark.read.option("basePath", cfg.landingPath).parquet(cfg.landingPath)

  /** Read one partition-hour of the landing table by direct path — prunes by
    * construction, zero listing elsewhere (the read-side mirror of the
    * reference's decorator addressing).
    */
  def readPartition(spark: SparkSession, cfg: IngestConfig, hour: PartitionHour): DataFrame = {
    val dir = graft.core.PartitionCodec.toDir(cfg.landingPath, hour)
    spark.read.option("basePath", cfg.landingPath).parquet(dir)
  }
}
