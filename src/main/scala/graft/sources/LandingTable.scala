package graft.sources

import graft.core.{IngestConfig, PartitionHour}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

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
  *  - `WRITE_TRUNCATE` on one decorator: dynamic partition overwrite
  *    (`spark.sql.sources.partitionOverwriteMode=dynamic`) — only the
  *    partitions present in the written frame are replaced; all others are
  *    untouched. Re-running an hour converges (idempotent), which is what
  *    makes blanket retries safe at any scale;
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
    * reference pipeline: exactly one hour). Dispatches on
    * `cfg.atomicCommit`:
    *
    *  - `true` (default): [[overwritePartitionsStaged]] — write to a hidden
    *    staging tree, then swap each partition directory into the live tree
    *    with two metadata renames. A BigQuery decorator load is job-atomic
    *    (`bigquery_interaction.py:19-20`); Spark's dynamic partition
    *    overwrite instead exposes a commit window as long as the data write
    *    (old files deleted, new files moved in one by one) during which a
    *    concurrent reader can observe a TORN partition — part old, part
    *    new, indistinguishable from valid data. Staging shrinks the window
    *    to two renames, and what remains is benign: a reader sees the old
    *    set, the new set, or a clean transient absence/error it can retry —
    *    never a silent mix. (Full reader-transparent atomicity needs a
    *    table format with a commit pointer — metastore/Iceberg-class — out
    *    of scope with no external deps.)
    *  - `false`: Spark's built-in dynamic partition overwrite, kept for
    *    object stores where directory rename is itself a copy.
    */
  def overwritePartitions(df: DataFrame, cfg: IngestConfig): Unit =
    if (cfg.atomicCommit) overwritePartitionsStaged(df, cfg)
    else overwritePartitionsDynamic(df, cfg)

  private def clustered(df: DataFrame, cfg: IngestConfig): DataFrame =
    withPartitionColumns(df, cfg.partitionField)
      .sortWithinPartitions(col(cfg.clusterField))

  /** The pre-round-3 path: built-in dynamic partition overwrite. The mode
    * is requested per write via the writer option (which overrides the
    * session conf), never by mutating the shared session conf: a
    * set/restore here raced against concurrent driver chains (u8 under
    * Overlap.par3 — a sibling chain's `finally` restored "static" while
    * this write was committing, silently wiping untouched partitions).
    */
  def overwritePartitionsDynamic(df: DataFrame, cfg: IngestConfig): Unit =
    clustered(df, cfg).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCols: _*)
      .parquet(cfg.landingPath)

  /** Stage-and-swap commit: the whole data write happens under
    * `.staging-<uuid>` (leading dot ⇒ invisible to partition discovery and
    * any hidden-file-filtering reader), then each staged partition directory
    * replaces its live counterpart via `rename(live, trash)` +
    * `rename(staged, live)` — pure metadata ops on HDFS-like filesystems.
    *
    * Failure contract: trash is the recovery copy, deleted ONLY after every
    * swap succeeded. If any swap fails (or the pool times out), every
    * partition whose old content moved aside but whose new content did not
    * land is renamed back from trash before the error propagates — the table
    * returns to its pre-commit state. If even that restore rename fails, the
    * trash directory is KEPT and its path logged/embedded in the thrown
    * error, so the displaced data is never destroyed. A hard crash between
    * the two renames likewise preserves both copies (old in `.trash-<uuid>`,
    * new in staging); re-running the hour converges because the sink is
    * idempotent.
    *
    * Reader contract during the two-rename window: a concurrent reader may
    * observe a clean transient ABSENCE of the partition (empty listing → 0
    * rows, or a file-not-found error) but never a torn mix of generations;
    * readers racing a commit should treat a 0-file read of a partition they
    * expect to exist as retryable, exactly like a read error.
    */
  def overwritePartitionsStaged(df: DataFrame, cfg: IngestConfig): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val token = java.util.UUID.randomUUID().toString
    val root = new Path(cfg.landingPath)
    val staging = new Path(root, s".staging-$token")
    val trash = new Path(root, s".trash-$token")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    clustered(df, cfg).write
      .mode("overwrite")
      .partitionBy(PartitionCols: _*)
      .parquet(staging.toString)

    val partGlob = PartitionCols.map(c => s"$c=*").mkString("/")
    var committed = false
    try {
      // every staged partition dir, deepest level only (year=*/.../hour=*);
      // swaps are independent per partition, so run them on a bounded pool —
      // an hourly backfill writing hundreds of partitions would otherwise
      // serialize hundreds of metadata round-trips on the driver
      val staged = fs.globStatus(new Path(staging, partGlob)).toSeq
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, staged.size)))
      try {
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        staged.foreach { st =>
          pool.execute { () =>
            try {
              val rel = st.getPath.toUri.getPath.stripPrefix(
                staging.toUri.getPath).stripPrefix("/")
              val live = new Path(root, rel)
              fs.mkdirs(live.getParent)
              if (fs.exists(live)) {
                val aside = new Path(trash, rel)
                fs.mkdirs(aside.getParent)
                if (!fs.rename(live, aside))
                  throw new java.io.IOException(
                    s"commit: rename $live -> $aside failed")
              }
              if (!fs.rename(st.getPath, live))
                throw new java.io.IOException(
                  s"commit: rename ${st.getPath} -> $live failed")
              // fatal errors too: the committing thread rethrows the first failure
            } catch { case t: Throwable => failures.add(t) }
          }
        }
        pool.shutdown()
        if (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS))
          throw new java.io.IOException(
            "commit: partition swap pool timed out after 1 hour")
        if (!failures.isEmpty) throw failures.peek()
        committed = true
      } finally pool.shutdownNow()
    } finally {
      fs.delete(staging, true)
      if (committed) {
        fs.delete(trash, true)
      } else {
        // roll back: put displaced live content back wherever the new
        // generation did not land; delete trash only if fully restored
        if (restoreFromTrash(fs, root, trash, partGlob)) fs.delete(trash, true)
        else log.error(s"commit: rollback incomplete; displaced partition " +
          s"content preserved at $trash — restore manually or re-ingest")
      }
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.commit")

  /** Best-effort rollback of a failed staged commit: for every partition
    * directory under `trash`, if its live counterpart is absent (the swap
    * displaced old content but never landed new content), rename it back.
    * A live dir that exists means the new generation committed there — the
    * trash copy is superseded. Returns true iff every entry was either
    * restored or superseded (⇒ trash is safe to delete).
    */
  private[sources] def restoreFromTrash(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, trash: org.apache.hadoop.fs.Path,
      partGlob: String): Boolean = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(trash)) return true
    val entries = Option(fs.globStatus(new Path(trash, partGlob)))
      .map(_.toSeq).getOrElse(Seq.empty)
    entries.forall { st =>
      try {
        val rel = st.getPath.toUri.getPath.stripPrefix(
          trash.toUri.getPath).stripPrefix("/")
        val live = new Path(root, rel)
        fs.exists(live) || fs.rename(st.getPath, live)
      } catch { case NonFatal(_) => false }
    }
  }

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
