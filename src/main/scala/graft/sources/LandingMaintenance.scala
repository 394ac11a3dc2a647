package graft.sources

import graft.core.{IngestConfig, PartitionCodec, PartitionHour}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Landing-table maintenance operators — the jobs a 100 TB landing table
  * needs around the hourly loads:
  *
  *  - **compaction**: hourly loads + retries accumulate small files per
  *    partition; small files tax every downstream scan (task-per-file,
  *    footer overhead, no row-group locality). `compactPartition` rewrites
  *    one hour into `targetFiles` clustered files, idempotently, using the
  *    same staged partition swap as the loads themselves.
  *  - **catalog registration**: expose the landing tree as a SQL table with
  *    recovered partitions so `spark.sql` queries prune on
  *    year/month/day/hour like any catalog table.
  *  - **retention**: drop partitions older than a cutoff hour — driver-side
  *    path deletes, O(partitions dropped), no job launched.
  */
object LandingMaintenance {

  /** Rewrite one partition-hour into `targetFiles` files, preserving rows
    * and the cluster-sort. Returns (filesBefore, filesAfter).
    */
  def compactPartition(spark: SparkSession, cfg: IngestConfig,
      hour: PartitionHour, targetFiles: Int = 1): (Int, Int) = {
    val dir = new Path(PartitionCodec.toDir(cfg.landingPath, hour))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Int =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).count(s => s.isFile && !s.getPath.getName.startsWith("_"))

    val before = dataFiles()
    if (before == 0) return (0, 0)
    val rows = LandingTable.readPartition(spark, cfg, hour)
      .select(cfg.schema.fieldNames.map(col): _*) // drop discovered partition cols
      .repartition(targetFiles)
    LandingTable.overwritePartitions(rows, cfg)
    (before, dataFiles())
  }

  /** Table-wide compaction PLANNER: list every partition-hour (one glob —
    * the same metadata walk any full scan pays), select those holding more
    * than `maxFiles` data files, and compact the whole selected set in ONE
    * job: the read carries a partition-tuple predicate (directories prune
    * at planning), rows re-cluster to one task per hour (one output file
    * per partition dir), and the staged swap replaces exactly the
    * fragmented directories — every other partition keeps its files
    * physically untouched (pinned in `LandingMaintenanceSpec`).
    *
    * This is [[compactPartition]] lifted from "compact the hour I name" to
    * "find and fix what fragmentation exists", the job a 100 TB landing
    * table schedules nightly: at 10^5 partitions with 1% fragmented, the
    * planner is O(partitions) driver metadata and the rewrite reads 1% of
    * the table. Returns (hour, filesBefore) per compacted partition.
    */
  def compactFragmented(spark: SparkSession, cfg: IngestConfig,
      maxFiles: Int): Seq[(PartitionHour, Int)] = {
    val root = new Path(cfg.landingPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val HourDir = raw"year=(\d{4})/month=(\d{2})/day=(\d{2})/hour=(\d{2})".r
    val glob = new Path(root, "year=*/month=*/day=*/hour=*")
    val fragmented = Option(fs.globStatus(glob)).getOrElse(Array.empty)
      .filter(_.isDirectory).toSeq.flatMap { st =>
        val rel = st.getPath.toString.stripPrefix(root.toString).stripPrefix("/")
        rel match {
          case HourDir(y, m, d, h) =>
            val n = fs.listStatus(st.getPath)
              .count(s => s.isFile && !s.getPath.getName.startsWith("_") &&
                !s.getPath.getName.startsWith("."))
            if (n > maxFiles) Some((PartitionHour(y.toInt, m.toInt, d.toInt, h.toInt), n))
            else None
          case _ => None
        }
      }
    if (fragmented.isEmpty) return Seq.empty
    val tuples = fragmented.map { case (h, _) => Seq(h.year, h.month, h.day, h.hour) }
    val rows = LandingTable.read(spark, cfg)
      .filter(MutationOps.partitionPredicate(tuples))
      .select(cfg.schema.fieldNames.map(col): _*)
      // one task per hour => one clustered file per rewritten partition
      .repartition(org.apache.spark.sql.functions.date_trunc(
        "hour", col(cfg.partitionField)))
    LandingTable.overwritePartitions(rows, cfg)
    fragmented
  }

  /** Register the landing tree as an external SQL table and recover its
    * partitions from the directory layout.
    */
  def register(spark: SparkSession, cfg: IngestConfig, tableName: String): Unit = {
    val fields = cfg.schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    spark.sql(
      s"""CREATE TABLE `$tableName` ($fields, year STRING, month STRING,
         | day STRING, hour STRING)
         |USING parquet
         |PARTITIONED BY (year, month, day, hour)
         |LOCATION '${cfg.landingPath}'""".stripMargin)
    spark.sql(s"MSCK REPAIR TABLE `$tableName`")
  }

  /** Delete all partitions strictly older than `cutoff` (exclusive).
    * Returns the dropped hours. Driver-side directory walk + delete: cost is
    * proportional to partitions dropped, never to data volume.
    */
  def expirePartitions(spark: SparkSession, cfg: IngestConfig,
      cutoff: PartitionHour): Seq[PartitionHour] = {
    val root = new Path(cfg.landingPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val HourDir = raw"year=(\d{4})/month=(\d{2})/day=(\d{2})/hour=(\d{2})".r
    val dropped = Seq.newBuilder[PartitionHour]
    // hive layout is exactly 4 levels deep; glob the hour dirs directly
    val glob = new Path(root, "year=*/month=*/day=*/hour=*")
    val stats = Option(fs.globStatus(glob)).getOrElse(Array.empty)
    stats.filter(_.isDirectory).foreach { st =>
      val rel = st.getPath.toString.stripPrefix(root.toString).stripPrefix("/")
      rel match {
        case HourDir(y, m, d, h) =>
          val hour = PartitionHour(y.toInt, m.toInt, d.toInt, h.toInt)
          if (hour.toInstant.isBefore(cutoff.toInstant)) {
            fs.delete(st.getPath, true)
            dropped += hour
          }
        case _ =>
      }
    }
    dropped.result()
  }
}
