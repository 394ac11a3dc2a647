package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

import java.io.FileNotFoundException

/** Parquet schemas read on the driver. `spark.read.parquet(paths)` without
  * a schema runs one Spark job whose only work is reading one footer; for
  * files graft already knows, the same schema comes from that footer read
  * in-process, and the read takes it as `spark.read.schema(s)`. Spark's
  * `dataSchema.asNullable` applies to both forms, so the frames are equal.
  */
object ParquetFooterSchema {
  private val CommonMetadata = "_common_metadata"
  private val Metadata = "_metadata"

  /** The schema Spark infers for `spark.read.parquet(files: _*)` with
    * `mergeSchema` off (`ParquetUtils.inferSchema`): of the leaf files in
    * qualified-path order, `_common_metadata`, else `_metadata`, else the
    * first data file, converted by Spark's own footer reader. Like Spark's
    * inference it keeps a required column non-nullable; the read that takes
    * it makes every column nullable, as Spark's read does. `files` are leaf
    * files, at least one. */
  def of(spark: SparkSession, files: Seq[String]): StructType =
    of(spark, files, GraftParquetBridge.hadoopConf(spark))

  private def of(spark: SparkSession, files: Seq[String], conf: Configuration): StructType = {
    val sorted = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).makeQualified(p)
    }.sortBy(_.toString)
    def named(n: String) = sorted.find(_.getName == n)
    val pick = named(CommonMetadata).orElse(named(Metadata)).getOrElse(sorted.head)
    GraftParquetBridge.footerSchema(spark, pick, conf)
  }

  /** `spark.read.parquet(path)` for one file or a flat directory of part
    * files, typed from one footer. A directory with subdirectories
    * (partition discovery), one without a visible leaf, and a missing path
    * keep Spark's own read and its inference or error. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = GraftParquetBridge.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val leaves =
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) Seq(path)
        else {
          val kids = fs.listStatus(p).toSeq
            .filterNot(k => GraftParquetBridge.isHidden(k.getPath.getName))
          if (kids.exists(_.isDirectory)) Nil else kids.map(_.getPath.toString)
        }
      } catch { case _: FileNotFoundException => Nil }
    if (leaves.isEmpty) spark.read.parquet(path)
    else spark.read.schema(of(spark, leaves, conf)).parquet(path)
  }
}
