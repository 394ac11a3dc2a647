package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The pieces of Spark's parquet schema inference that graft runs on the
  * driver (`graft.sources.ParquetFooterSchema`). Spark reads the chosen
  * footer inside a job (`ParquetFileFormat.mergeSchemasInParallel`); the
  * conversion it applies there is `private[parquet]`, hence this one bridge
  * inside Spark's package.
  */
object GraftParquetBridge {
  /** The session's Hadoop conf, as Spark's own reads build it. */
  def hadoopConf(spark: SparkSession): Configuration = SessionStateHelper.getHadoopConf(spark)

  /** Spark's listing filter: a hidden leaf or directory name Spark skips. */
  def isHidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema `mergeSchemasInParallel` infers from `file`'s footer: the
    * Spark schema its writer stored, else the parquet schema converted with
    * the same five session flags. `conf` is [[hadoopConf]]. */
  def footerSchema(spark: SparkSession, file: Path, conf: Configuration): StructType = {
    val sqlConf = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
      nanosAsLong = sqlConf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = try new Footer(file, ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS))
      catch { case e: Exception => throw QueryExecutionErrors.cannotReadFooterForFileError(file, e) }
    ParquetFileFormat.readSchemaFromFooter(footer, converter)
  }
}
