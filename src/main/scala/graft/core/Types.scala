package graft.core

import org.apache.spark.sql.types.StructType

/** Load-job lifecycle states — int codes match the reference enum
  * (`/root/reference/ingestion/types.py:5-10`) so status payloads are
  * wire-compatible.
  */
sealed abstract class JobState(val code: Int, val name: String)
object JobState {
  case object NotCreated extends JobState(0, "NOT_CREATED")
  case object Running    extends JobState(1, "RUNNING")
  case object Success    extends JobState(2, "SUCCESS")
  case object Failure    extends JobState(3, "FAILURE")
  val all: Seq[JobState] = Seq(NotCreated, Running, Success, Failure)
  def fromCode(c: Int): JobState = all.find(_.code == c).getOrElse(
    throw new IllegalArgumentException(s"unknown JobState code $c"))
}

/** Source-file parse contract — the reference's fixed CSV load config
  * (`/root/reference/ingestion/bigquery_interaction.py:17-26`): tab-delimited,
  * UTF-8, quoting disabled, no header row, schema never inferred
  * (`CREATE_NEVER` implies a caller-supplied [[StructType]]).
  *
  * `parseMode` selects the malformed-row policy:
  *  - `"PERMISSIVE"` (default): bad cells/short rows become nulls — the
  *    documented deviation chosen so one bad row can't kill a 100 TB load;
  *  - `"FAILFAST"`: the strict BigQuery parity mode — a load job FAILS on
  *    the first malformed row (BQ `max_bad_records` defaults to 0 and the
  *    job's `error_result` carries the message,
  *    `bigquery_interaction.py:112-114`); the parse error surfaces as
  *    `JobState.Failure` with the captured message through the job runner.
  */
final case class CsvOptions(
    delimiter: String = "\t",
    quote: String = "",       // empty string disables quoting, like BQ quote_character=''
    header: Boolean = false,
    encoding: String = "UTF-8",
    // BQ CSV canonical timestamp text; microsecond precision round-trips
    // losslessly (Spark TimestampType and BQ TIMESTAMP are both micros)
    timestampFormat: String = "yyyy-MM-dd HH:mm:ss[.SSSSSS]",
    parseMode: String = "PERMISSIVE")
object CsvOptions {
  /** Spark reader option map equivalent of the reference load config. Spark
    * interprets an empty `quote` option as "quoting disabled", matching BQ's
    * `quote_character=''`.
    */
  def toReaderOptions(o: CsvOptions): Map[String, String] = Map(
    "sep" -> o.delimiter,
    "quote" -> o.quote,
    "header" -> o.header.toString,
    "encoding" -> o.encoding,
    "timestampFormat" -> o.timestampFormat,
    "mode" -> o.parseMode)

  /** Writer options for producing files under the same contract (used by the
    * round-trip parity path and fixture generators).
    */
  def toWriterOptions(o: CsvOptions): Map[String, String] = Map(
    "sep" -> o.delimiter,
    "quote" -> o.quote,
    "header" -> o.header.toString,
    "encoding" -> o.encoding,
    "timestampFormat" -> o.timestampFormat,
    "emptyValue" -> "")
}

/** Static configuration for one landing pipeline: where raw files live, where
  * the landing table lives, and the schema/partition/cluster contract the
  * reference leaves as DDL placeholders
  * (`/root/reference/bq_create_table_ddl.sql:4-9`).
  *
  * @param sourceBase      raw-file base URI (`gs://bucket` or `file:/...`)
  * @param landingPath     landing-table root (parquet, hive-partitioned)
  * @param schema          fixed record schema (positional CSV match, never inferred)
  * @param partitionField  TIMESTAMP column fed to hour truncation
  * @param clusterField    within-partition sort column (BQ `CLUSTER BY`)
  */
/** @param strictPartition when true, a per-hour load job FAILS if any record's
  *   `partitionField` hour differs from the target partition — BigQuery's
  *   behavior for a `table$YYYYMMDDHH` decorator load (rows outside the
  *   decorator's partition are rejected). Default false: records land where
  *   their content says (Spark-first; a late record is data, not an error).
  */
final case class IngestConfig(
    sourceBase: String,
    landingPath: String,
    schema: StructType,
    partitionField: String,
    clusterField: String,
    csv: CsvOptions = CsvOptions(),
    strictPartition: Boolean = false,
    // raw-file format under the hive tree: "csv" (the reference's TSV
    // contract; compressed .gz/.bz2 files decode transparently by
    // extension), "parquet", "json", or "orc" — the schema contract is
    // identical (explicit, never inferred) for all four
    sourceFormat: String = "csv",
    // BigQuery load-config `max_bad_records` parity: when > 0, a load job
    // parses PERMISSIVE-with-capture (HivePartitionedSource.withQuarantine),
    // EXCLUDES malformed rows from the landed data, and FAILS if their
    // count exceeds this budget. 0 (default) keeps the parseMode policy:
    // PERMISSIVE nulls bad cells, FAILFAST fails the job on the first.
    maxBadRecords: Int = 0)

/** Immutable job descriptor — the reference's `LoadJobMetadata` NamedTuple
  * (`/root/reference/ingestion/types.py:19-27`); Scala `copy` replaces
  * `_replace` (`tasks.py:44`).
  */
final case class LoadJobMetadata(
    jobId: String,
    partition: PartitionHour,
    sourceGlob: String,
    targetTable: String,   // landingPath + "$" + YYYYMMDDHH decorator form for display
    status: JobState,
    errorMessage: Option[String] = None)
