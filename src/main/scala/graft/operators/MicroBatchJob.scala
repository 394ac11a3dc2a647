package graft.operators

import graft.sources.{SnapshotLog, StampedArtifact}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The micro-batch harness of the file-arrival streams (st17–st28).
  *
  * A stream reads a directory of arrival files one file per micro-batch
  * (`Trigger.AvailableNow`, so a run drains what has arrived and stops),
  * hands each batch to its body, and records its progress in a checkpoint.
  * The body commits to [[SnapshotLog]] tables under a `batch-<id>` key, so
  * the at-least-once replay of `foreachBatch` no-ops on a batch that
  * already committed, and `n_commits` counts the distinct batch keys.
  *
  * Every batch runs on a child session built by [[streamSession]], the
  * one builder of the streams' sessions.
  *
  * [[run]] does not wipe: a second run on the same checkpoint resumes
  * after the last processed file (st19's restart contract). Callers that
  * want a fresh run [[wipe]] their result logs and checkpoint first.
  */
object MicroBatchJob {

  /** One arrival file per micro-batch: the fixtures' files are the
    * deliveries, so a 4-file fixture is a 4-batch stream.
    */
  private val FilesPerTrigger = "1"

  /** The child session a stream runs on: every stream, here and in the
    * generic replays of `IngestParityQueries`, gets one from this builder.
    * A child (`newSession()`: own conf and temp views, shared SparkContext
    * and cache) owns every conf its stream sets, so per-stream settings
    * never leak into, or race with, concurrent work on the parent (the u8
    * lesson, applied to conf scope); a caller may set more on it before
    * its query starts (st9's RocksDB state-store provider). Two settings
    * are applied:
    *
    *  - `spark.sql.shuffle.partitions = shufflePartitions`, sized by the
    *    caller to the batch or state volume (8 for gate-scale streams; st19
    *    scales it from its frozen per-batch stats). Scale-adaptive sizing
    *    is the caller's job because AQE is off (below). A stateful operator
    *    keeps one state-store instance, and per micro-batch one delta file
    *    plus commit metadata, for EVERY shuffle partition whatever the data
    *    volume, so a gate replay of a few thousand rows per side at 32
    *    partitions is dominated by state-store file fan-out, not work
    *    (measured on st3 at sf 0.01, warm, 4 cores: 2.3 s at 32 partitions
    *    and 1.1 s at 8). The count never changes results, only file
    *    fan-out. (The 7.9 s → about 4 s first measured here also counted
    *    Hadoop's `readlink` forks, four per state-store rename, which
    *    [[graft.sources.GraftRawLocalFileSystem]] no longer starts: with
    *    them, the same st3 took 7.2 s at 32 and 2.4 s at 8.)
    *  - `spark.sql.adaptive.enabled = false`, for every stream. AQE's
    *    value is runtime re-planning of LARGE shuffles (coalescing hundreds
    *    of empty partitions, splitting skewed ones). A micro-batch shuffles
    *    batch-sized frames across an explicitly sized small partition
    *    count, where AQE can improve nothing, but it still costs one extra
    *    driver re-optimization round and job per query stage, per action,
    *    per batch (measured on st22: 91 -> 67 Spark jobs per run from this
    *    setting alone; st13 19 -> 10 and st14 7 -> 4 per warm fixture run;
    *    st3 at sf 0.01, whose join has rows there, 4 -> 3). It is a
    *    per-batch-volume decision, not a local-mode tune: a batch is small
    *    on any cluster, while the BATCH jobs that scan a full corpus (index
    *    builds, the one-shot queries) run on the parent session and keep
    *    AQE on.
    */
  def streamSession(spark: SparkSession,
      shufflePartitions: Int): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    ss
  }

  /** Stream the parquet files under the local directory `arrivalsDir`
    * (read with the declared `schema`, so no file is opened to infer one)
    * through `body(batchSession, batch, batchId)`, one file per batch,
    * until every arrived file is processed. Returns the terminated query
    * (its `recentProgress` holds the per-batch durations).
    */
  def run(spark: SparkSession, arrivalsDir: String, schema: StructType,
      ckptDir: String, shufflePartitions: Int)(
      body: (SparkSession, DataFrame, Long) => Unit): StreamingQuery = {
    val q = streamSession(spark, shufflePartitions).readStream
      .schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(s"file:$arrivalsDir")
      .writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(batch.sparkSession, batch, batchId)
      }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Commit `delta` onto the head of the SnapshotLog table at `path` under
    * `key`: the head's files are carried by reference, and a key some live
    * version already records makes the commit a no-op (replay safety).
    * Returns the version that holds the key.
    */
  def appendKeyed(bs: SparkSession, path: String, delta: DataFrame,
      key: String, partitionBy: Option[String] = None): Int = {
    val prior = SnapshotLog.latestVersion(bs, path)
      .map(v => SnapshotLog.manifest(bs, path, v)).getOrElse(Nil)
    SnapshotLog.commit(bs, path, delta, prior, commitKey = Some(key),
      partitionBy = partitionBy)
  }

  /** One batch's append to a stream's log: the keyed append under
    * `batch-<batchId>`, then the in-loop log maintenance
    * ([[maintainStreamLog]]) over the same partition layout.
    */
  def appendBatch(bs: SparkSession, path: String, delta: DataFrame,
      batchId: Long, partitionBy: Option[String],
      maxFilesPerPartition: Int): Unit = {
    appendKeyed(bs, path, delta, s"batch-$batchId", partitionBy)
    maintainStreamLog(bs, path, partitionBy, maxFilesPerPartition, batchId)
  }

  /** Bounded-log MAINTENANCE for a streaming loop's SnapshotLog (result
    * logs, stream-built index logs): the st19MaintainState discipline wired
    * INTO the loop, so a long-lived stream never accretes one manifest
    * version + a handful of small files per batch forever (the reference's
    * bounded job-history semantics, `workflow.yaml:54-84`, applied to the
    * serving logs). Runs after every second batch's commit:
    * [[SnapshotLog.compact]] no-ops at O(manifest string-matching) cost
    * until some partition group exceeds `maxFilesPerPartition`, then
    * rewrites ONLY the over-threshold groups (untouched partitions keep
    * their files' physical identity); when it did compact,
    * [[SnapshotLog.retainVersions]] drops the superseded manifests — safe
    * because compaction carried every replay key forward — and reclaims
    * their unreferenced files. The zero reclaim horizon is safe HERE and
    * only here: the log's single writer is this loop's own thread, and
    * maintenance runs between its own commits, so the table is provably
    * quiescent (the retainVersions contract).
    *
    * Cost shape, stated honestly: a compaction pass rewrites the
    * over-threshold GROUPS' accreted rows, so for a group the stream
    * keeps appending to, total maintenance I/O over B batches is
    * O(B²/K · rowsPerBatch) — the flat-log trade every LSM eventually
    * escalates out of. Two things bound it here: (1) the passes are
    * spaced (every second batch, so the mechanism is exercised in a
    * 4-batch run; a production cadence would be far sparser);
    * (2) the PARTITIONED logs (st17/st21's `_centroid_id=`/`_bin=`
    * layouts) compact per group — a bin the stream has stopped appending
    * to never rewrites again, so the quadratic term only applies to
    * actively-growing groups. A result log a deployment keeps forever
    * would additionally be partitioned by arrival window (day/hour),
    * scoping every compaction to the active window — the same
    * `partitionCol` mechanism, one more column; the gate's result logs
    * are small enough that the flat layout is the honest simplest shape.
    */
  private[operators] def maintainStreamLog(bs: SparkSession, path: String,
      partitionCol: Option[String], maxFilesPerPartition: Int,
      batchId: Long): Unit =
    if (batchId % 2 == 1 &&
        SnapshotLog.compact(bs, path, partitionCol,
          maxFilesPerPartition).isDefined) {
      SnapshotLog.retainVersions(bs, path, keep = 1, olderThanMillis = 0L)
      ()
    }

  /** A stream log's head version and its number of batch commits. The
    * count comes from the distinct replay KEYS, not the version number:
    * in-loop compaction commits advance the version counter and retention
    * drops superseded manifests, but neither creates nor loses a batch
    * key, so `n_commits` stays "number of micro-batches" under maintenance.
    */
  def batchLog(spark: SparkSession, path: String): (Int, Int) = {
    val head = SnapshotLog.latestVersion(spark, path)
      .getOrElse(sys.error(s"no batch committed to $path"))
    (head, SnapshotLog.commitKeys(spark, path).count(_.startsWith("batch-")))
  }

  /** A stamped arrival fixture: `rows` range-split on `key` into `nFiles`
    * parquet files under the local directory `dir`, so a stream over it
    * runs one micro-batch per file. Rebuilt only when `stamp` differs from
    * the one recorded in `dir/marker` (`rows` is not even built
    * otherwise); returns true when the fixture on disk was already valid.
    */
  def splitArrivals(rows: => DataFrame, key: String, nFiles: Int,
      dir: String, marker: String, stamp: String): Boolean =
    StampedArtifact.getOrBuild(dir, marker, stamp) {
      rows.repartitionByRange(nFiles, col(key))
        .write.mode("overwrite").parquet(s"file:$dir")
    }

  /** Delete each path, recursively, through the Hadoop FileSystem of its
    * own scheme (a java.io wipe would silently no-op on a non-`file:`
    * table location); a missing path is a no-op.
    */
  def wipe(spark: SparkSession, paths: String*): Unit =
    paths.foreach { path =>
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
}
