package graft.operators

import graft.core._
import graft.sources.{HivePartitionedSource, LandingTable, PartitionProbe}
import org.apache.spark.sql.SparkSession

import java.util.UUID
import java.util.concurrent.Executors
import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.util.{Failure, Success}

/** J1–J3 — asynchronous load-job launch, registry, and poll (SURVEY §2.1).
  *
  * Reference behavior being reproduced:
  *  - J3 job assembly (`/root/reference/ingestion/tasks.py:16-44`): compose
  *    partition codec + source glob + decorator target + fresh uuid4 id into a
  *    [[LoadJobMetadata]], then start.
  *  - J1 idempotent start (`bigquery_interaction.py:29-75`): empty source ⇒
  *    skip, `NOT_CREATED` (`:30-32`); duplicate start of a running job ⇒
  *    report `RUNNING` rather than erroring (`:59-63`); failure ⇒ `FAILURE`
  *    with message (`:64-69`); already-done ⇒ `SUCCESS` (`:70-73`).
  *  - J2 poll (`bigquery_interaction.py:78-121`): unknown id ⇒ not-found
  *    error; else (state, optional error message).
  *
  * Spark actions are synchronous, so fire-and-poll is recovered by running the
  * read→write action in a `Future` tracked in a concurrent registry; a
  * per-job `setJobGroup` tags all Spark stages with the job id for
  * observability (and would allow cancel). Deviation from the reference,
  * documented per SURVEY §7.4: BigQuery job state survives the client process;
  * our registry is in-process and a restarted driver forgets running jobs.
  */
final class JobRunner(spark: SparkSession, poolSize: Int = 4) {

  private case class JobHandle(meta: LoadJobMetadata, future: Future[Unit])
  private val registry = TrieMap.empty[String, JobHandle]
  // daemon threads: load jobs must not pin the JVM open after the driver's
  // main returns (a non-daemon pool here deadlocks batch mains on exit)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(poolSize,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-job-runner")
        t.setDaemon(true)
        t
      }))

  sealed trait PollError
  case class JobNotFound(jobId: String) extends PollError

  /** J3: build metadata for one partition-hour (`tasks.py:16-41`). */
  def assemble(cfg: IngestConfig, hour: PartitionHour): LoadJobMetadata =
    LoadJobMetadata(
      jobId = UUID.randomUUID().toString,
      partition = hour,
      sourceGlob = PartitionCodec.toGlob(cfg.sourceBase, hour),
      targetTable = s"${cfg.landingPath}$$${PartitionCodec.toBqId(hour)}",
      status = JobState.NotCreated)

  /** J1: start the load asynchronously; returns the post-start state.
    * Empty partition ⇒ skip with `NotCreated` (`bigquery_interaction.py:30-32`);
    * an id already in the registry reports its current state instead of
    * double-starting (`:59-75` exception classification, made deterministic by
    * `putIfAbsent`).
    */
  def start(cfg: IngestConfig, meta: LoadJobMetadata): JobState = {
    if (!PartitionProbe.globNonEmpty(spark, meta.sourceGlob))
      return JobState.NotCreated

    registry.get(meta.jobId) match {
      case Some(h) => stateOf(h)   // duplicate start: report, don't relaunch
      case None =>
        val fut = Future {
          spark.sparkContext.setJobGroup(meta.jobId,
            s"graft load ${meta.sourceGlob} -> ${meta.targetTable}")
          try {
            // max_bad_records budget (BQ load-config parity): malformed rows
            // are skipped, counted, and fail the job past the budget — the
            // production middle ground between PERMISSIVE's silent nulls
            // and FAILFAST's all-or-nothing
            if (cfg.maxBadRecords > 0)
              HivePartitionedSource.withQuarantine(
                spark, cfg.schema, cfg.csv, meta.sourceGlob, cfg.sourceFormat) {
                (good, bad) =>
                  val nBad = bad.count()
                  if (nBad > cfg.maxBadRecords)
                    throw new IllegalStateException(
                      s"max_bad_records exceeded: $nBad malformed rows > " +
                        s"budget ${cfg.maxBadRecords} in ${meta.sourceGlob}")
                  landParsed(cfg, meta, good)
              }
            else landParsed(cfg, meta,
              HivePartitionedSource.readGlob(
                spark, cfg.schema, cfg.csv, meta.sourceGlob))
          } finally spark.sparkContext.clearJobGroup()
        }
        registry.putIfAbsent(meta.jobId, JobHandle(meta, fut)) match {
          case Some(existing) => stateOf(existing)  // lost the race: same answer
          case None =>
            // one structured outcome line per completed job (alert parity —
            // the BQ job log analogue; see JobLog)
            fut.onComplete {
              case Success(_) =>
                JobLog.outcome("load_job", meta.jobId, JobState.Success, None)
              case Failure(e) =>
                JobLog.outcome("load_job", meta.jobId, JobState.Failure,
                  Some(describe(e)))
            }
            JobState.Running
        }
    }
  }

  /** Land a parsed frame: the strict-decorator probe (when configured) then
    * the truncate-and-replace partition overwrite — the tail every load job
    * shares regardless of how its rows were parsed.
    */
  private def landParsed(cfg: IngestConfig, meta: LoadJobMetadata,
      df: org.apache.spark.sql.DataFrame): Unit = {
    if (cfg.strictPartition) {
      // BQ decorator-load parity: any record outside the target hour
      // rejects the whole job (bigquery_interaction WRITE_TRUNCATE to
      // table$YYYYMMDDHH). limit(1) short-circuits the probe.
      import org.apache.spark.sql.functions.{col, date_trunc, lit}
      val target = java.sql.Timestamp.from(meta.partition.toInstant)
      val offenders = df.filter(
        date_trunc("hour", col(cfg.partitionField)) =!= lit(target) ||
          col(cfg.partitionField).isNull)
      if (!offenders.limit(1).isEmpty)
        throw new IllegalStateException(
          s"strictPartition: records outside target partition " +
            s"${PartitionCodec.toBqId(meta.partition)} (or with null " +
            s"${cfg.partitionField}) present in ${meta.sourceGlob}")
    }
    LandingTable.overwritePartitions(df, cfg)
  }

  /** Failure text for status payloads: the whole cause chain, deepest last —
    * Spark wraps the interesting error (e.g. `Malformed records detected` in
    * FAILFAST mode) in task/file-level exceptions, and BQ's `error_result`
    * carries the root message (`bigquery_interaction.py:112-114`).
    */
  private def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse(t.getClass.getName))
      .distinct.mkString(" <- ")

  /** J2: poll a job id (`bigquery_interaction.py:78-121`). */
  def poll(jobId: String): Either[PollError, (JobState, Option[String])] =
    registry.get(jobId).map(resultOf).toRight(JobNotFound(jobId))

  private def resultOf(h: JobHandle): (JobState, Option[String]) =
    h.future.value match {
      case None             => (JobState.Running, None)
      case Some(Success(_)) => (JobState.Success, None)
      case Some(Failure(e)) => (JobState.Failure, Some(describe(e)))
    }

  private def stateOf(h: JobHandle): JobState = resultOf(h)._1

  /** Block until a job leaves RUNNING (test/driver convenience): waits on the
    * job's future itself, so it returns as soon as the job ends. */
  def await(jobId: String, timeoutSec: Int = 600): (JobState, Option[String]) = {
    val h = registry.getOrElse(jobId,
      throw new NoSuchElementException(s"job $jobId not found"))
    try Await.ready(h.future, timeoutSec.seconds)
    catch { case _: TimeoutException => }
    resultOf(h) match {
      case (JobState.Running, _) =>
        (JobState.Running, Some(s"timeout after ${timeoutSec}s"))
      case done => done
    }
  }
}
