package graft.operators

import graft.core._
import graft.sources.PartitionProbe
import org.apache.spark.sql.SparkSession

import scala.concurrent.duration._

/** O1/O2 — the orchestration loop and its scheduling policy (SURVEY §2.1).
  *
  * Mirrors `/root/reference/workflow.yaml:14-95`: exists-check → skip when the
  * partition has no raw files (`:25-35`) → start ingest with idempotent
  * retries (`:37-52`) → poll while RUNNING, sleeping between polls
  * (`:54-84`, 30 s in the reference) → final `{job_id, status, msg}` report
  * (`:86-95`).
  *
  * O2's late-data policy (hourly cron at minute :40 = 40-minute grace for
  * late records, `commands.sh:73`, `README.md:41-47`) is *configuration*, not
  * engine code: callers pass any past [[PartitionHour]] (backfill is just
  * `run(oldHour)` — free because the sink is idempotent, `README.md:49-60`),
  * and the default partition is last hour, like the scheduled path.
  */
object Workflow {

  /** Final workflow report (`workflow.yaml:86-95`). */
  final case class RunResult(jobId: String, status: JobState, msg: Option[String])

  /** Every workflow run emits its final report as one structured JSON log
    * line (the stream the reference's alert policies grep — see [[JobLog]]).
    */
  private def report(r: RunResult): RunResult = {
    JobLog.outcome("workflow_result", r.jobId, r.status, r.msg)
    r
  }

  /** Policy knobs, defaults = reference values (BASELINE.md). */
  final case class Policy(
      pollInterval: FiniteDuration = 30.seconds,
      maxRetries: Int = 3,              // scheduler --max-retry-attempts 3
      attemptDeadline: FiniteDuration = 540.seconds) // --attempt-deadline 540s

  /** Blocking probe→start→poll composition for one partition (defaults to the
    * reference's scheduled "last hour" target).
    */
  def runAndAwait(
      spark: SparkSession,
      runner: JobRunner,
      cfg: IngestConfig,
      partition: Option[PartitionHour] = None,
      policy: Policy = Policy(),
      clock: java.time.Clock = java.time.Clock.systemUTC()): RunResult = {

    val hour = partition.getOrElse(PartitionCodec.lastHour(clock))

    // workflow.yaml:14-35 — skip entirely when no raw files exist
    if (!PartitionProbe.exists(spark, cfg, hour))
      return report(
        RunResult("", JobState.NotCreated, Some("partition absent; skipped")))

    // workflow.yaml:37-52 — start with blanket retries (safe: sink idempotent)
    var attempt = 0
    var last: RunResult = RunResult("", JobState.Failure, Some("not started"))
    while (attempt <= policy.maxRetries) {
      val meta = runner.assemble(cfg, hour)
      runner.start(cfg, meta) match {
        case JobState.NotCreated =>
          return report(
            RunResult(meta.jobId, JobState.NotCreated, Some("empty partition")))
        case _ =>
          // workflow.yaml:54-84 — poll until not RUNNING
          val (state, msg) =
            runner.await(meta.jobId, policy.attemptDeadline.toSeconds.toInt)
          last = RunResult(meta.jobId, state, msg)
          if (state == JobState.Success) return report(last)
      }
      attempt += 1
    }
    report(last)
  }

  /** Backfill a past hour range (inclusive), one idempotent run per hour —
    * the reference's manual backfill procedure (`README.md:49-60`,
    * `commands.sh:56-64`: re-run the workflow with an explicit partition)
    * as a first-class call. Absent hours are skipped like the scheduled
    * path; each present hour converges because the sink truncates exactly
    * that partition.
    */
  def backfill(
      spark: SparkSession,
      runner: JobRunner,
      cfg: IngestConfig,
      from: PartitionHour,
      to: PartitionHour,
      policy: Policy = Policy()): Seq[(PartitionHour, RunResult)] = {
    require(!from.toInstant.isAfter(to.toInstant), "backfill: from after to")
    Iterator.iterate(from)(_.plusHours(1))
      .takeWhile(h => !h.toInstant.isAfter(to.toInstant))
      .map(h => h -> runAndAwait(spark, runner, cfg, Some(h), policy))
      .toSeq
  }
}
