package graft.operators

import graft.core.{JobState, JsonText}

/** Structured, alert-greppable job-outcome log stream — the engine analogue
  * of the reference's operational-monitoring story (`/root/reference/
  * README.md:62-94`): there, the workflow's final `{job_id, status, msg}`
  * result (`workflow.yaml:86-95`) lands in Cloud Logging and two alert
  * policies grep it — #1 fires on `status =~ FAIL` inside the logged result,
  * #2 fires on any `severity=ERROR` from the workflow.
  *
  * Here every load-job completion and every workflow result is emitted as
  * ONE JSON line `{"event":…, "job_id":…, "status":…, "msg":…}` on the
  * dedicated `graft.jobs` logger — INFO for healthy outcomes, ERROR for
  * failures — so the same two alerts are plain log-grep predicates (see
  * README "Monitoring"):
  *  - job/data failure:  line matches `"event":"workflow_result"` AND
  *    `"status":"FAILURE"`;
  *  - infra failure:     any ERROR-severity line from `graft.jobs`.
  *
  * Sinks are pluggable (tests, file shipping, metrics): each registered sink
  * receives `(severity, jsonLine)` after the logger write. The hot path is
  * control-plane only — one line per job, never per record.
  */
object JobLog {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.jobs")

  private val sinks =
    new java.util.concurrent.CopyOnWriteArrayList[(String, String) => Unit]()

  def addSink(s: (String, String) => Unit): Unit = sinks.add(s)
  def removeSink(s: (String, String) => Unit): Unit = sinks.remove(s)

  /** Emit one outcome line. `event` is `"load_job"` (per-job completion,
    * the BQ job log analogue) or `"workflow_result"` (the final workflow
    * report the reference's alert #1 greps).
    */
  def outcome(event: String, jobId: String, status: JobState,
      msg: Option[String]): Unit = {
    val line = s"""{"event":${JsonText.quote(event)},""" +
      s""""job_id":${JsonText.quote(jobId)},"status":"${status.name}",""" +
      s""""msg":${JsonText.quote(msg.getOrElse(""))}}"""
    val severity = if (status == JobState.Failure) "ERROR" else "INFO"
    if (status == JobState.Failure) log.error(line) else log.info(line)
    sinks.forEach(s => s(severity, line))
  }
}
