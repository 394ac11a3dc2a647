package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core._
import graft.operators.JobRunner
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal

/** The reference's HTTP surface (`/root/reference/ingestion/app.py:47-93`)
  * over the Spark engine — wire-compatible routes and response shapes:
  *
  *  - `GET /partition/last_hour/exists/in-bucket` → `1` / `0`
  *  - `GET /partition/{YYYYMMDDHH}/exists/in-bucket` → `1` / `0`
  *  - `PUT /partition/last_hour/ingest` → 201 `{"job_id":…,"status":{…}}`
  *  - `PUT /partition/{YYYYMMDDHH}/ingest` → 201 (same shape); the body's
  *    `job_configuration` dict swaps the load config for that one job
  *    ([[JobConfiguration]]; unknown keys → 422)
  *  - `GET /load_job/{job_id}/status` → 200 LoadJob | 404 `{"detail":…}`
  *
  * Status objects carry `{name, code, error_msg}` with the reference's enum
  * codes (`types.py:5-10`). Built on the JDK's HttpServer (zero added
  * dependencies) — presentation only; all behavior lives in [[JobRunner]] /
  * [[graft.sources.PartitionProbe]]. The reference's `bucket_name`/
  * `dataset_id`/`table_id` request fields are carried by [[IngestConfig]]
  * here (paths instead of GCP resource ids).
  */
final class IngestApi(spark: SparkSession, runner: JobRunner, cfg: IngestConfig,
    clock: java.time.Clock = java.time.Clock.systemUTC()) {

  private var server: HttpServer = _

  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", handle _)
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private val Exists = "/partition/([^/]+)/exists/in-bucket".r
  private val Ingest = "/partition/([^/]+)/ingest".r
  private val Status = "/load_job/([^/]+)/status".r

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    try {
      (method, path) match {
        case ("GET", "/") =>
          respond(ex, 200, "\"That's the root page of this API.\"")
        case ("GET", Exists(p)) =>
          val hour = resolve(p)
          val exists = graft.sources.PartitionProbe.exists(spark, cfg, hour)
          respond(ex, 200, if (exists) "1" else "0")
        case ("PUT", Ingest(p)) =>
          val hour = resolve(p)
          // per-request job_configuration passthrough (reference
          // app.py:29-33): the PUT body may swap the load config for this
          // one job; absent/empty body = the endpoint's base config
          val body = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          val reqCfg = JobConfiguration.applyOverrides(cfg, body)
          val meta = runner.assemble(reqCfg, hour)
          val state = runner.start(reqCfg, meta)
          respond(ex, 201, loadJobJson(meta.jobId, state, None))
        case ("GET", Status(jobId)) =>
          runner.poll(jobId) match {
            case Right((state, msg)) =>
              respond(ex, 200, loadJobJson(jobId, state, msg))
            case Left(_) =>
              respond(ex, 404, """{"detail":"Job not found."}""")
          }
        case _ =>
          respond(ex, 404, """{"detail":"Not Found"}""")
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 422, s"""{"detail":${jstr(e.getMessage)}}""")
      case NonFatal(e) =>
        respond(ex, 500, s"""{"detail":${jstr(String.valueOf(e.getMessage))}}""")
    }
  }

  private def resolve(p: String): PartitionHour =
    if (p == "last_hour") PartitionCodec.lastHour(clock)
    else PartitionCodec.fromBqId(p)

  private def loadJobJson(jobId: String, state: JobState, msg: Option[String]) =
    s"""{"job_id":${jstr(jobId)},"status":{"name":${jstr(state.name)},""" +
      s""""code":${state.code},"error_msg":${msg.map(jstr).getOrElse("null")}}}"""

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
