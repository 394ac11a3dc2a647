package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.GraftSession
import graft.api.IngestApi
import graft.core._
import graft.operators.JobRunner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One hour of benchmark input, as the generator's manifest lists it. */
final case class Hour(id: String, rows: Long, bytes: Long) {
  val partition: PartitionHour = PartitionCodec.fromBqId(id)
}

/** The generator's manifest for one workload's inputs. */
final case class Manifest(root: JsonNode) {
  def text(k: String): String = root.get(k).asText()
  private def hours(k: String): Seq[Hour] = root.get(k).elements().asScala.map(h =>
    Hour(h.get("id").asText(), h.get("rows").asLong(), h.get("bytes").asLong())).toSeq
  def hours: Seq[Hour] = hours("hours")
  def sweepHours: Seq[Hour] = hours("sweep_hours")
  def queries: Seq[String] =
    Option(root.get("queries")).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
}

/** Command-line options of one benchmark process. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    manifest: Path, work: Path, out: Path, prepare: Boolean)

/** A running engine: session, job runner and the HTTP API, listening. */
final class Engine(val spark: SparkSession, val runner: JobRunner, val api: IngestApi,
    val port: Int)

/** Everything a workload needs: options, inputs, the engine, the tracer and
  * the record of failed operations.
  */
final class Ctx(val opts: Opts, val manifest: Manifest, val engine: Engine,
    val tracer: Tracer, val layers: Samples) {
  def spark: SparkSession = engine.spark
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  /** Run one operation; a failure is recorded and counted, never fatal. An
    * interrupt is re-asserted and ends the run's loops.
    */
  def attempt[T](label: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        synchronized { failures += s"$label: interrupted" }
        None
      case NonFatal(e) =>
        synchronized {
          failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600)
        }
        None
    }
  }

  def check(label: String)(ok: => Boolean): Unit = attempt(label) {
    require(ok, "check failed")
  }.foreach(_ => ())

  def interrupted: Boolean = Thread.currentThread().isInterrupted

  /** Time an operation; in traced runs also collect its engine counters. */
  def timed[T](span: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (tracer.enabled) {
      val (out, eng) = EngineProbe.measure(spark.sparkContext)(tracer.span(span)(body))
      layers.addEngine(eng)
      (out, (System.nanoTime() - t0) / 1e6)
    } else {
      val out = body
      (out, (System.nanoTime() - t0) / 1e6)
    }
  }
}

object Main {

  val EventsSchema: StructType = graft.operators.IngestParityQueries.eventsSchema
  val RawSchema: StructType = StructType(Seq(
    StructField("event_ts", TimestampType), StructField("device_id", StringType),
    StructField("event_type", StringType), StructField("payload", StringType),
    StructField("bytes", LongType)))

  def ingestConfig(manifest: Manifest, raw: String, landing: Path): IngestConfig =
    if (manifest.text("schema") == "events_raw")
      IngestConfig(s"file:$raw", s"file:$landing", RawSchema, "event_ts", "device_id")
    else IngestConfig(s"file:$raw", s"file:$landing", EventsSchema, "ts", "user_id")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("manifest")), Paths.get(m("work")), Paths.get(m("out")),
      m.get("prepare").contains("1"))
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Start the engine the way a deployment would: session, job runner, HTTP
    * API listening. (No query of the mix reads the trained serving
    * artifacts, so there are none to make ready.)
    */
  def startEngine(opts: Opts, cfg: IngestConfig): Engine = {
    val b = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", opts.work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
    if (opts.trace) Listeners.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runner = new JobRunner(spark)
    val api = new IngestApi(spark, runner, cfg)
    val port = api.start(0)
    val root = Http.get(port, "/")
    require(root._1 == 200, s"API root answered ${root._1}")
    new Engine(spark, runner, api, port)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    Files.createDirectories(opts.work.resolve("tmp"))
    val manifest = Manifest(new ObjectMapper().readTree(opts.manifest.toFile))
    val landing = opts.work.resolve("landing")
    val cfg = ingestConfig(manifest, manifest.text("raw"), landing)

    // Set-up is measured from process start: JVM start, session, job
    // runner and HTTP API listening.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val engine = startEngine(opts, cfg)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[graftbench] engine up ${setupS}%.2f s after JVM start")

    val ctx = new Ctx(opts, manifest, engine, new Tracer(opts.trace), new Samples)
    val originNs = System.nanoTime()
    val result =
      if (opts.prepare) { Workloads.prepare(ctx); WorkloadResult(Nil, Map.empty, Nil, Map.empty) }
      else opts.workload match {
        case "hourly_ingest" => Workloads.hourlyIngest(ctx, cfg)
        case "bulk_backfill" => Workloads.bulkBackfill(ctx, cfg)
        case "query_mix" => Workloads.queryMix(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    if (opts.trace && !opts.prepare && !ctx.interrupted) Workloads.sweep(ctx)
    if (!opts.prepare) Workloads.checkResidue(ctx, landing)

    val spansFile = opts.work.resolve("spans.jsonl")
    if (opts.trace) ctx.tracer.write(spansFile, originNs)
    val ops = result.opMs
    val metrics: Seq[(String, Double)] =
      if (ops.isEmpty) Nil
      else Seq(
        "setup_s" -> setupS,
        "op_p50_ms" -> result.typicalOpMs,
        "pass_s" -> result.bestPassS,
        "peak_rss_mb" -> peakRssMb)
    val layerJson =
      if (!opts.trace) "{}"
      else Json.nums(ctx.layers.means ++ Workloads.streamLayers(ctx))
    val json = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "seed" -> opts.seed.toString,
      "trace" -> opts.trace.toString,
      "metrics" -> Json.nums(metrics),
      "layers" -> layerJson,
      "self_ms" -> (if (opts.trace) Json.nums(ctx.tracer.selfMs) else "{}"),
      "spans" -> (if (opts.trace) Json.str(spansFile.toString) else "null"),
      "op_ms" -> Json.arr(ops.map(Json.num)),
      "pass_s" -> Json.arr(result.passS.map(Json.num)),
      "detail" -> Json.nums(result.detail),
      "attempted" -> ctx.attempted.toString,
      "failures" -> Json.arr(ctx.failures.map(Json.str))))
    Files.writeString(opts.out, json + "\n")
    Workloads.progress("result written")
    // Nothing is left to flush: the result is on disk and the landed data is
    // scratch. Halting skips Spark's shutdown hooks, which only cost time.
    Runtime.getRuntime.halt(0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
}

/** A workload's timed samples: per-operation latencies (ms) in run order and
  * by operation (hour or query), per-pass totals (s), and workload-specific
  * detail figures.
  */
final case class WorkloadResult(opMs: Seq[Double], byOp: Map[String, Seq[Double]],
    passS: Seq[Double], detail: Map[String, Double]) {
  // Host slowdowns only ever add time, so each operation's fastest run in
  // the window is the steadiest estimate of its cost. Both figures are NaN
  // unless every operation ran.
  private def fastestMs: Option[Seq[Double]] =
    if (byOp.isEmpty || byOp.values.exists(_.isEmpty)) None
    else Some(byOp.values.map(_.min).toSeq)

  /** The typical operation (ms): the median over operations (hours or
    * queries) of each one's fastest run.
    */
  def typicalOpMs: Double = fastestMs.map(Stats.quantile(_, 0.5)).getOrElse(Double.NaN)

  /** One pass made of every operation's fastest run (s). */
  def bestPassS: Double = fastestMs.map(_.sum / 1e3).getOrElse(Double.NaN)
}

/** Minimal HTTP/1.1 client for the ingest API on localhost. */
object Http {
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()

  private def send(port: Int, method: String, path: String): (Int, String) = {
    val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, java.net.http.HttpRequest.BodyPublishers.noBody())
      .timeout(java.time.Duration.ofSeconds(60)).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def get(port: Int, path: String): (Int, String) = send(port, "GET", path)
  def put(port: Int, path: String): (Int, String) = send(port, "PUT", path)
}
