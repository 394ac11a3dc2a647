package graftbench

import graft.SparkEntry
import graft.api.IngestApi
import graft.core._
import graft.operators.{JobLog, Workflow}
import graft.sources.{HivePartitionedSource, LandingTable, PartitionProbe}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Workloads {

  private val JobIdRe = "\"job_id\":\"([^\"]+)\"".r.unanchored
  private val StateRe = "\"name\":\"([A-Z_]+)\"".r.unanchored
  private val PollGapNs = 2000000L

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def progress(msg: String): Unit = System.err.println(
    f"[graftbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s  $msg")

  private def warmupPasses(ctx: Ctx): Int = ctx.manifest.root.get("warmup_passes").asInt()

  /** Time one call into a layer: a span in the trace and a sample of `name`.
    * Unrecorded calls (warm-up) run the body only.
    */
  private def layer[T](ctx: Ctx, name: String, record: Boolean = true)(body: => T): T =
    if (!record) body
    else {
      val t0 = System.nanoTime()
      val out = ctx.tracer.span(name)(body)
      ctx.layers.add(name, (System.nanoTime() - t0) / 1e6)
      out
    }

  /** One scheduled-path ingest over HTTP: `GET exists`, `PUT ingest`, then
    * `GET status` every few ms until the job leaves RUNNING. Returns the
    * latency from sending the PUT to first seeing SUCCESS, in ms.
    */
  def ingestOverHttp(ctx: Ctx, port: Int, h: Hour, record: Boolean = true): Double = {
    val (_, exists) = layer(ctx, "api.exists_ms", record)(
      Http.get(port, s"/partition/${h.id}/exists/in-bucket"))
    require(exists.trim == "1", s"exists answered '$exists'")
    val t0 = System.nanoTime()
    val (code, body) = layer(ctx, "api.put_ms", record)(
      Http.put(port, s"/partition/${h.id}/ingest"))
    require(code == 201, s"ingest answered $code: $body")
    val jobId = body match {
      case JobIdRe(id) => id
      case _ => throw new IllegalStateException(s"no job id in $body")
    }
    var state = "RUNNING"
    var last = body
    var polls = 0
    val deadline = t0 + 60000000000L
    while (state == "RUNNING" && System.nanoTime() < deadline && !ctx.interrupted) {
      LockSupport.parkNanos(PollGapNs)
      val (c, b) = layer(ctx, "api.status_ms", record)(
        Http.get(port, s"/load_job/$jobId/status"))
      require(c == 200, s"status answered $c: $b")
      polls += 1
      last = b
      state = b match { case StateRe(s) => s; case _ => "UNKNOWN" }
    }
    val latency = (System.nanoTime() - t0) / 1e6
    if (record) ctx.layers.add("api.polls_per_job", polls)
    require(state == "SUCCESS", s"job $jobId ended $state: $last")
    latency
  }

  /** hourly_ingest: consecutive small hours ingested over HTTP, in the
    * seed's order, pass after pass; every pass after the first re-ingests
    * (overwrites) each hour. The timed loop is one closed-loop client; the
    * untimed warm-up runs one client per core, each on its own hours, so the
    * JIT warms in a fraction of the time.
    */
  def hourlyIngest(ctx: Ctx, cfg: IngestConfig): WorkloadResult = {
    val hours = ctx.manifest.hours
    val port = ctx.engine.port
    val ingested = java.util.concurrent.ConcurrentHashMap.newKeySet[Hour]()
    def op(h: Hour, timed: Boolean): Option[Double] = ctx.attempt(s"ingest ${h.id}") {
      val lat =
        if (timed) ctx.timed("ingest")(ingestOverHttp(ctx, port, h))._1
        else ingestOverHttp(ctx, port, h, record = false)
      ingested.add(h)
      val landed = landedRows(ctx, cfg, h)
      require(landed == h.rows, s"hour ${h.id} landed $landed rows, source has ${h.rows}")
      lat
    }
    val clients = Main.cpus
    val perClient = ctx.manifest.root.get("warmup_ops").asInt() / clients
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try {
      val warm = (0 until clients).map { c =>
        val mine = hours.zipWithIndex.collect { case (h, i) if i % clients == c => h }
        pool.submit(() => Iterator.continually(mine).flatten.take(perClient)
          .filter(_ => !ctx.interrupted).flatMap(op(_, timed = false)).toSeq)
      }.flatMap(_.get())
      progress(f"warm-up: ${warm.size} ingests by $clients clients, p50 ${Stats.quantile(warm, 0.5)}%.1f ms")
    } finally pool.shutdown()
    val opMs = mutable.ArrayBuffer.empty[Double]
    val byHour = mutable.LinkedHashMap(hours.map(_.id -> mutable.ArrayBuffer.empty[Double]): _*)
    val passS = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (elapsedS(t0) < ctx.opts.seconds && !ctx.interrupted) {
      val lat = hours.filter(_ => !ctx.interrupted).flatMap(h =>
        op(h, timed = true).map { ms => byHour(h.id) += ms; ms })
      opMs ++= lat
      if (lat.size == hours.size) passS += lat.sum / 1e3
      progress(f"pass ${passS.size}: ${lat.sum / 1e3}%.2f s of ingest latency")
    }
    contentCheck(ctx, cfg, hours.filter(ingested.contains))
    WorkloadResult(opMs.toSeq, byHour.view.mapValues(_.toSeq).toMap, passS.toSeq, Map(
      "ingest_p50_ms" -> Stats.quantile(opMs.toSeq, 0.5),
      "ingest_p90_ms" -> Stats.quantile(opMs.toSeq, 0.9),
      "timed_ingests" -> opMs.size.toDouble))
  }

  /** Row count of one landed hour, from the parquet footers (no Spark job). */
  def landedRows(ctx: Ctx, cfg: IngestConfig, h: Hour): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val dir = new HPath(PartitionCodec.toDir(cfg.landingPath, h.partition))
    dir.getFileSystem(conf).listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** bulk_backfill: `Workflow.backfill` over a range of large hours. The
    * per-hour latency comes from the workflow's own result lines (one per
    * hour, emitted on the calling thread as each hour finishes).
    */
  def bulkBackfill(ctx: Ctx, cfg: IngestConfig): WorkloadResult = {
    val hours = ctx.manifest.hours
    val rows = hours.map(_.rows).sum
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val sink: (String, String) => Unit = (_, line) =>
      if (line.contains("\"event\":\"workflow_result\"")) marks.add(System.nanoTime())
    JobLog.addSink(sink)
    def pass(): Option[(Double, Seq[Double])] = ctx.attempt("backfill") {
      marks.clear()
      val t0 = System.nanoTime()
      val (results, ms) = ctx.timed("workflow.backfill")(Workflow.backfill(
        ctx.spark, ctx.engine.runner, cfg, hours.head.partition, hours.last.partition))
      val bad = results.filter(_._2.status != JobState.Success)
      require(bad.isEmpty, s"backfill hours not SUCCESS: ${bad.map { case (h, r) =>
        s"${PartitionCodec.toBqId(h)}=${r.status.name} ${r.msg.getOrElse("")}" }.mkString("; ")}")
      require(results.size == hours.size, s"backfill ran ${results.size} of ${hours.size} hours")
      val ends = marks.asScala.toSeq
      val perHour = (t0 +: ends).sliding(2).map { case Seq(a, b) => (b - a) / 1e6 }.toSeq
      require(perHour.size == hours.size, s"saw ${perHour.size} workflow results")
      (ms / 1e3, perHour)
    }
    try {
      for (_ <- 1 to warmupPasses(ctx) if !ctx.interrupted) pass()
      progress("warm-up done")
      val opMs = mutable.ArrayBuffer.empty[Double]
      val passS = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while ((elapsedS(t0) < ctx.opts.seconds || passS.isEmpty) && !ctx.interrupted &&
          ctx.failures.size < 3)
        pass().foreach { case (s, perHour) =>
          passS += s; opMs ++= perHour
          progress(f"pass ${passS.size}: $s%.2f s")
        }
      contentCheck(ctx, cfg, hours)
      val wall = if (passS.isEmpty) Double.NaN else Stats.quantile(passS.toSeq, 0.5)
      val byHour = hours.indices.map(i => hours(i).id -> opMs.indices
        .filter(_ % hours.size == i).map(opMs(_))).toMap
      WorkloadResult(opMs.toSeq, byHour, passS.toSeq, Map(
        "backfill_rows_per_s" -> rows / wall, "rows_per_pass" -> rows.toDouble,
        "timed_passes" -> passS.size.toDouble))
    } finally JobLog.removeSink(sink)
  }

  private def runQuery(ctx: Ctx, q: String): DataFrame =
    SparkEntry.queries(q)(ctx.spark, ctx.manifest.text("data_dir"))

  /** query_mix: a fixed list of SparkEntry queries, batch and micro-batch
    * stream, in the seed's order, each to the noop sink. The first pass is
    * the correctness pass: it writes every result for the DuckDB oracle
    * check and is not timed.
    */
  def queryMix(ctx: Ctx): WorkloadResult = {
    val qs = ctx.manifest.queries
    val oracleDir = ctx.opts.work.resolve("oracle")
    for (q <- qs if !ctx.interrupted) {
      ctx.attempt(s"$q (correctness pass)") {
        runQuery(ctx, q).coalesce(1).write.mode("overwrite").parquet(oracleDir.resolve(q).toString)
      }
      progress(s"correctness pass: $q")
      ctx.spark.catalog.clearCache()
    }
    progress("correctness pass done")
    Files.createDirectories(oracleDir)
    Files.writeString(oracleDir.resolve("oracle_sql.json"),
      Json.obj(qs.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))
    for (_ <- 2 to warmupPasses(ctx); q <- qs if !ctx.interrupted) {
      ctx.attempt(s"$q (warm-up)")(noop(runQuery(ctx, q)))
      ctx.spark.catalog.clearCache()
    }
    if (ctx.tracer.enabled) {
      // stream figures cover the timed passes only, not the warm-up
      org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext)
      EngineProbe.drainBatches()
    }
    val perQuery = mutable.LinkedHashMap(qs.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val opMs = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val batchS = mutable.ArrayBuffer.empty[Double]
    val streamS = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    // at least two passes, so every query's fastest run is a best of two
    while ((elapsedS(t0) < ctx.opts.seconds || passS.size < 2) && !ctx.interrupted &&
        ctx.failures.size < 3) {
      var b = 0.0
      var s = 0.0
      var whole = true
      for (q <- qs) {
        ctx.attempt(q) {
          val (_, ms) = ctx.timed(s"query.$q")(noop(runQuery(ctx, q)))
          ms
        } match {
          case Some(ms) =>
            opMs += ms; perQuery(q) += ms
            if (isStream(q)) s += ms / 1e3 else b += ms / 1e3
            if (ctx.tracer.enabled) ctx.layers.add(s"query.${q}_s", ms / 1e3)
          case None => whole = false
        }
        ctx.spark.catalog.clearCache()
      }
      if (whole) { passS += b + s; batchS += b; streamS += s }
      progress(f"pass ${passS.size}: ${b + s}%.2f s")
    }
    val med = (xs: Seq[Double]) => if (xs.isEmpty) Double.NaN else Stats.quantile(xs, 0.5)
    WorkloadResult(opMs.toSeq, perQuery.view.mapValues(_.toSeq).toMap, passS.toSeq, Map(
      "query_mix_s" -> med(batchS.toSeq), "stream_mix_s" -> med(streamS.toSeq),
      "timed_passes" -> passS.size.toDouble) ++
      perQuery.map { case (q, xs) => s"query.${q}_s" -> med(xs.toSeq) / 1e3 })
  }

  def isStream(q: String): Boolean = q.startsWith("st")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Untimed preparation of the query mix's memoised state (the served
    * index, exported fixtures): one pass over the mix.
    */
  def prepare(ctx: Ctx): Unit =
    for (q <- ctx.manifest.queries) {
      ctx.attempt(s"$q (prepare)")(noop(runQuery(ctx, q)))
      ctx.spark.catalog.clearCache()
    }

  /** Every ingested hour's landed row count and order-insensitive content
    * hash equal those of its source hour. The source side splits the raw
    * lines itself and casts each field, so it does not share the engine's
    * CSV parser.
    */
  def contentCheck(ctx: Ctx, cfg: IngestConfig, hours: Seq[Hour]): Unit = {
    val spark = ctx.spark
    val names = cfg.schema.fieldNames.toSeq
    def digest(df: DataFrame): Map[String, (Long, Long, Long)] =
      df.select(col("k"), xxhash64(names.map(col): _*).as("h"))
        .groupBy("k")
        .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
          sum(shiftright(col("h"), 32).bitwiseAND(0xffffffffL)))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    progress("content check")
    ctx.attempt("content check") {
      val fields = split(col("value"), "\t", -1)
      val hivePath = "year=(\\d{4})/month=(\\d{2})/day=(\\d{2})/hour=(\\d{2})"
      val src = spark.read.text(hours.map(h => PartitionCodec.toGlob(cfg.sourceBase, h.partition)): _*)
        .select((cfg.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          fields.getItem(i).cast(f.dataType).as(f.name) } :+
          concat((1 to 4).map(g => regexp_extract(input_file_name(), hivePath, g)): _*).as("k")): _*)
      val landed = LandingTable.read(spark, cfg)
        .withColumn("k", format_string("%04d%02d%02d%02d",
          col("year").cast("int"), col("month").cast("int"), col("day").cast("int"),
          col("hour").cast("int")))
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.global
      val (fs, fl) = (Future(digest(src)), Future(digest(landed)))
      val s = Await.result(fs, scala.concurrent.duration.Duration.Inf)
      val l = Await.result(fl, scala.concurrent.duration.Duration.Inf)
      val bad = hours.filter(h => !s.get(h.id).contains(l.getOrElse(h.id, null)) ||
        !s.get(h.id).map(_._1).contains(h.rows))
      require(bad.isEmpty, s"content differs for hours ${bad.map(_.id).mkString(",")}")
      require(l.keySet == hours.map(_.id).toSet, s"landing holds hours ${l.keys.toSeq.sorted}")
    }
  }

  /** No `.staging-*` or `.trash-*` residue in any landing root. */
  def checkResidue(ctx: Ctx, landing: Path): Unit = {
    val roots = Seq(landing, ctx.opts.work.resolve("sweep-landing"))
    val residue = roots.filter(Files.isDirectory(_)).flatMap(r =>
      Files.list(r).iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".staging-") || n.startsWith(".trash-")))
    ctx.check(s"commit residue ${residue.mkString(",")}")(residue.isEmpty)
  }

  /** Traced runs only: direct calls into each layer's public functions on a
    * sample of the workload's own inputs, so every layer is measured on every
    * workload.
    */
  def sweep(ctx: Ctx): Unit = {
    val m = ctx.manifest
    val spark = ctx.spark
    val runner = ctx.engine.runner
    val cfg = Main.ingestConfig(m, m.text("sweep_raw"), ctx.opts.work.resolve("sweep-landing"))
    val api = new IngestApi(spark, runner, cfg)
    val port = api.start(0)
    try {
      for (_ <- 1 to m.root.get("sweep_reps").asInt(); h <- m.sweepHours if !ctx.interrupted) {
        val p = h.partition
        ctx.attempt(s"sweep ${h.id}") {
          require(layer(ctx, "probe.exists_ms")(PartitionProbe.exists(spark, cfg, p)), "probe: absent")
          layer(ctx, "source.read_ms")(noop(HivePartitionedSource.read(spark, cfg, p)))
          ctx.layers.add("source.rows", h.rows)
          ctx.layers.add("source.bytes", h.bytes)
          layer(ctx, "landing.overwrite_ms")(
            LandingTable.overwritePartitions(HivePartitionedSource.read(spark, cfg, p), cfg))
          val files = Option(new java.io.File(
              PartitionCodec.toDir(cfg.landingPath.stripPrefix("file:"), p)).listFiles())
            .getOrElse(Array.empty[java.io.File])
            .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          ctx.layers.add("landing.files_written", files.length)
          ctx.layers.add("landing.bytes_written", files.map(_.length()).sum.toDouble)
          layer(ctx, "landing.readback_ms")(noop(LandingTable.readPartition(spark, cfg, p)))
          val meta = runner.assemble(cfg, p)
          val t0 = System.nanoTime()
          val started = layer(ctx, "runner.start_ms")(runner.start(cfg, meta))
          require(started == JobState.Running, s"runner.start returned ${started.name}")
          var st: Either[Any, (JobState, Option[String])] = runner.poll(meta.jobId)
          while (st == Right((JobState.Running, None)) && !ctx.interrupted) {
            LockSupport.parkNanos(200000L)
            st = runner.poll(meta.jobId)
          }
          ctx.layers.add("runner.job_ms", (System.nanoTime() - t0) / 1e6)
          require(st.exists(_._1 == JobState.Success), s"runner job ended $st")
          val r = layer(ctx, "workflow.hour_ms")(Workflow.runAndAwait(spark, runner, cfg, Some(p)))
          require(r.status == JobState.Success, s"workflow ended ${r.status.name}: ${r.msg}")
          ingestOverHttp(ctx, port, h)
        }
      }
      val ckpt = ctx.opts.work.resolve("sweep-stream-ckpt")
      val sLanding = ctx.opts.work.resolve("sweep-stream-landing")
      Seq(ckpt, sLanding).foreach(deleteTree)
      ctx.attempt("sweep stream") {
        val scfg = Main.ingestConfig(m, m.text("sweep_raw"), sLanding)
        layer(ctx, "stream.run_ms") {
          val q = graft.streaming.StreamingIngest.rawToLanding(spark, scfg, ckpt.toString)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
        val landed = spark.read.parquet(sLanding.toString).count()
        val expected = m.sweepHours.map(_.rows).sum
        require(landed == expected, s"stream landed $landed rows of $expected")
      }
    } finally api.stop()
  }

  /** Micro-batch figures of every stream in a traced run (means per batch). */
  def streamLayers(ctx: Ctx): Map[String, Double] = {
    org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext)
    val bs = EngineProbe.drainBatches()
    val runs = math.max(1, ctx.layers.get("stream.run_ms").size +
      ctx.manifest.queries.filter(isStream).map(q => ctx.layers.get(s"query.${q}_s").size).sum)
    def mean(k: String) = bs.map(_.getOrElse(k, 0L).toDouble).sum / math.max(1, bs.size)
    Map("stream.batches" -> bs.size.toDouble / runs,
      "stream.batch_ms" -> mean("triggerExecution"),
      "stream.addBatch_ms" -> mean("addBatch"),
      "stream.queryPlanning_ms" -> mean("queryPlanning"),
      "stream.walCommit_ms" -> mean("walCommit"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}
