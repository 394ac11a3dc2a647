package graft.operators

import graft.core._
import graft.sources.{HivePartitionedSource, LandingTable, MutationOps, ParquetFooterSchema, SnapshotLog, StampedArtifact}
import graft.streaming.{RunningTotals, Sessionize, StreamingIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference's own pipeline (S1 hive TSV scan, S2 partition-overwrite
  * sink, S3 partitioned+clustered landing DDL, J1-J3 job machine, O1
  * workflow) exercised END TO END inside the correctness gate: each query
  * exports the `events` table to hive-partitioned TSV under the exact file
  * contract (`/root/reference/ingestion/bigquery_interaction.py:17-26`),
  * ingests it back through the engine, and returns aggregates of the landing
  * table that a duckdb oracle reproduces directly from the original parquet.
  * A lossless round-trip is exactly what hash-equality proves.
  *
  * Scale note: the batch ingest uses ONE staged-partition-swap job for
  * all hours (Spark-first; per-hour jobs are the reference's BigQuery-ism).
  * It is shuffle-free: scan -> derive partition cols -> local sort
  * (clustering) -> fan-out write. The per-hour JobRunner path is exercised by
  * `j1_job_lifecycle`/`o1_workflow` below on a single hour.
  */
object IngestParityQueries {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def cfgFor(base: String, landing: String) = IngestConfig(
    sourceBase = base, landingPath = landing, schema = eventsSchema,
    partitionField = "ts", clusterField = "user_id")

  /** Export events as hive-partitioned TSV per the reference contract;
    * returns (rawBase, landingPath) temp dirs. Memoized per (sfDir, scope) so
    * the three parity queries share one export; `firstHourOnly` keeps the
    * control-plane queries (which ingest a single hour) from exporting the
    * whole month of partitions.
    */
  private val exportCache =
    new scala.collection.concurrent.TrieMap[(String, Boolean), (String, String)]

  /** Parity scratch space lives under the build's own `target/` (same
    * filesystem as the repo, never cleaned by external tmp reapers — a /tmp
    * export tree disappearing mid-bench is a failure mode we have hit).
    * Dirs are keyed by (sfDir, scope) and rewritten with mode=overwrite, so
    * re-runs converge instead of littering. Returns the created
    * `target/parity/<kind>-<first|full>-<sf tag>`.
    */
  private def scopedDir(kind: String, sfDir: String, firstHourOnly: Boolean): String = {
    val scope = if (firstHourOnly) "first" else "full"
    val d = ScratchDirs.parity(s"$kind-$scope-${ScratchDirs.tag(sfDir)}")
    new java.io.File(d).mkdirs()
    d
  }

  /** Recreate a scratch dir empty — streaming checkpoints track processed
    * paths, so a stale checkpoint would silently skip a (re)exported tree.
    */
  private def recreate(spark: SparkSession, dirs: String*): Unit = {
    MicroBatchJob.wipe(spark, dirs.map(d => s"file:$d"): _*)
    dirs.foreach(d => new java.io.File(d).mkdirs())
  }

  /** Where a replay's rows go. */
  private sealed trait Sink
  /** A memory table, named after the replay's kind, on its session. */
  private final case class MemoryTable(outputMode: String = "append") extends Sink
  /** The caller's body, run on each micro-batch. */
  private final case class EachBatch(body: (DataFrame, Long) => Unit) extends Sink

  /** Start the stream `start` builds on a fresh stream session
    * ([[MicroBatchJob.streamSession]], 8 shuffle partitions) and wait
    * until it has drained every arrived file. Returns that session: a
    * memory sink's table is registered there, so the read-back is built
    * from it.
    */
  private def drained(spark: SparkSession)(
      start: SparkSession => StreamingQuery): SparkSession = {
    val ss = MicroBatchJob.streamSession(spark, 8)
    start(ss).awaitTermination()
    ss
  }

  /** The sink/start step of a replay: `out` into `sink` under the
    * checkpoint `ckpt`, with `AvailableNow`, so a run replays what has
    * arrived and stops.
    */
  private def startSink(out: DataFrame, kind: String, ckpt: String,
      sink: Sink): StreamingQuery = {
    val w = out.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    (sink match {
      case MemoryTable(mode) => w.format("memory").queryName(kind).outputMode(mode)
      case EachBatch(body) => w.foreachBatch(body)
    }).start()
  }

  /** One generic replay of the TSV export. The checkpoint of `kind` is
    * recreated, then `query` builds the stream from the file stream of
    * the export's `day=<days>` hours (a fresh source per call, for the
    * two-sided joins) on the replay's session, which is returned once
    * the stream has drained into `sink`. An [[EachBatch]] body maintains
    * a table across batches, so its replay arrives 8 files per batch and
    * the maintenance provably composes; a memory table takes each run
    * whole.
    */
  private def replay(spark: SparkSession, sfDir: String, kind: String,
      days: String, sink: Sink = MemoryTable())(
      query: (SparkSession, () => DataFrame) => DataFrame): SparkSession = {
    val (rawBase, _) = exportEventsTsv(spark, sfDir)
    val ckpt = scopedDir(s"$kind-ckpt", sfDir, firstHourOnly = false)
    recreate(spark, ckpt)
    val cfg = cfgFor(rawBase, "unused")
    val filesPerTrigger = sink match {
      case _: EachBatch => Some(8)
      case _: MemoryTable => None
    }
    drained(spark) { ss =>
      val hours = () => StreamingIngest.tsvStream(ss, cfg,
        StreamingIngest.dayHours(days), filesPerTrigger)
      startSink(query(ss, hours), kind, ckpt, sink)
    }
  }

  private def exportEventsTsv(spark: SparkSession, sfDir: String,
      firstHourOnly: Boolean = false): (String, String) =
    exportCache.getOrElseUpdate((sfDir, firstHourOnly), {
      val raw = scopedDir("raw", sfDir, firstHourOnly)
      val landing = scopedDir("landing", sfDir, firstHourOnly)
      val events0 = RelationalQueries.eventsTable(spark, sfDir)
      val events =
        if (firstHourOnly)
          events0.filter(date_trunc("hour", col("ts")) ===
            events0.agg(min(date_trunc("hour", col("ts")))).collect()(0).getTimestamp(0))
        else events0
      // The export is fixture scaffolding (the operators under test are the
      // scan/ingest side), so it is also memoized ACROSS JVMs: a marker
      // records (sfDir, scope, row count); when it matches, the tree on disk
      // is the same deterministic export this code would rewrite. Written
      // only after a verified export, so a crash mid-write never leaves a
      // valid marker on a partial tree.
      val n = events.count()
      // stamp includes the source parquet's (size, mtime): a driver-side
      // testdata regeneration with the SAME row count must still invalidate
      // the export (r13 incident: a regen plus an events-reader type change
      // left a tree whose ts text the reader parsed as all-NULL, behind a
      // count-only marker that still matched)
      val src = new java.io.File(s"$sfDir/events.parquet")
      val stamp = s"$sfDir|$firstHourOnly|$n|${src.length()}|${src.lastModified()}"
      StampedArtifact.getOrBuild(raw, "._export_ok", stamp) {
        LandingTable.withPartitionColumns(events, "ts")
          // co-locate each hour's rows into one task => one file per partition
          // dir (matches the reference's per-hour file sets; avoids a storm of
          // tiny files when hours >> tasks)
          .repartition(LandingTable.PartitionCols.map(col): _*)
          .write.mode("overwrite")
          .partitionBy(LandingTable.PartitionCols: _*)
          .options(CsvOptions.toWriterOptions(CsvOptions()))
          .csv(s"file:$raw")
        val written = new java.io.File(raw).listFiles()
        require(written != null && written.exists(_.getName.startsWith("year=")),
          s"parity TSV export produced no partition dirs under $raw")
        // round-trip guard: the reader contract must parse the writer's text
        // (a TimestampNTZ column once slipped through the writer under
        // timestampNTZFormat's different default, nulling every ts on read)
        val parsedNullTs = spark.read.schema(eventsSchema)
          .options(CsvOptions.toReaderOptions(CsvOptions()))
          .csv(s"file:$raw/year=*/month=*/day=*/hour=*")
          .filter(col("ts").isNull).count()
        require(parsedNullTs == 0,
          s"parity TSV export: $parsedNullTs rows have unparseable ts under $raw")
      }
      (s"file:$raw", s"file:$landing")
    })

  /** Per-hour aggregate of the landing table after a full TSV round-trip
    * (S1 + S2 + S3). Oracle = same aggregate on the original events parquet:
    * equality proves the scan/parse/partition/write chain is lossless.
    */
  def s1s2IngestRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val (rawBase, landingPath) = exportEventsTsv(spark, sfDir)
    val cfg = cfgFor(rawBase, landingPath)
    val all = HivePartitionedSource.readTree(spark, cfg, rawBase)
      .select(eventsSchema.fieldNames.map(col): _*) // drop discovered partition cols
    LandingTable.overwritePartitions(all, cfg)
    LandingTable.read(spark, cfg)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("min_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("max_ts"),
        sum(length(col("props"))).as("props_len"))
  }

  /** s4: QUARANTINE INGEST — BigQuery's `max_bad_records` load semantics
    * ([[graft.sources.HivePartitionedSource.withQuarantine]]): the
    * first-hour TSV export plus an injected file of 5 malformed lines
    * (unparseable types, and wrong-arity rows whose present cells parse) is read PERMISSIVE-with-capture;
    * malformed rows are EXCLUDED from the good frame and counted, not
    * silently nulled (PERMISSIVE default) and not a whole-job failure
    * (FAILFAST). The result is the good rows' aggregate + the quarantine
    * count; the oracle restates the aggregate from the original parquet
    * (proving zero good rows were lost or nulled by the bad neighbors in
    * the same file set) and the injected constant 5. The job-machine
    * enforcement of the budget (FAILURE past `maxBadRecords`) is pinned in
    * `IngestPipelineSpec`.
    */
  /** The shared corrupt fixture for s4/st16: the first-hour TSV export
    * copied next to one injected file of 5 malformed lines. Memoized on the
    * source files' names+sizes; returns the dirty tree root (local path).
    */
  private def dirtyFirstHourTree(spark: SparkSession, sfDir: String): java.io.File = {
    val (rawBase, _) = exportEventsTsv(spark, sfDir, firstHourOnly = true)
    val srcRoot = new java.io.File(rawBase.stripPrefix("file:"))
    val dirty = new java.io.File(scopedDir("quarantine-raw", sfDir,
      firstHourOnly = true))
    // fixture memo: copy the (single-hour) export tree and add one file of
    // malformed lines; stamp = source data-file names+sizes so a re-export
    // invalidates the copy
    val srcFiles = {
      def rec(f: java.io.File): Seq[java.io.File] = {
        val cs = Option(f.listFiles()).getOrElse(Array.empty)
        cs.filter(_.isFile).toSeq ++ cs.filter(_.isDirectory).flatMap(rec)
      }
      rec(srcRoot).filter(f => f.getName.startsWith("part-"))
        .sortBy(_.getAbsolutePath)
    }
    require(srcFiles.nonEmpty, s"no exported files under $srcRoot")
    // "v2" = the injected-lines version: bump when part-bad.tsv content
    // changes so memoized trees regenerate
    val stamp = "v2|" + srcFiles.map(f => s"${f.getName}:${f.length}").mkString("|")
    StampedArtifact.getOrBuild(dirty.toString, "._dirty_ok", stamp) {
      recreate(spark, dirty.toString)
      srcFiles.foreach { f =>
        val rel = f.getAbsolutePath.stripPrefix(srcRoot.getAbsolutePath)
          .stripPrefix("/")
        val dst = new java.io.File(dirty, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.copy(f.toPath, dst.toPath)
      }
      val badDir = new java.io.File(dirty,
        srcFiles.head.getParentFile.getAbsolutePath
          .stripPrefix(srcRoot.getAbsolutePath).stripPrefix("/"))
      // Five bad lines covering both failure classes: cell-level parse
      // failures AND wrong-arity rows whose present typed cells all parse
      // cleanly — the latter are invisible to Spark's CSV PERMISSIVE
      // (missing fields null-filled, extras dropped) but count as bad
      // records to BigQuery; parseLinesWithCapture's arity check catches
      // them.
      java.nio.file.Files.write(
        new java.io.File(badDir, "part-bad.tsv").toPath,
        ("corrupt\tline\n" +
          "x\tnot-a-timestamp\ty\tz\tnot-a-double\tp\n" +
          "9\t9\t9\t9\t9\t9\textra\tcolumns\there\n" +
          "5\t2023-06-27 00:00:01\t5\tunder_arity\t1.5\n" +
          "6\t2023-06-27 00:00:02\t6\tover_arity\t2.5\tp\textra\n"
          ).getBytes("UTF-8"))
    }
    dirty
  }

  def s4QuarantineIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val dirty = dirtyFirstHourTree(spark, sfDir)
    HivePartitionedSource.withQuarantine(spark, eventsSchema, CsvOptions(),
      s"file:$dirty/year=*/month=*/day=*/hour=*") { (good, bad) =>
      // materialize INSIDE the quarantine scope (the withQuarantine
      // contract): the split classification is only stable while the
      // parsed frame is cached — a lazy aggregate escaping this block
      // would re-read the files under column pruning and reclassify
      quarantineResult(spark, good, bad.count())
    }
  }

  /** s4's and st16's result: the aggregate of the good rows, collected
    * eagerly, and the count of quarantined lines.
    */
  private def quarantineResult(spark: SparkSession, good: DataFrame,
      nBad: Long): DataFrame = {
    val row = good.agg(
      count(lit(1)).as("cnt_landed"),
      sum(col("event_id")).as("sum_eid"),
      sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .collect()(0)
    import spark.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getDouble(2), nBad))
      .toDF("cnt_landed", "sum_eid", "sum_value", "n_quarantined")
  }

  /** st16: STREAMING QUARANTINE — s4's bad-record capture running inside
    * the streaming ingest loop: the dirty first-hour tree is file-streamed
    * with PERMISSIVE-with-capture parsing, and every micro-batch splits
    * into good rows (appended to the landing parquet) and quarantined raw
    * lines (appended to a side table) — the bad-records side-channel a
    * production streaming ingest runs, where one corrupt file must neither
    * poison the landed data (silent nulls) nor wedge the stream (FAILFAST).
    * `maxFilesPerTrigger=1` forces multi-batch execution, so the split
    * provably composes across batches. Each batch persists before
    * splitting — the withQuarantine materialization contract applied
    * per-batch (corrupt classification is only stable on a materialized
    * frame). Oracle = s4's restatement: good aggregate from the original
    * parquet + the 5 injected lines.
    */
  def st16StreamingQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val dirty = dirtyFirstHourTree(spark, sfDir)
    val goodDir = scopedDir("squar-good", sfDir, firstHourOnly = true)
    val badDir = scopedDir("squar-bad", sfDir, firstHourOnly = true)
    val ckpt = scopedDir("squar-ckpt", sfDir, firstHourOnly = true)
    recreate(spark, goodDir, badDir, ckpt)
    val corruptCol = "_graft_corrupt"
    drained(spark) { ss =>
      // text-source + shared quarantine parser (not the csv source): the
      // same classification as batch s4, including the arity check Spark's
      // CSV PERMISSIVE cannot express
      val lines = ss.readStream
        .option("maxFilesPerTrigger", "1")
        .text(s"file:$dirty/year=*/month=*/day=*/hour=*")
      startSink(HivePartitionedSource.parseLinesWithCapture(
          lines, eventsSchema, CsvOptions(), corruptCol), "squar", ckpt,
        EachBatch { (batch, _) =>
          batch.persist()
          try {
            batch.filter(col(corruptCol).isNull)
              .select(eventsSchema.fieldNames.map(col): _*)
              .write.mode("append").parquet(s"file:$goodDir")
            batch.filter(col(corruptCol).isNotNull)
              .select(col(corruptCol).as("raw_record"))
              .write.mode("append").parquet(s"file:$badDir")
          } finally { batch.unpersist(); () }
        })
    }
    val nBad = ParquetFooterSchema.read(spark, s"file:$badDir").count()
    quarantineResult(spark, ParquetFooterSchema.read(spark, s"file:$goodDir"), nBad)
  }

  /** J1-J3: assemble -> start -> poll one load job for the earliest event
    * hour; returns the terminal job state and the landed row count for that
    * partition. Oracle reproduces the count from the original parquet and the
    * expected SUCCESS (code 2) terminal state.
    */
  def j1JobLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val (rawBase, landingPath) = exportEventsTsv(spark, sfDir, firstHourOnly = true)
    val cfg = cfgFor(rawBase, landingPath)
    val firstHour = RelationalQueries.table(spark, sfDir, "events")
      .agg(min(date_trunc("hour", col("ts")))).collect()(0).getTimestamp(0)
    val hour = PartitionHour.fromInstant(firstHour.toInstant) // session TZ is UTC

    val runner = new JobRunner(spark)
    val meta = runner.assemble(cfg, hour)
    runner.start(cfg, meta)
    val (finalState, _) = runner.await(meta.jobId)
    val landed = LandingTable.readPartition(spark, cfg, hour).count()
    import spark.implicits._
    Seq((finalState.name, finalState.code, landed))
      .toDF("state", "state_code", "rows_loaded")
  }

  /** st1: the Structured Streaming pipeline end-to-end inside the gate —
    * file-stream the TSV export, 40-minute watermark, 1-hour tumbling
    * windows, append-once `foreachBatch` partition overwrite
    * ([[graft.streaming.StreamingIngest.hourlyStats]]), then read the stats
    * table back. Only watermark-closed hours land (window.end <= final
    * watermark = max(ts) - 40min over the replayed scope), which the oracle
    * reproduces exactly — the late-data semantics of the reference's :40
    * cron, stream-native. Scope is glob-pruned to days 01-09 like
    * st3/st4/st5/st7 (the oracle mirrors the slice and its scope-local
    * watermark; `Round5QueriesSpec`'s st7-vs-st1 cross-check is
    * scope-robust): the emission rule is per-window, so the extra three
    * weeks of replay bought gate time, not proof.
    */
  def st1StreamingHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val (rawBase, _) = exportEventsTsv(spark, sfDir)
    val stats = scopedDir("stream-stats", sfDir, firstHourOnly = false)
    val ckpt = scopedDir("stream-ckpt", sfDir, firstHourOnly = false)
    recreate(spark, stats, ckpt)
    drained(spark)(StreamingIngest.hourlyStats(_, cfgFor(rawBase, "unused"),
      s"file:$stats", ckpt, dayGlob = "0*"))
    spark.read.option("basePath", s"file:$stats").parquet(s"file:$stats")
      .select(col("hour_ts"), col("cnt"))
  }

  /** st2: stateful streaming sessionization end-to-end in the gate —
    * file-stream the TSV export through
    * [[graft.streaming.Sessionize.sessionize]] (flatMapGroupsWithState,
    * 30-min gap, event-time timeout) into a memory sink. Emitted sessions =
    * every gap-closed session plus timeout-closed ones (last event + gap
    * strictly below the final watermark = max(ts) - 40min); the oracle
    * reproduces both rules from the batch window form. Scope is glob-pruned
    * to days 01-09 (st3's directory-pruning discipline, oracle mirrored
    * with a scoped CTE incl. the scope-local watermark): sessionization is
    * per-user-per-gap, so the full month of replay added scan time only.
    */
  def st2StreamingSessions(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "sess", days = "0*") { (ss, events) =>
      import ss.implicits._
      Sessionize.sessionize(events()
        .select(col("user_id"), col("ts"), col("event_id"))
        .as[Sessionize.Event])(ss).toDF()
    }.table("sess")
      .select(col("user_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"))

  /** st3: STREAM-STREAM interval join end-to-end in the gate — two file
    * streams over the same TSV export (views and purchases), both
    * watermarked, joined on user with `purchase.ts` in [view.ts, view.ts +
    * 30 min]. The watermark + time-range condition is what bounds join
    * state on an unbounded stream (each side retains only rows inside the
    * watermark horizon); with AvailableNow replay nothing is late, so the
    * emitted pairs equal the batch interval join, which the duckdb oracle
    * states directly. Output: per-user pair counts plus id checksums
    * (raw pairs would be O(matches) rows; the aggregate keeps the gate
    * result compact while still pinning every matched pair through the
    * sums).
    */
  def st3StreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    // demo scope = day=01 via PARTITION-GLOB pruning (st6's scope — both
    // stream-stream joins exercise the same per-row state machinery): each
    // side is its own file source, so directory pruning, not a post-read
    // filter, is what keeps two tree scans off the gate; the oracle mirrors
    // the scope with a day() predicate on both sides, which also keeps the
    // boundary consistent (a pair spanning midnight is excluded by BOTH)
    replay(spark, sfDir, "join", days = "01") { (_, events) =>
      viewPurchasePairs(events, "inner")
    }.table("join")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("v_id")).as("sum_v_id"), sum(col("p_id")).as("sum_p_id"))

  /** st3/st6's stream-stream join: views joined to the same user's
    * purchases within [v_ts, v_ts + 30 min], both sides watermarked 40
    * minutes, each side its own file source.
    */
  private def viewPurchasePairs(events: () => DataFrame,
      joinType: String): DataFrame = {
    val views = events().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", StreamingIngest.Grace)
    val purchases = events().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", StreamingIngest.Grace)
    views.join(purchases, expr(
      "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 30 MINUTES"),
      joinType)
      .select(col("v_user").as("user_id"), col("v_id"), col("p_id"))
  }

  /** st5: SLIDING windows — 1-hour windows every 30 minutes over the file
    * stream (each event lands in exactly ceil(1h/30min)=2 windows), append
    * mode, so a window emits once when the watermark passes its end. With
    * tumbling (st1) and session (st2) windows this completes the
    * windowing-mode surface. The duckdb oracle assigns each event its two
    * containing window starts directly and applies the same
    * watermark-closure rule; window state is bounded by (horizon / slide)
    * open windows regardless of throughput. Scope is glob-pruned to days
    * 01-09 (st3's directory-pruning discipline): the windowing semantics
    * are per-window and the oracle mirrors the scope, so the extra three
    * weeks of replay bought nothing but local-FS scan time.
    */
  def st5SlidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "slide", days = "0*") { (_, events) =>
      events()
        .withWatermark("ts", StreamingIngest.Grace)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("sum_uid"))
        .select(col("window.start").as("win_start"), col("cnt"), col("sum_uid"))
    }.table("slide").select("win_start", "cnt", "sum_uid")

  /** st4: STREAMING exact deduplication — `dropDuplicates` over the file
    * stream emits each (user_id, event_type) key once, on first arrival;
    * the memory sink then batch-aggregates unique users per type. No
    * watermark on the dedup state on purpose: the emitted KEY SET is then
    * the true global distinct regardless of how the replay splits into
    * micro-batches (state never expires, so a late re-occurrence can never
    * re-emit), which is what makes the oracle exact. The production
    * trade-off is documented AND exercised: [[st10DedupWithinWatermark]] is
    * the bounded-state `dropDuplicatesWithinWatermark` variant an unbounded
    * stream must use, accepting re-emission of keys idle past the horizon —
    * the same exactness-vs-state dial as every streaming dedup. Scope is
    * glob-pruned to days 01-09 (st3/st5's directory-pruning discipline,
    * mirrored by the oracle): the key-set semantics are scope-independent,
    * so the extra three weeks of 720-directory local-FS replay bought
    * nothing but gate time.
    */
  def st4StreamDedup(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "dedup", days = "0*") { (_, events) =>
      events().select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
    }.table("dedup")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique_users"),
        sum(col("user_id")).as("sum_user_ids"))

  /** st10: BOUNDED-STATE streaming dedup — `dropDuplicatesWithinWatermark`,
    * the variant st4's docstring promises: state for a key is kept only
    * until the watermark passes its event time plus the delay, so an
    * unbounded stream's dedup memory is bounded by the horizon instead of
    * growing with key cardinality forever. The price is re-emission: a key
    * idle past the horizon deduplicates afresh.
    *
    * Why the oracle is exact here UNDER ANY micro-batch split: the delay
    * (25 h) exceeds the replayed span (day=01 spans < 24 h), so the
    * watermark — never more than max(ts) − delay — stays below min(ts) for
    * the whole replay. No input row can ever be late-dropped and no dedup
    * state can evict (eviction needs watermark > t₀ + delay), regardless of
    * how the file source batches the hour directories: every key emits
    * exactly once and the emitted key set is the global distinct, stated
    * directly by the oracle — while the query still runs the bounded-state
    * operator (per-key expiry timers, watermark-driven eviction scans). The
    * re-emission side of the contract (idle keys past the horizon DO
    * re-emit) and in-horizon suppression are pinned with explicitly
    * controlled batches in `DedupWithinWatermarkSpec`.
    */
  def st10DedupWithinWatermark(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "dedupww", days = "01") { (_, events) =>
      events().select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "25 hours")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }.table("dedupww")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique_users"),
        sum(col("user_id")).as("sum_user_ids"))

  /** st11: STREAMING BACKFILL parity — the reference's backfill story
    * (`/root/reference/README.md:49-60`: re-run the hour's load, the
    * truncate decorator makes it idempotent) replayed stream-natively and
    * proven non-destructive. Day 01 is batch-landed with its FIRST hour
    * deliberately crippled (half the rows — a failed earlier load), then
    * [[graft.streaming.StreamingIngest.backfillHour]] streams exactly that
    * hour's raw TSV files back through the atomic truncate-and-replace
    * sink. The whole-day readback equals the original events iff the
    * replayed hour was fully repaired AND no other hour was disturbed —
    * both halves of the backfill contract in one hash. Untouched-partition
    * FILE identity (not just content) is pinned in `StreamingIngestSpec`.
    */
  def st11StreamingBackfill(spark: SparkSession, sfDir: String): DataFrame = {
    val (rawBase, _) = exportEventsTsv(spark, sfDir)
    val landing = scopedDir("backfill-landing", sfDir, firstHourOnly = false)
    val ckpt = scopedDir("backfill-ckpt", sfDir, firstHourOnly = false)
    recreate(spark, landing, ckpt)
    val cfg = cfgFor(rawBase, s"file:$landing")

    val day1 = RelationalQueries.eventsTable(spark, sfDir)
      .filter(dayofmonth(col("ts")) === 1)
    val h0 = day1.agg(min(date_trunc("hour", col("ts"))))
      .collect()(0).getTimestamp(0)
    val crippled = day1.filter(!(date_trunc("hour", col("ts")) === lit(h0) &&
      col("event_id") % 2 === 0))
    LandingTable.overwritePartitions(crippled, cfg)

    val hour = PartitionHour.fromInstant(h0.toInstant) // session TZ is UTC
    drained(spark)(StreamingIngest.backfillHour(_, cfg, hour, ckpt))
    LandingTable.read(spark, cfg)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
  }

  /** st12: BUILT-IN session windows — `groupBy(session_window(ts, gap))`
    * aggregation, the declarative sibling of st2's arbitrary-stateful
    * `flatMapGroupsWithState` sessionization. This completes the windowing
    * API surface: tumbling (st1), sliding (st5), chained (st7), custom
    * sessions (st2), built-in sessions (here). The operator merges
    * overlapping per-key windows in state (a session's window is
    * [first_ts, last_ts + gap)); in append mode a session emits exactly
    * once, when the watermark passes its end.
    *
    * Emission rule the oracle pins: final watermark = max(ts over scope)
    * ms-floored − 40 min; a session emits iff `last_ts + 30 min <=
    * watermark`. The oracle restates gap-sessionization in batch form
    * (st2's construction) and applies that closure rule; sessions still
    * open at the horizon sit in state and must NOT appear. Scope day=01
    * like st6/st8-st11 — session state is per (user, open session), so
    * directory pruning bounds replay cost without touching semantics.
    */
  def st12SessionWindowAgg(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "sesswin", days = "01") { (_, events) =>
      events()
        .withWatermark("ts", StreamingIngest.Grace)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_eid"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"), col("sum_eid"))
    }.table("sesswin")
      .select("user_id", "session_start_us", "session_end_us",
        "n_events", "sum_eid")

  /** st13: STREAMING CDC APPLY — a change stream incrementally maintaining a
    * keyed table on disk, the production upsert loop Spark has no built-in
    * operator for: `foreachBatch` drives [[graft.sources.MutationOps
    * .upsertLatest]] (conditional last-writer-wins merge into a key-bucket-
    * partitioned table) once per micro-batch. `maxFilesPerTrigger` forces a
    * MULTI-batch replay (the hour dirs arrive a few files at a time), so the
    * gate genuinely exercises incremental maintenance — state accreting
    * across batches — not a single-shot rewrite.
    *
    * Why the oracle is exact under ANY batch split/order: the merge compares
    * (ts, event_id) and keeps the greater, so the stored row for a key after
    * all batches is the arg-max over every change row regardless of which
    * batch delivered it — last-writer-wins is associative and commutative
    * over batches. The oracle states that directly: each user's latest
    * day=01 event by (ts, event_id). Per-batch cost is bounded by touched
    * key-buckets, never table size (the u1/u2 discipline applied to a
    * continuously-maintained serving table); out-of-order and file-identity
    * contracts are pinned in `MutationOpsSpec`.
    */
  def st13StreamingCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val tableDir = scopedDir("cdc-table", sfDir, firstHourOnly = false)
    recreate(spark, tableDir)
    val tablePath = s"file:$tableDir"
    replay(spark, sfDir, "cdc", days = "01", EachBatch { (batch, _) =>
      MutationOps.upsertLatest(batch.sparkSession, tablePath, batch,
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        nBuckets = 8)
    }) { (_, events) =>
      events().select(col("user_id"), col("ts"), col("event_type"),
        col("value"), col("event_id"))
    }
    spark.read.option("basePath", tablePath).parquet(tablePath)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"), col("event_id"))
  }

  /** st14: STREAM-STATIC join — the dimension-enrichment shape production
    * pipelines run constantly (enrich a click stream with a user table)
    * and the one streaming join variant the suite lacked: the static side
    * is a plain batch DataFrame re-planned fresh per micro-batch, the join
    * is STATELESS (no watermark, no join state — rows either match now or
    * never), and an inner join doubles as the stream-side filter (users
    * absent from the dimension drop out). The oracle restates the whole
    * thing as one batch join over the source parquet — exact under any
    * batch split because each row's join result is independent of batching.
    *
    * Scale shape: the dimension here broadcasts (per-batch broadcast of a
    * bounded user list — the common case for dims under the broadcast
    * threshold); an over-threshold dimension would instead pre-shuffle via
    * the b1 bucketed layout so each micro-batch joins co-located. No state
    * store is involved either way — memory cost is O(dim), constant in
    * stream length.
    */
  def st14StreamStaticJoin(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "sstatic", days = "01") { (ss, events) =>
      val dim = RelationalQueries.eventsTable(ss, sfDir)
        .select(col("user_id")).distinct()
        .filter(col("user_id") % 3 =!= 1)
        .withColumn("segment", pmod(col("user_id"), lit(5)))
      events().select(col("user_id"), col("event_id"), col("value"))
        .join(broadcast(dim), "user_id")
    }.table("sstatic")
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  /** st15: STREAMING COMMIT LOG — each micro-batch lands as one atomic
    * [[graft.sources.SnapshotLog]] commit (new immutable files + a manifest
    * carrying every prior file by reference), so the landing table gains a
    * VERSION HISTORY as it ingests: a reader pinned to version N sees a
    * consistent prefix of the stream forever, while the head advances —
    * the streaming-ingest × time-travel composition (Delta's transaction
    * log shape) built from the u7 primitive. The oracle checks the head:
    * the latest version must hold exactly the whole replayed day
    * regardless of how files were batched; the per-commit prefix property
    * (each version ⊇ its parent, by reference not copy) is pinned in
    * `SnapshotLogSpec`.
    *
    * Scale shape: per batch, commit cost = the batch's files + one
    * manifest write; nothing is rewritten, so ingest throughput is
    * independent of table size, and old versions are reclaimed by manifest
    * retention (the c4 sweep at file granularity, per the SnapshotLog
    * scaladoc).
    */
  def st15StreamingSnapshots(spark: SparkSession, sfDir: String): DataFrame = {
    val tableDir = scopedDir("snapstream-table", sfDir, firstHourOnly = false)
    recreate(spark, tableDir)
    val path = s"file:$tableDir"
    replay(spark, sfDir, "snapstream", days = "01", EachBatch { (batch, batchId) =>
      // batchId keys the commit: foreachBatch is at-least-once, so a
      // post-crash replay of a batch must find its key already live and
      // no-op instead of double-committing (torn attempts are reclaimed
      // inside commit — see SnapshotLog scaladoc)
      MicroBatchJob.appendKeyed(batch.sparkSession, path, batch,
        s"batch-$batchId")
    }) { (_, events) =>
      events().select(col("user_id"), col("ts"), col("event_id"), col("value"))
    }
    val head = SnapshotLog.latestVersion(spark, path)
      .getOrElse(sys.error("streaming snapshots: no version committed"))
    SnapshotLog.read(spark, path, head)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
  }

  /** st6: STREAM-STREAM LEFT OUTER join — the missing half of st3's inner
    * join surface. A view with no purchase within 30 minutes cannot emit
    * eagerly (a matching purchase may still arrive); it emits null-extended
    * only once the watermark proves its whole join window [v_ts, v_ts+30m]
    * is closed. That deferred null-emission is exactly what distinguishes a
    * streaming outer join from the batch one, and it is the part the oracle
    * pins: matched pairs equal the batch interval join; null rows appear
    * for precisely the unmatched views with `v_ts + 30min` strictly below
    * the final watermark = min(side maxima, ms-floored) - 40min. Unmatched
    * views inside the horizon stay in state (would emit on the next batch
    * of a live stream) and must NOT appear. Scope is glob-pruned to day=01
    * — outer-join state is per-row, so the demo bounds input by directory
    * pruning like st3.
    */
  def st6StreamOuterJoin(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "outer", days = "01") { (_, events) =>
      viewPurchasePairs(events, "left_outer")
    }.table("outer")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_id")).as("n_matched"),
        sum(col("v_id")).as("sum_v_id"),
        sum(col("p_id")).as("sum_p_id"))

  /** st7: CHAINED stateful aggregation — two time-window aggregations in a
    * single append-mode streaming query (the multiple-stateful-operator
    * surface): events roll up into 15-minute windows, and those window rows
    * re-aggregate window-over-window (`window(col("window"), "1 hour")`)
    * into hourly rollups of quarter counts. This is the streaming form of a
    * two-level pre-aggregation pyramid: the second operator's state holds
    * (horizon / 1h) open hours of 4 rows each, regardless of event volume,
    * because the first level already collapsed raw events.
    *
    * Emission semantics the oracle pins: both operators share the event-time
    * watermark (final value max(ts) - 40min); a quarter emits when the
    * watermark passes its end and flows to the hour aggregation within the
    * same micro-batch, so the emitted hours are exactly those with
    * `hour_end <= final watermark` — every quarter of such an hour has
    * necessarily closed first. Hours still inside the horizon sit in
    * second-level state and must NOT appear. Scope is glob-pruned to days
    * 01-09 like st3/st5 (the oracle mirrors both the slice and its
    * scope-local final watermark): the two-level emission rule is
    * per-window, so the full month of replay is gate cost, not proof.
    */
  def st7ChainedAgg(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "chain", days = "0*") { (_, events) =>
      events()
        .withWatermark("ts", StreamingIngest.Grace)
        .groupBy(window(col("ts"), "15 minutes"))
        .agg(count(lit(1)).as("cnt15"))
        .groupBy(window(col("window"), "1 hour"))
        .agg(count(lit(1)).as("n_quarters"), sum(col("cnt15")).as("cnt"),
          max(col("cnt15")).as("max_quarter"))
        .select(col("window.start").as("hour_ts"), col("n_quarters"),
          col("cnt"), col("max_quarter"))
    }.table("chain").select("hour_ts", "n_quarters", "cnt", "max_quarter")

  /** st8: streaming-state OBSERVABILITY — the state-store data source. A
    * dedup replay (st4's operator, scoped to day=01) leaves its key state in
    * the checkpoint; `spark.read.format("statestore")` then reads that state
    * back as a DataFrame and audits it: the keys held MUST be exactly the
    * distinct (user_id, event_type) pairs of the input, which the oracle
    * states directly from the parquet. This is the operational surface for
    * debugging a production stream — state size/skew/content inspection
    * without touching the running query — and the audit doubles as a
    * correctness proof of the dedup operator's state contract.
    */
  def st8StateReader(spark: SparkSession, sfDir: String): DataFrame = {
    replay(spark, sfDir, "stateread", days = "01") { (_, events) =>
      events().select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
    }
    spark.read.format("statestore")
      .load(scopedDir("stateread-ckpt", sfDir, firstHourOnly = false))
      .select(col("key.user_id").as("user_id"),
        col("key.event_type").as("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_state_keys"),
        sum(col("user_id")).as("sum_user_ids"))
  }

  /** st9: `transformWithState` (Spark 4's arbitrary-stateful-processing API,
    * RocksDB-backed typed state variables) — per-event-type running totals
    * emitted cumulatively each micro-batch ([[graft.streaming
    * .RunningTotals]]). The final row per key (largest count — strictly
    * increasing across batches) must equal the plain batch GROUP BY, which
    * is exactly what the oracle states; the reduction is max-by-struct, so
    * the query is batching-independent by construction. The RocksDB
    * provider is set on the replay's own child session only (the
    * HDFS-backed default stays in force everywhere else — no restore
    * needed, the conf dies with the session). Scope is glob-pruned to
    * day=01 like st8 — the operator surface is per-key state, so bounding
    * INPUT by directory pruning keeps replay cost off the gate without
    * touching semantics.
    */
  def st9TransformWithState(spark: SparkSession, sfDir: String): DataFrame =
    replay(spark, sfDir, "tws", days = "01", MemoryTable("update")) { (ss, events) =>
      import ss.implicits._
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      RunningTotals.totals(events()
        .select(col("event_type"), col("user_id"))
        .as[RunningTotals.In])(ss).toDF()
    }.table("tws")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("sum_uid"))).as("m"))
      .select(col("event_type"), col("m.n").as("n_events"),
        col("m.sum_uid").as("sum_uid"))

  /** O1: the workflow loop on one existing hour (probe -> ingest -> poll ->
    * SUCCESS) and one absent hour (probe -> skip -> NOT_CREATED). Oracle is
    * the constant expected state table.
    */
  def o1Workflow(spark: SparkSession, sfDir: String): DataFrame = {
    val (rawBase, landingPath) = exportEventsTsv(spark, sfDir, firstHourOnly = true)
    val cfg = cfgFor(rawBase, landingPath)
    val firstHour = RelationalQueries.table(spark, sfDir, "events")
      .agg(min(date_trunc("hour", col("ts")))).collect()(0).getTimestamp(0)
    val existing = PartitionHour.fromInstant(firstHour.toInstant) // session TZ is UTC
    val absent = PartitionHour(1999, 1, 1, 0)

    val runner = new JobRunner(spark)
    val r1 = Workflow.runAndAwait(spark, runner, cfg, Some(existing))
    val r2 = Workflow.runAndAwait(spark, runner, cfg, Some(absent))
    import spark.implicits._
    Seq(("existing_hour", r1.status.code), ("absent_hour", r2.status.code))
      .toDF("run", "status_code")
  }
}
