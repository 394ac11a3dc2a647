package graft.operators

import graft.core.{IngestConfig, PartitionHour}
import graft.sources.{FileStatsManifest, LandingMaintenance, LandingTable, MutationOps, SnapshotLog, StampedArtifact}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators exercised END TO END inside the correctness
  * gate: each query materializes a scratch landing table from the `events`
  * parquet, applies a mutation/maintenance operator
  * ([[graft.sources.MutationOps]], [[graft.sources.LandingMaintenance]],
  * [[graft.sources.FileStatsManifest]]), reads the table back and returns
  * aggregates that a duckdb oracle reproduces by restating the operator's
  * CONTRACT as SQL over the original parquet. Hash equality therefore proves
  * the physical rewrite (partition-scoped merge/delete, compaction, schema
  * drift, file skipping) is exactly the logical operation.
  *
  * The reference's only mutation primitive is truncate-and-load of one hour
  * (`/root/reference/bigquery_interaction.py:19-20`); its users get MERGE /
  * DELETE / clustering maintenance from BigQuery itself — this module is
  * that surface, Spark-native, over the same hive layout.
  */
object MaintenanceQueries {
  import IngestParityQueries.eventsSchema

  private def cfgFor(landing: String) = IngestConfig(
    sourceBase = "unused", landingPath = landing, schema = eventsSchema,
    partitionField = "ts", clusterField = "user_id")

  /** Landing path the `graft_s3_events` catalog table currently points at
    * (this JVM); guards s3SqlCatalog's register-skip when one JVM exercises
    * several scale factors.
    */
  private val s3RegisteredPath = new java.util.concurrent.atomic.AtomicReference[String]("")

  private def scratch(spark: SparkSession, kind: String, sfDir: String): String = {
    val sf = ScratchDirs.tag(sfDir)
    val d = new java.io.File(s"target/maintain/$kind-$sf").getAbsoluteFile
    MicroBatchJob.wipe(spark, s"file:$d")
    d.mkdirs()
    d.toString
  }

  /** First calendar day of the events table — a bounded, partition-friendly
    * slice (≈24 hour-partitions) so the mutation queries stay cheap at any
    * SF while still spanning many partitions.
    */
  private def firstDayEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = RelationalQueries.eventsTable(spark, sfDir)
    val day0 = ev.agg(min(date_trunc("day", col("ts")))).collect()(0).getTimestamp(0)
    ev.filter(date_trunc("day", col("ts")) === lit(day0))
  }

  /** u1: partition-scoped MERGE (upsert by key). Base = day-1 events landed
    * across ~24 hour partitions; updates = value-corrected rows for every
    * event_id % 3 == 0 plus brand-new rows (shifted ids) for every
    * event_id % 5 == 0. [[MutationOps.mergeByKey]] rewrites ONLY the touched
    * partitions; the oracle restates the merge as anti-join + union over the
    * original parquet. Per-hour aggregates pin both the replaced and the
    * inserted rows through the hash.
    */
  def u1MergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = firstDayEvents(spark, sfDir)
    val cfg = cfgFor(s"file:${scratch(spark, "u1", sfDir)}")
    LandingTable.overwritePartitions(base, cfg)

    val dataCols = eventsSchema.fieldNames.map(col).toSeq
    val corrections = base.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") + lit(1000.0))
      .withColumn("props", lit("updated"))
    val inserts = base.filter(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + lit(1000000000L))
      .withColumn("props", lit("inserted"))
    MutationOps.mergeByKey(spark, cfg,
      corrections.select(dataCols: _*).unionByName(inserts.select(dataCols: _*)),
      Seq("event_id"))

    LandingTable.read(spark, cfg)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"),
        sum(when(col("props") === "updated", 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("props") === "inserted", 1L).otherwise(0L)).as("n_inserted"))
  }

  /** u2: key takedown (DELETE ... WHERE key IN list). Deletes every row of
    * every fifth user from the day-1 landing table via the two-pass
    * probe-then-rewrite of [[MutationOps.deleteByKey]]; oracle = the
    * surviving rows stated directly. The per-hour aggregate hash fails if a
    * doomed row survives anywhere OR an innocent row is lost.
    */
  def u2DeleteKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val base = firstDayEvents(spark, sfDir)
    val cfg = cfgFor(s"file:${scratch(spark, "u2", sfDir)}")
    LandingTable.overwritePartitions(base, cfg)

    val doomed = base.filter(col("user_id") % 5 === 0)
      .select("user_id").distinct()
    MutationOps.deleteByKey(spark, cfg, doomed, "user_id")

    LandingTable.read(spark, cfg)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
  }

  /** c1: small-file compaction. The first event hour is landed as many
    * small files (forced via repartition), then
    * [[LandingMaintenance.compactPartition]] rewrites it into exactly one
    * clustered file. n_files comes from a post-compaction directory listing
    * — the oracle's constant 1 fails if compaction left extra files — and
    * the content aggregate proves the rewrite lost/duplicated nothing.
    */
  def c1Compact(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = RelationalQueries.eventsTable(spark, sfDir)
    val h0 = ev.agg(min(date_trunc("hour", col("ts")))).collect()(0).getTimestamp(0)
    val base = ev.filter(date_trunc("hour", col("ts")) === lit(h0))
    val cfg = cfgFor(s"file:${scratch(spark, "c1", sfDir)}")
    LandingTable.overwritePartitions(base.repartition(6), cfg)

    val hour = PartitionHour.fromInstant(h0.toInstant) // session TZ is UTC
    val (_, after) = LandingMaintenance.compactPartition(spark, cfg, hour, targetFiles = 1)

    LandingTable.readPartition(spark, cfg, hour)
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .select(lit(after).as("n_files"), col("cnt"), col("sum_eid"), col("sum_value"))
  }

  /** c3: table-wide compaction SWEEP — [[LandingMaintenance
    * .compactFragmented]] over a day-1 landing where every 8th hour was
    * deliberately fragmented (re-landed as round-robin slices). The planner
    * must select exactly the fragmented hours (>1 data file), compact each
    * to one clustered file in a single partition-pruned job, and leave the
    * rest alone. Output per hour: content aggregate (proves the rewrite
    * lost/duplicated nothing), the post-sweep file count from
    * `_metadata.file_path` (1 everywhere — fragmented hours collapsed,
    * untouched hours were already single-file by construction), and the
    * planner's own selected set as `was_compacted`, which the oracle
    * restates as (hour % 8 = 0 AND cnt > 1): a 1-row hour can't fragment
    * into >1 round-robin slices, so the planner must skip it, and a
    * multi-row hour lands >1 slices under Spark's deterministic
    * round-robin at the gate SFs (verified at sf0.001 and sf0.01; the
    * planner itself keys on actual file counts, so only this demo's
    * fragmentation step, not the operator, depends on that layout).
    */
  def c3CompactSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val base = firstDayEvents(spark, sfDir)
    val cfg = cfgFor(s"file:${scratch(spark, "c3", sfDir)}")
    // land one file per hour (hash on the hour => one task per partition)
    LandingTable.overwritePartitions(
      base.repartition(date_trunc("hour", col("ts"))), cfg)
    // fragment every 8th hour into round-robin slices (ingest-retry litter)
    val frag = base.filter(hour(col("ts")) % 8 === 0)
    LandingTable.overwritePartitions(frag.repartition(5), cfg)

    val compacted = LandingMaintenance.compactFragmented(spark, cfg, maxFiles = 1)
    val compactedHours = compacted.map { case (h, _) =>
      java.sql.Timestamp.from(h.toInstant)
    }
    LandingTable.read(spark, cfg)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
      .withColumn("was_compacted",
        if (compactedHours.isEmpty) lit(false)
        else col("hour_ts").isin(compactedHours.map(lit(_)): _*))
  }

  /** c4: RETENTION sweep — [[LandingMaintenance.expirePartitions]] drops
    * every hour partition older than a cutoff (derived from the data: first
    * day's noon), the TTL/compliance expiry a time-partitioned landing
    * table runs on a schedule. The readback proves BOTH halves of the
    * contract: expired hours are gone (only >= cutoff hours appear),
    * surviving hours are untouched (content aggregates match the source),
    * and the sweep's own dropped-count is cross-checked against the
    * oracle's distinct-hour count below the cutoff — an empty hour has no
    * directory, so both sides count only hours that physically existed.
    *
    * Scale shape: expiry is pure partition-directory manipulation — one
    * hour-level glob (bounded by partition count, never file/row count) and
    * per-dir recursive deletes; no data file is ever opened. At 10^5
    * partitions this is a driver-side metadata sweep, the same cost class
    * as the reference's partition-decorator truncate.
    */
  def c4Retention(spark: SparkSession, sfDir: String): DataFrame = {
    val base = firstDayEvents(spark, sfDir)
    val cfg = cfgFor(s"file:${scratch(spark, "c4", sfDir)}")
    LandingTable.overwritePartitions(
      base.repartition(date_trunc("hour", col("ts"))), cfg)
    val d0 = base.agg(min(date_trunc("day", col("ts"))))
      .collect()(0).getTimestamp(0)
    val cutoff = PartitionHour.fromInstant(d0.toInstant.plusSeconds(12 * 3600))
    val dropped = LandingMaintenance.expirePartitions(spark, cfg, cutoff)
    LandingTable.read(spark, cfg)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .withColumn("n_dropped", lit(dropped.size).cast("long"))
  }

  /** u7: TIME TRAVEL — snapshot-versioned reads over the copy-on-write
    * [[graft.sources.SnapshotLog]]. v1 = the whole first day (clustered one
    * file per hour); v2 = a COW merge correcting hour-12 values: exactly
    * the file(s) holding hour 12 are replaced (identified via
    * `_metadata.file_path`, a column-pruned probe), every other file is
    * carried into v2's manifest BY REFERENCE. The query then reads BOTH
    * versions AFTER v2 exists: v1 must still equal the original day (a
    * later commit cannot disturb a pinned snapshot — the reproducibility
    * contract), v2 must show the corrections — both stated in one oracle.
    * File-level immutability and manifest reuse are pinned in
    * `SnapshotLogSpec`.
    */
  def u7TimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val base = firstDayEvents(spark, sfDir)
    val path = s"file:${scratch(spark, "u7", sfDir)}"
    val v1 = SnapshotLog.commit(spark, path,
      base.withColumn("hour_part", hour(col("ts")))
        .repartition(col("hour_part")), carried = Nil)

    def norm(p: String) = p.replaceFirst("^file:/*", "/")
    val v1df = SnapshotLog.read(spark, path, v1)
    val replaced = v1df.filter(col("hour_part") === 12)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSeq
    // COW rewrites whole FILES: every row co-resident in a replaced file is
    // carried into the rewrite (corrected or not) — file clustering decides
    // write amplification, never correctness
    val rewritten = v1df
      .filter(col("_metadata.file_path").isin(replaced: _*))
      .withColumn("value", when(col("hour_part") === 12 &&
        col("event_id") % 3 === 0,
        col("value") + lit(1000.0)).otherwise(col("value")))
    val replacedNorm = replaced.map(norm).toSet
    val carried = SnapshotLog.manifest(spark, path, v1)
      .filterNot(f => replacedNorm.contains(norm(f)))
    val v2 = SnapshotLog.commit(spark, path, rewritten, carried)

    def agg(v: Int) = SnapshotLog.read(spark, path, v)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .select(lit(v).as("version"), col("hour_ts"), col("cnt"),
        col("sum_eid"), col("sum_value"))
    agg(v1).unionByName(agg(v2))
  }

  /** u8: CASCADING TAKEDOWN — right-to-erasure applied to EVERY derived
    * store in one sweep, the compliance operation an LLM-data platform
    * actually runs (removing an entity from the raw table alone is not
    * erasure; it lives on in serving tables and vector indexes). One
    * doomed-id list drives three physically different deletion paths:
    * the hour-partitioned landing ([[MutationOps.deleteByKey]] — probe
    * pass then partition-pruned rewrite), the key-bucket serving table
    * ([[MutationOps.deleteFromBucketTable]] — bucket-pruned rewrite), and
    * the persisted IVF index ([[graft.operators.VectorQueries.deleteBins]]
    * — a commit rewriting only the bins holding a doomed vector). Output: per-store
    * before/after row counts; the oracle restates all three from the id
    * arithmetic, so the hash fails if a doomed row survives in ANY store
    * or an innocent row is lost in any.
    *
    * Scale shape: every path is scoped by construction — partitions,
    * buckets, or bins containing a doomed key — so the sweep's cost is
    * proportional to the takedown's footprint in each store, never to any
    * store's size.
    */
  def u8CascadingTakedown(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = firstDayEvents(spark, sfDir)
    val doomedUsers = base.select(col("user_id")).distinct()
      .filter(col("user_id") % 7 === 0)
    // The three derived stores live in three different directories and
    // derive from the source tables alone, so each store's
    // build → count → delete → recount chain is independent of the other
    // two end to end — they overlap as concurrent driver jobs (the guide's
    // idle-tail discipline; within a chain the order stays build, count,
    // delete, recount, which is the semantics). The one-sweep compliance
    // story is unchanged: one doomed-id list drives all three deletions.
    // store 1: hour-partitioned landing
    val chainLanding = () => {
      val cfg = cfgFor(s"file:${scratch(spark, "u8", sfDir)}")
      LandingTable.overwritePartitions(base, cfg)
      val nb = LandingTable.read(spark, cfg).count()
      MutationOps.deleteByKey(spark, cfg, doomedUsers.toDF("k"), "user_id")
      (nb, LandingTable.read(spark, cfg).count())
    }
    // store 2: key-bucket serving table (latest row per user, the st13 shape)
    val chainServing = () => {
      val servingDir = s"file:${scratch(spark, "u8srv", sfDir)}"
      MutationOps.upsertLatest(spark, servingDir,
        base.select(col("user_id"), col("ts"), col("event_id"), col("value")),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"), nBuckets = 8)
      val nb = spark.read.parquet(servingDir).count()
      MutationOps.deleteFromBucketTable(
        spark, servingDir, doomedUsers, "user_id", nBuckets = 8)
      (nb, spark.read.parquet(servingDir).count())
    }
    // store 3: persisted IVF index over the embeddings
    val chainIndex = () => {
      val idx = s"file:${scratch(spark, "u8idx", sfDir)}"
      val emb = RelationalQueries.table(spark, sfDir, "embeddings")
      val v1 = SnapshotLog.commit(spark, idx,
        VectorQueries.assignToCentroids(spark, sfDir, emb), carried = Nil,
        partitionBy = Some("centroid_id"))
      val nb = SnapshotLog.read(spark, idx, v1).count()
      VectorQueries.deleteBins(spark, idx,
        emb.filter(col("vec_id") % 7 === 0).select("vec_id"), "centroid_id")
      (nb, SnapshotLog.read(spark, idx,
        SnapshotLog.latestVersion(spark, idx).get).count())
    }
    val (l, s, i) = Overlap.par3(chainLanding, chainServing, chainIndex)
    Seq(("landing", l._1, l._2), ("serving", s._1, s._2),
      ("index", i._1, i._2))
      .toDF("store", "n_before", "n_after")
  }

  /** u3: schema drift across partition generations. Generation 1 lands
    * without `props`/`quality`; generation 2 adds both. A `mergeSchema` read
    * presents the union schema with NULLs for pre-drift rows — the
    * additive-column evolution contract every long-lived landing table needs
    * (BigQuery allows additive schema updates on load; parquet+Spark gives
    * the same via schema merge). Oracle restates the union with explicit
    * NULL columns.
    */
  def u3SchemaDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = RelationalQueries.eventsTable(spark, sfDir)
    val dir = scratch(spark, "u3", sfDir)
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("gen", lit(1))
      .write.mode("overwrite").partitionBy("gen").parquet(s"file:$dir")
    ev.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("user_id"), col("value"), col("props"))
      .withColumn("quality", col("value") * lit(0.5))
      .withColumn("gen", lit(2))
      .write.mode("append").partitionBy("gen").parquet(s"file:$dir")

    spark.read.option("mergeSchema", "true").option("basePath", s"file:$dir")
      .parquet(s"file:$dir")
      .groupBy(col("gen").cast("int").as("gen"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        count(col("props")).as("n_props"),
        sum(col("quality").cast("decimal(30,6)")).cast("double").as("sum_quality"))
  }

  /** s3_sql: the landing table as a CATALOG table — register the hive tree
    * with recovered partitions ([[LandingMaintenance.register]], the S3 DDL
    * analogue) and query it through `spark.sql` with a partition predicate,
    * the way every downstream consumer of the reference's BigQuery table
    * works. The WHERE on year/month/day prunes directories at planning (the
    * catalog knows the partition values), and the require-partition-filter
    * guard accepts it; an unfiltered scan of the same table is a plan-time
    * error (IngestDemo shows that branch). Oracle restates the day slice
    * from the original parquet.
    */
  def s3SqlCatalog(spark: SparkSession, sfDir: String): DataFrame = {
    val base = firstDayEvents(spark, sfDir)
    // The day-slice landing table is fixture scaffolding (the operator under
    // test is the catalog-pruned query), so it is memoized across runs AND
    // JVMs exactly like exportEventsTsv: a hidden marker records
    // (sfDir, row count); when it matches, the tree on disk is the same
    // deterministic table this code would rewrite. Written only after a
    // verified overwrite, so a crash mid-write never leaves a valid marker.
    val sf = ScratchDirs.tag(sfDir)
    val dir = new java.io.File(s"target/maintain/s3sql-$sf").getAbsoluteFile
    dir.mkdirs()
    val cfg = cfgFor(s"file:$dir")
    val n = base.count()
    val markerValid = StampedArtifact.getOrBuild(dir.toString, "._fixture_ok",
        s"$sfDir|$n|${RelationalQueries.sourceStamp(sfDir, "events")}") {
      MicroBatchJob.wipe(spark, s"file:$dir")
      dir.mkdirs()
      LandingTable.overwritePartitions(base, cfg)
    }
    // (re-)register only when the fixture changed or the catalog entry is
    // absent/points at another SF's tree (one JVM runs several SFs in
    // tests) — DROP/CREATE/MSCK is driver-side metadata work, but at ~24
    // partition dirs it still dominated the measured query
    val registeredHere = spark.catalog.tableExists("graft_s3_events") &&
      s3RegisteredPath.get() == cfg.landingPath
    if (!markerValid || !registeredHere) {
      LandingMaintenance.register(spark, cfg, "graft_s3_events")
      s3RegisteredPath.set(cfg.landingPath)
    }

    val day0 = base.select(date_trunc("day", col("ts")).as("d")).limit(1)
      .collect()(0).getTimestamp(0).toLocalDateTime
    spark.sql(
      f"""SELECT CAST(hour AS INT) AS hr, count(*) AS cnt,
         | sum(user_id) AS sum_uid,
         | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
         |FROM graft_s3_events
         |WHERE year = '${day0.getYear}%04d' AND month = '${day0.getMonthValue}%02d'
         |  AND day = '${day0.getDayOfMonth}%02d'
         |GROUP BY hour""".stripMargin)
  }

  /** c2: file-level min/max skipping on the cluster column — data skipping
    * BELOW partition granularity via [[FileStatsManifest]]. The table is
    * range-laid-out on user_id (16 disjoint-range files), the manifest
    * records per-file [min,max], and the read opens only files intersecting
    * the wanted range. The middle-quartile bounds are derived from the data
    * with the same integer arithmetic in both engines; correctness does not
    * depend on HOW MANY files were skipped (the residual filter stays on the
    * scan), which is what lets one query serve every SF.
    */
  def c2ManifestSkip(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = RelationalQueries.eventsTable(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    val dir = scratch(spark, "c2", sfDir)
    ev.repartitionByRange(16, col("user_id"), col("event_id"))
      .write.mode("overwrite").parquet(s"file:$dir")
    FileStatsManifest.write(spark, s"file:$dir", Seq("user_id"))

    val mm = ev.agg(min(col("user_id")), max(col("user_id"))).collect()(0)
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val lo = mn + (mx - mn) / 4
    val hi = mn + (mx - mn) / 2
    val (df, nSel, nTot) = FileStatsManifest.prunedRead(
      spark, s"file:$dir", "user_id", lo, hi)
    require(nSel <= nTot, s"manifest selected $nSel of $nTot files")
    df.groupBy("user_id")
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
  }

  /** c5: multi-dimensional clustering + 2-D box skipping — `OPTIMIZE
    * ZORDER`'s job done with a Hilbert curve. c2 proves 1-D file skipping:
    * a range-sort on `user_id` gives narrow per-file `user_id` ranges, but
    * every file's `event_id` range stays full-width, so a predicate that
    * boxes BOTH columns still opens every user-matching file. Here the
    * layout key is [[graft.functions.HilbertIndex]] over the (user_id,
    * event_id) grid: rows close in both dimensions land in the same files,
    * per-file [min,max] boxes become compact squares, and
    * [[FileStatsManifest.prunedReadBox]] drops every file whose stats box
    * misses the query box. The spec pins the layout quality (Hilbert
    * selects strictly fewer files than the 1-D sort for the same box); the
    * oracle restates only the box aggregate, so correctness never depends
    * on how well the layout prunes.
    *
    * Scale shape: the curve key is one codegen'd expression per row (no
    * shuffle beyond the range-partition write the layout needs anyway), the
    * manifest stays one row per file, and pruning work is O(files) on the
    * driver — the same order as any scan's file listing. At 100 TB the box
    * query reads ~(box area / table area) of the files instead of the c2
    * worst case ~(box side / table side).
    *
    * Reference anchor: BigQuery multi-column `CLUSTER BY` is what the
    * reference's users get beyond its single clustered field
    * (`/root/reference/bq_create_table_ddl.sql:9`); this is that surface on
    * plain parquet.
    */
  def c5ClusterBoxSkip(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = RelationalQueries.eventsTable(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    val dir = scratch(spark, "c5", sfDir)

    val b = ev.agg(min(col("user_id")), max(col("user_id")),
      min(col("event_id")), max(col("event_id"))).collect()(0)
    val (uMn, uMx, eMn, eMx) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val order = 10 // 1024×1024 curve grid; cells ≪ files, so cell
                   // granularity never limits pruning at any gate SF
    val side = (1L << order) - 1
    // `/` on Columns is DOUBLE division; the cast back to long truncates —
    // exact here because (span ≤ 2^43) × 1023 stays under 2^53
    def cell(c: org.apache.spark.sql.Column, mn: Long, mx: Long) =
      if (mx <= mn) lit(0L)
      else ((c - lit(mn)) * lit(side) / lit(mx - mn)).cast("long")
    val keyed = ev.withColumn("hkey", graft.functions.GraftFunctions.hilbert(
      cell(col("user_id"), uMn, uMx), cell(col("event_id"), eMn, eMx), order))
    keyed.repartitionByRange(16, col("hkey"))
      .sortWithinPartitions(col("hkey"))
      .drop("hkey")
      .write.mode("overwrite").parquet(s"file:$dir")
    FileStatsManifest.write(spark, s"file:$dir", Seq("user_id", "event_id"))

    // the query box: user_id in [¼, ½], event_id in [⅛, ⅜] of their spans —
    // restated verbatim by the oracle from the same min/max arithmetic
    val (uLo, uHi) = (uMn + (uMx - uMn) / 4, uMn + (uMx - uMn) / 2)
    val (eLo, eHi) = (eMn + (eMx - eMn) / 8, eMn + 3 * (eMx - eMn) / 8)
    val (df, nSel, nTot) = FileStatsManifest.prunedReadBox(spark, s"file:$dir",
      Seq(("user_id", uLo, uHi), ("event_id", eLo, eHi)))
    require(nSel <= nTot, s"box manifest selected $nSel of $nTot files")
    df.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
  }

  /** Diagnostics [[c6Run]] returns alongside the gate aggregate, so the
    * spec can pin the maintenance CONTRACT (base-file identity, strict
    * pruning improvement) without re-implementing the flow.
    */
  private[operators] case class C6Diag(
      baseFilesBefore: Map[String, Long], baseFilesAfter: Map[String, Long],
      selBefore: Int, totBefore: Int, selAfter: Int, totAfter: Int,
      result: DataFrame)

  /** c6: RECURRING Hilbert re-cluster under appends — c5's `OPTIMIZE
    * ZORDER` layout run as the maintenance job a live ingest needs, proving
    * layout maintenance COMPOSES with appends and manifest box pruning
    * stays valid across re-cluster generations:
    *
    *  1. the historical corpus (days < 20) lands Hilbert-clustered (c5's
    *     layout) and a [[FileStatsManifest]] is bootstrapped;
    *  2. two append arrivals (days 20-25, days ≥ 26) land in ARRIVAL
    *     ORDER — the ingest's natural layout, per-file boxes full-width —
    *     each followed by an incremental [[FileStatsManifest.update]]
    *     (scans only the new files; results stay exact regardless via the
    *     staleness fallback);
    *  3. the maintenance pass re-clusters ONLY the append generation:
    *     the delta files rewrite under the FROZEN curve grid (bounds fixed
    *     at table creation, so every generation keys consistently) into a
    *     new clustered generation; the historical generation's files are
    *     never read or rewritten (spec-pinned physical identity — the
    *     copy-on-write discipline OPTIMIZE must follow at 100 TB, where
    *     re-clustering the whole table per pass would be a full rewrite);
    *  4. c5's box query runs over the maintained layout through
    *     [[FileStatsManifest.prunedReadBox]].
    *
    * The oracle is c5's SQL verbatim (the box aggregate over `events`):
    * correctness never depends on the layout, and hash equality states
    * that clustered-base ∪ re-clustered-deltas lost and duplicated
    * nothing. Scale shape: per pass the job reads/writes only the files
    * appended since the last pass + one O(files) manifest join — never
    * ∝ table size.
    *
    * Reference anchor: BigQuery re-clusters appended data in the
    * background automatically for `CLUSTER BY` tables
    * (`/root/reference/bq_create_table_ddl.sql:9`); this is that
    * background job made explicit on plain parquet.
    */
  private[operators] def c6Run(spark: SparkSession, sfDir: String): C6Diag = {
    val ev = RelationalQueries.eventsTable(spark, sfDir)
      .select(col("ts"), col("event_id"), col("user_id"), col("value"),
        col("event_type"))
    val dir = scratch(spark, "c6", sfDir)
    val root = s"file:$dir"

    // frozen curve grid: the key domain is fixed once (table-creation
    // stats), so base and every later re-cluster generation key rows
    // mutually consistently — c5's cell arithmetic
    val b = ev.agg(min(col("user_id")), max(col("user_id")),
      min(col("event_id")), max(col("event_id"))).collect()(0)
    val (uMn, uMx, eMn, eMx) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val order = 10
    val side = (1L << order) - 1
    def cell(c: org.apache.spark.sql.Column, mn: Long, mx: Long) =
      if (mx <= mn) lit(0L)
      else ((c - lit(mn)) * lit(side) / lit(mx - mn)).cast("long")
    def clustered(df: DataFrame, nFiles: Int): DataFrame =
      df.withColumn("hkey", graft.functions.GraftFunctions.hilbert(
          cell(col("user_id"), uMn, uMx), cell(col("event_id"), eMn, eMx),
          order))
        .repartitionByRange(nFiles, col("hkey"))
        .sortWithinPartitions(col("hkey"))
        .drop("hkey")

    // ---- 1. historical generation, clustered; manifest bootstrap
    clustered(ev.filter(dayofmonth(col("ts")) < 20).drop("ts"), 12)
      .write.mode("overwrite").parquet(s"$root/g=base")
    FileStatsManifest.write(spark, root, Seq("user_id", "event_id"))

    // ---- 2. append arrivals in arrival order + incremental manifest
    ev.filter(dayofmonth(col("ts")).between(20, 25)).drop("ts")
      .repartition(4).write.mode("overwrite").parquet(s"$root/g=d1")
    FileStatsManifest.update(spark, root, Seq("user_id", "event_id"))
    ev.filter(dayofmonth(col("ts")) >= 26).drop("ts")
      .repartition(4).write.mode("overwrite").parquet(s"$root/g=d2")
    FileStatsManifest.update(spark, root, Seq("user_id", "event_id"))

    // the query box (c5's arithmetic, restated verbatim by the oracle)
    val (uLo, uHi) = (uMn + (uMx - uMn) / 4, uMn + (uMx - uMn) / 2)
    val (eLo, eHi) = (eMn + (eMx - eMn) / 8, eMn + 3 * (eMx - eMn) / 8)
    val box = Seq(("user_id", uLo, uHi), ("event_id", eLo, eHi))

    // pruning-improvement diagnostic on a DELTA-REGION box: event_id is
    // chronological in this table, so c5's (low-event) box never touches
    // the appended generation and cannot observe the re-cluster. The probe
    // box targets the middle of the deltas' own event span × the c5 user
    // range — before maintenance every arrival-order delta file is
    // full-width on user_id and must open; after, the Hilbert boxes are
    // compact on both axes.
    val db = spark.read.parquet(s"$root/g=d1", s"$root/g=d2")
      .agg(min(col("event_id")), max(col("event_id"))).collect()(0)
    val (dMn, dMx) = (db.getLong(0), db.getLong(1))
    val probeBox = Seq(("user_id", uLo, uHi),
      ("event_id", dMn + (dMx - dMn) / 4, dMn + (dMx - dMn) / 2))
    val (_, selBefore, totBefore) = FileStatsManifest.prunedReadBox(
      spark, root, probeBox)

    def baseFiles(): Map[String, Long] = {
      def rec(f: java.io.File): Seq[java.io.File] = {
        val cs = Option(f.listFiles()).getOrElse(Array.empty)
        cs.filter(_.isFile).toSeq ++ cs.filter(_.isDirectory).flatMap(rec)
      }
      rec(new java.io.File(dir, "g=base"))
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val baseBefore = baseFiles()

    // ---- 3. maintenance: re-cluster ONLY the delta generation. The delta
    // files rewrite into g=opt1 under the frozen grid; g=base is never
    // opened (the scan below names the delta dirs, nothing else).
    val deltas = spark.read
      .parquet(s"$root/g=d1", s"$root/g=d2")
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"))
    clustered(deltas, 4)
      .write.mode("overwrite").parquet(s"$root/g=opt1")
    MicroBatchJob.wipe(spark, s"$root/g=d1", s"$root/g=d2")
    // incremental manifest maintenance after the rewrite: dead delta rows
    // drop out, only the new generation's files are scanned
    FileStatsManifest.update(spark, root, Seq("user_id", "event_id"))

    // ---- 4. the probe box re-measured (the improvement diagnostic), then
    // the gate's box query over the maintained layout
    val (_, selAfter, totAfter) = FileStatsManifest.prunedReadBox(
      spark, root, probeBox)
    val (df, selRes, totRes) = FileStatsManifest.prunedReadBox(
      spark, root, box)
    require(selRes <= totRes,
      s"box manifest selected $selRes of $totRes files")
    val result = df.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).as("sum_eid"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
    C6Diag(baseBefore, baseFiles(), selBefore, totBefore, selAfter, totAfter,
      result)
  }

  def c6ClusterMaintain(spark: SparkSession, sfDir: String): DataFrame =
    c6Run(spark, sfDir).result

  /** u4: snapshot CDC — land day-1, apply the full mutation suite (u1's
    * merge: value corrections for `event_id % 3 = 0`, inserts at shifted ids
    * for `% 5 = 0`; then u2's takedown of `% 7 = 0` over the ORIGINAL ids),
    * and diff the mutated table against the pre-mutation snapshot with
    * [[MutationOps.snapshotDiff]]. The oracle restates the expected
    * classification purely from the id arithmetic — delete beats update
    * (the takedown runs last), inserts are exactly the shifted ids — so the
    * hash fails if the diff misclassifies a single key.
    */
  def u4SnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = firstDayEvents(spark, sfDir)
    val cfg = cfgFor(s"file:${scratch(spark, "u4", sfDir)}")
    LandingTable.overwritePartitions(base, cfg)

    val dataCols = eventsSchema.fieldNames.map(col).toSeq
    // insert ids are shifted past max(event_id)+1 so they can never collide
    // with an existing id at ANY scale factor; the oracle derives the same
    // shift from the same slice (one scalar agg, driver-side config)
    val shift = base.agg(max(col("event_id"))).collect()(0).getLong(0) + 1L
    val corrections = base.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") + lit(1000.0))
      .withColumn("props", lit("updated"))
    val inserts = base.filter(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + lit(shift))
      .withColumn("props", lit("inserted"))
    MutationOps.mergeByKey(spark, cfg,
      corrections.select(dataCols: _*).unionByName(inserts.select(dataCols: _*)),
      Seq("event_id"))
    MutationOps.deleteByKey(spark, cfg,
      base.filter(col("event_id") % 7 === 0).select("event_id").distinct(),
      "event_id")

    MutationOps.snapshotDiff(base, LandingTable.read(spark, cfg),
        Seq("event_id"), Seq("value", "props"))
      .groupBy("change_type")
      .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("sum_key"))
  }

  /** u5: SCD Type-2 dimension build — the events stream treated as attribute
    * changes for a user dimension (tracked attribute: event_type). Every
    * user gets one version row per distinct consecutive state with
    * `[effective_from, effective_to)` validity and `is_current`; consecutive
    * no-change records compress into the open version
    * ([[MutationOps.scd2]]). The oracle restates the contract with the same
    * two window passes, so the hash pins version numbering, validity ranges,
    * and the change-compression rule row for row.
    */
  def u5Scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val src = RelationalQueries.eventsTable(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    MutationOps.scd2(src, Seq("user_id"), Seq("event_type"), "ts", "event_id")
  }

  /** u6: INCREMENTAL SCD2 merge — the production composition u5's full
    * rebuild doesn't cover: the dimension already exists on disk (built from
    * the stream up to day 19, key-bucket-partitioned via
    * [[MutationOps.scd2WriteTable]]), then the day-20+ change batch is
    * merged in with [[MutationOps.scd2MergeTable]] — affected keys close
    * their open versions / extend their history, unaffected keys and
    * buckets are never read or rewritten (file identity pinned in
    * `MutationOpsSpec`). The oracle is u5's full-rebuild SQL over the ENTIRE
    * stream: hash equality is the exact statement that incremental merge ≡
    * rebuild-from-scratch, including version renumbering, cross-boundary
    * change compression, and closure of superseded open versions.
    */
  def u6Scd2Merge(spark: SparkSession, sfDir: String): DataFrame = {
    val src = RelationalQueries.eventsTable(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val dimPath = s"file:${scratch(spark, "u6", sfDir)}"
    val existing = MutationOps.scd2(src.filter(dayofmonth(col("ts")) < 20),
      Seq("user_id"), Seq("event_type"), "ts", "event_id")
    MutationOps.scd2WriteTable(existing, dimPath, Seq("user_id"), nBuckets = 8)
    MutationOps.scd2MergeTable(spark, dimPath,
      src.filter(dayofmonth(col("ts")) >= 20),
      Seq("user_id"), Seq("event_type"), "ts", "event_id", nBuckets = 8)
    spark.read.option("basePath", dimPath).parquet(dimPath)
      .select(col("user_id"), col("version"), col("event_type"),
        col("effective_from"), col("effective_to"), col("is_current"))
  }
}
