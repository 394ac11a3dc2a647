package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** The operational half of st19's production claim: the recurring ingest
  * survives a COLD RESTART between micro-batches (the reference's hourly
  * workflow re-runs are idempotent and resume where they left off,
  * `workflow.yaml:14-95`), and state-table MAINTENANCE (compaction +
  * version retention) is invisible to the frozen census while actually
  * reclaiming files. Both run against a `-restart`-tagged state root so
  * the gate run's state is never disturbed.
  */
class St19RestartMaintenanceSpec extends SparkSpec {

  private def censusKey(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("split"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("sum_ids"), r.getAs[Long]("tot_tokens"),
      r.getAs[Long]("n_bins"), r.getAs[Long]("census_hash"))

  /** Staged-arrival cold-restart run: 2 of the 4 fixture files arrive, the
    * stream runs and TERMINATES (its SparkSession is per-run — st19RunStream
    * opens a fresh one each call), then the remaining files arrive and a
    * SECOND call — fresh session, frozen artifacts re-loaded from disk via
    * a fresh st19Config — resumes from the same checkpoint + state tables.
    */
  private lazy val restarted: (CorpusPipeline.St19Config,
      Array[org.apache.spark.sql.Row]) = {
    val cfg = CorpusPipeline.st19Config(spark, sfDir, stateTag = "-restart")
    MicroBatchJob.wipe(spark, s"file:${cfg.stateRoot}", s"file:${cfg.ckptDir}")
    val arrival = new java.io.File("target/parity/x1s-arrival-restart")
      .getAbsoluteFile
    MicroBatchJob.wipe(spark, s"file:$arrival"); arrival.mkdirs()
    val parts = new java.io.File(cfg.splitDir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 4, s"expected the 4-way split fixture, got ${parts.length}")
    def arrive(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(arrival, f.getName).toPath)
    }
    arrive(parts.take(2).toSeq)
    CorpusPipeline.st19RunStream(spark, cfg, arrival.toString)
    // ---- "process death": the first run's stream session is gone; build
    // a FRESH config (re-reads the persisted LM/stats, re-collects the
    // memoized codebooks) and resume against the same checkpoint + state
    val cfg2 = CorpusPipeline.st19Config(spark, sfDir, stateTag = "-restart")
    arrive(parts.drop(2).toSeq)
    CorpusPipeline.st19RunStream(spark, cfg2, arrival.toString)
    (cfg2, CorpusPipeline.st19Freeze(spark, cfg2).collect())
  }

  test("st19: cold restart between micro-batches converges to the batch census") {
    val (_, rows) = restarted
    // batchIds continue across the restart (2 then 2 ⇒ versions 1..4) and
    // the census equals x1's — any carry-forward loss (manifest, frozen
    // artifacts, checkpoint) lands in some column
    assert(rows.forall(_.getAs[Int]("n_commits") == 4),
      s"expected 4 commits across both runs, got ${rows.map(_.getAs[Int]("n_commits")).toSeq}")
    val batch = CorpusPipeline.x1Census(spark, sfDir).collect()
      .map(censusKey).sortBy(_._1)
    assert(rows.map(censusKey).sortBy(_._1).sameElements(batch))
  }

  test("st19: compaction + retention reclaim files and leave the census unchanged") {
    val (cfg, pre) = restarted
    val filesBefore = cfg.statePaths.map(p =>
      SnapshotLog.manifest(spark, p,
        SnapshotLog.latestVersion(spark, p).get).size).sum
    // reclaim horizon 0: this spec's state table is quiescent by
    // construction (the stream terminated before maintenance runs)
    CorpusPipeline.st19MaintainState(spark, cfg, reclaimOlderThanMillis = 0L)
    // every state table is down to its retention horizon (one live version)
    cfg.statePaths.foreach { p =>
      val head = SnapshotLog.latestVersion(spark, p).get
      SnapshotLog.read(spark, p, head).count() // still readable
    }
    val filesAfter = cfg.statePaths.map(p =>
      SnapshotLog.manifest(spark, p,
        SnapshotLog.latestVersion(spark, p).get).size).sum
    assert(filesAfter < filesBefore,
      s"maintenance reclaimed nothing: $filesBefore -> $filesAfter files")
    // the maintained state freezes to the identical census (n_commits
    // aside — compaction legitimately bumps the head version)
    val post = CorpusPipeline.st19Freeze(spark, cfg, checkTorn = false)
      .collect()
    assert(post.map(censusKey).sortBy(_._1)
      .sameElements(pre.map(censusKey).sortBy(_._1)))
  }

  test("compaction keeps untouched partitions' file identity; retention reclaims replaced files") {
    import spark.implicits._
    val root = new java.io.File("target/parity/snap-maint-spec").getAbsoluteFile
    MicroBatchJob.wipe(spark, s"file:$root")
    val path = s"file:$root"
    // bucket A receives two KEYED commits (2 files), bucket B one (1 file)
    def d(rows: Seq[(Long, String)]) = rows.toDF("id", "b")
    SnapshotLog.commit(spark, path, d(Seq((1L, "A"), (2L, "B"))), Nil,
      commitKey = Some("batch-0"), partitionBy = Some("b"))
    SnapshotLog.commit(spark, path, d(Seq((3L, "A"))),
      SnapshotLog.manifest(spark, path, 1),
      commitKey = Some("batch-1"), partitionBy = Some("b"))
    val mf2 = SnapshotLog.manifest(spark, path, 2)
    val bFiles = mf2.filter(_.contains("/_b=B/"))
    val aFilesOld = mf2.filter(_.contains("/_b=A/"))
    assert(bFiles.size == 1 && aFilesOld.size == 2)
    val preRows = SnapshotLog.read(spark, path, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

    val v3 = SnapshotLog.compact(spark, path, Some("b"))
    assert(v3.contains(3))
    val mf3 = SnapshotLog.manifest(spark, path, 3)
    // untouched bucket B: PHYSICALLY the same file, carried by reference
    assert(mf3.filter(_.contains("/_b=B/")) == bFiles,
      "compaction rewrote an under-threshold partition")
    // over-threshold bucket A: one file now
    assert(mf3.filter(_.contains("/_b=A/")).size == 1)
    // rows identical
    val postRows = SnapshotLog.read(spark, path, 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(postRows.sameElements(preRows))

    // retention to the head: v1/v2 manifests drop, and the FILE-level
    // reclaim deletes A's replaced small files even though one of them
    // shares its commit dir with B's still-carried file (a dir-level
    // vacuum would keep it alive as long as the sibling is referenced)
    val (dropped, deleted) = SnapshotLog.retainVersions(spark, path, 1, 0L)
    assert(dropped == Seq(1, 2),
      s"v1/v2's keys are carried by the compaction commit, so both " +
        s"should drop; got $dropped")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    aFilesOld.foreach { f =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(f)),
        s"replaced file survived retention: $f")
    }
    assert(deleted.exists(aFilesOld.contains),
      s"expected A's replaced files among the deletions: $deleted")
    SnapshotLog.manifest(spark, path, 3).foreach { f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(f)),
        s"reclaim deleted a live file: $f")
    }
    val again = SnapshotLog.read(spark, path, 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(again.sameElements(preRows))

    // exactly-once SURVIVES maintenance: the compaction carried the
    // superseded versions' commit keys into the head manifest, so a batch
    // replayed from before the retention horizon still no-ops instead of
    // double-applying
    val replayed = SnapshotLog.commit(spark, path, d(Seq((3L, "A"))),
      SnapshotLog.manifest(spark, path, 3),
      commitKey = Some("batch-1"), partitionBy = Some("b"))
    assert(replayed == 3,
      s"replay of batch-1 after maintenance re-applied as v$replayed — " +
        "the retention horizon reopened an exactly-once window")
    assert(SnapshotLog.latestVersion(spark, path).contains(3))
  }

  test("retention refuses to drop a keyed manifest whose key is not carried forward") {
    import spark.implicits._
    val root = new java.io.File("target/parity/snap-retain-guard-spec")
      .getAbsoluteFile
    MicroBatchJob.wipe(spark, s"file:$root")
    val path = s"file:$root"
    def d(rows: Seq[Long]) = rows.toDF("id")
    SnapshotLog.commit(spark, path, d(Seq(1L)), Nil,
      commitKey = Some("batch-0"))
    SnapshotLog.commit(spark, path, d(Seq(2L)),
      SnapshotLog.manifest(spark, path, 1), commitKey = Some("batch-1"))
    // NO compaction ran, so v1's key lives only in v1's manifest: a
    // horizon of keep=1 must KEEP it — dropping would reopen batch-0's
    // replay window (the maintenance-ordering hole a compact-then-retain
    // sequence can otherwise hit when compact() no-ops)
    val (dropped, _) = SnapshotLog.retainVersions(spark, path, 1, 0L)
    assert(dropped.isEmpty,
      s"retention dropped keyed manifests without key carry-forward: $dropped")
    val replayed = SnapshotLog.commit(spark, path, d(Seq(1L)),
      SnapshotLog.manifest(spark, path, 2), commitKey = Some("batch-0"))
    assert(replayed == 1, s"batch-0 re-applied as v$replayed")
  }
}
