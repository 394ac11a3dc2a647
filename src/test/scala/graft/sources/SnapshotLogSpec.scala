package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SnapshotLog: the contracts the u7 gate query can't see from aggregates —
  * physical immutability of committed files, manifest reuse by reference,
  * and the torn/concurrent-commit guards.
  */
class SnapshotLogSpec extends SparkSpec {

  private def dataFiles(dir: String): Map[String, Long] = {
    def rec(f: java.io.File): Seq[java.io.File] = {
      val cs = Option(f.listFiles()).getOrElse(Array.empty)
      cs.filter(_.isFile).toSeq ++ cs.filter(_.isDirectory).flatMap(rec)
    }
    rec(new java.io.File(dir, "data"))
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("a later commit never disturbs a pinned snapshot") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap").toString
    val path = s"file:$dir"
    val v1 = SnapshotLog.commit(spark, path,
      (1L to 100L).map(i => (i, i % 4, s"p$i")).toDF("id", "grp", "payload")
        .repartitionByRange(4, col("grp")),
      carried = Nil)
    assert(v1 == 1)
    val v1Files = dataFiles(dir)
    assert(v1Files.nonEmpty)

    // COW update: replace only grp=2's file(s); carry the rest by reference
    def norm(p: String) = p.replaceFirst("^file:/*", "/")
    val v1df = SnapshotLog.read(spark, path, v1)
    val replaced = v1df.filter(col("grp") === 2)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(replaced.nonEmpty && replaced.size < v1Files.size)
    val replacedNorm = replaced.map(norm).toSet
    val carried = SnapshotLog.manifest(spark, path, v1)
      .filterNot(f => replacedNorm.contains(norm(f)))
    // COW rewrites whole files: co-resident rows ride along unchanged
    val v2 = SnapshotLog.commit(spark, path,
      v1df.filter(col("_metadata.file_path").isin(replaced: _*))
        .withColumn("payload", when(col("grp") === 2,
          concat(col("payload"), lit("-fixed"))).otherwise(col("payload"))),
      carried)
    assert(v2 == 2)

    // every v1 file is still on disk, byte-identical (path + mtime)
    val nowFiles = dataFiles(dir)
    v1Files.foreach { case (p, m) =>
      assert(nowFiles.get(p).contains(m), s"v1 file $p was disturbed")
    }
    // v2's manifest reuses exactly the carried files plus new ones
    val m2 = SnapshotLog.manifest(spark, path, v2).map(norm).toSet
    assert(carried.map(norm).toSet.subsetOf(m2))
    assert((m2 -- carried.map(norm)).forall(_.contains("commit-v00002")))

    // v1 read AFTER v2: the original content, untouched
    val v1Back = SnapshotLog.read(spark, path, v1)
      .select("id", "payload").as[(Long, String)].collect().toSet
    assert(v1Back == (1L to 100L).map(i => (i, s"p$i")).toSet)
    // v2 read: only grp=2 rows changed
    val v2Back = SnapshotLog.read(spark, path, v2)
      .select("id", "grp", "payload").as[(Long, Long, String)].collect().toSet
    assert(v2Back == (1L to 100L).map(i =>
      (i, i % 4, if (i % 4 == 2) s"p$i-fixed" else s"p$i")).toSet)
  }

  test("append-only commits form a version history: each version extends its parent by reference") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap3").toString
    val path = s"file:$dir"
    // the st15 streaming-commit shape: every commit carries the FULL parent
    // manifest and adds only its own batch's files
    val batches = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L), Seq(6L))
    batches.foreach { ids =>
      val carried = SnapshotLog.latestVersion(spark, path)
        .map(v => SnapshotLog.manifest(spark, path, v)).getOrElse(Nil)
      SnapshotLog.commit(spark, path, ids.toDF("id"), carried)
    }
    assert(SnapshotLog.latestVersion(spark, path).contains(3))
    // prefix property: version N holds exactly batches 1..N
    (1 to 3).foreach { v =>
      val got = SnapshotLog.read(spark, path, v)
        .select("id").as[Long].collect().toSet
      assert(got == batches.take(v).flatten.toSet, s"v$v: $got")
    }
    // by REFERENCE: parent files appear verbatim in the child manifest
    (2 to 3).foreach { v =>
      val parent = SnapshotLog.manifest(spark, path, v - 1).toSet
      assert(parent.subsetOf(SnapshotLog.manifest(spark, path, v).toSet), s"v$v")
    }
  }

  test("a torn earlier attempt never collides with a retry; a replayed keyed batch is a no-op") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap2").toString
    val path = s"file:$dir"
    SnapshotLog.commit(spark, path, Seq((1, "a")).toDF("id", "v"), Nil,
      commitKey = Some("batch-0"))
    // simulate a TORN v2 attempt: data dir written (with a stray file), but
    // the manifest rename never happened. Attempt dirs are unique, so the
    // retry just stages its OWN dir and commits — it must neither wedge on
    // mode=errorifexists nor delete the orphan (which could belong to a
    // live concurrent writer; only vacuumOrphans may sweep it, by age)
    val torn = new java.io.File(dir, "data/commit-v00002-deadbeef")
    torn.mkdirs()
    Files.write(new java.io.File(torn, "part-stray.parquet").toPath,
      Array[Byte](1, 2, 3))
    val v2 = SnapshotLog.commit(spark, path, Seq((2, "b")).toDF("id", "v"),
      SnapshotLog.manifest(spark, path, 1), commitKey = Some("batch-1"))
    assert(v2 == 2)
    assert(SnapshotLog.read(spark, path, v2).select("id").as[Int]
      .collect().toSet == Set(1, 2))
    // the commit path left the orphan alone
    assert(torn.exists())
    // vacuum with a huge age threshold sweeps nothing (in-flight protection)
    assert(SnapshotLog.vacuumOrphans(spark, path, 24L * 3600 * 1000).isEmpty)
    assert(torn.exists())
    // vacuum with age 0 sweeps exactly the unreferenced dir; live versions
    // still read back intact afterwards
    val swept = SnapshotLog.vacuumOrphans(spark, path, 0L)
    assert(swept.size == 1 && swept.head.contains("commit-v00002-deadbeef"))
    assert(!torn.exists())
    assert(SnapshotLog.read(spark, path, 2).select("id").as[Int]
      .collect().toSet == Set(1, 2))

    // at-least-once REPLAY of batch-1 (same key): no new version, no new
    // rows — commit returns the already-live version
    val replay = SnapshotLog.commit(spark, path,
      Seq((2, "b")).toDF("id", "v"),
      SnapshotLog.manifest(spark, path, 2), commitKey = Some("batch-1"))
    assert(replay == 2)
    assert(SnapshotLog.latestVersion(spark, path).contains(2))

    // an UNKEYED racing writer still fails loudly on the manifest collision
    // (concurrent-commit guard is unchanged)
    // reading a version that does not exist also fails loudly
    intercept[IllegalArgumentException] {
      SnapshotLog.manifest(spark, path, 9)
    }
  }

  test("publish is exclusive-claim-then-rename: a racer fails loudly and can NEVER clobber a published manifest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap4").toString
    val path = s"file:$dir"
    SnapshotLog.commit(spark, path, Seq(1L).toDF("id"), Nil)

    // Simulate the TOCTOU loser: a concurrent writer holds the v2 slot lock
    // (has passed its claim, not yet renamed). Our commit must fail LOUDLY
    // at the claim — with plain exists-check-then-rename it would have
    // proceeded and POSIX rename(2) would silently overwrite whichever
    // manifest landed first.
    val lock = new java.io.File(dir, "_graft_log/v00002.lock")
    assert(lock.getParentFile.isDirectory)
    assert(lock.createNewFile())
    val ex = intercept[IllegalStateException] {
      SnapshotLog.commit(spark, path, Seq(2L).toDF("id"), Nil)
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the failed attempt left no v2 manifest and v1 is untouched
    assert(!new java.io.File(dir, "_graft_log/v00002.manifest").exists())
    assert(SnapshotLog.read(spark, path, 1).count() == 1)

    // A CRASHED claimer (lock present, no manifest, older than the stale
    // window) must not wedge the slot forever: the next committer breaks
    // the stale lock and publishes.
    assert(lock.setLastModified(System.currentTimeMillis() - 3600L * 1000))
    val v2 = SnapshotLog.commit(spark, path, Seq(2L).toDF("id"),
      SnapshotLog.manifest(spark, path, 1), lockStaleMs = 60L * 1000)
    assert(v2 == 2)
    assert(SnapshotLog.read(spark, path, 2).as[Long].collect().toSet == Set(1L, 2L))

    // Hammer test: N threads race unkeyed commits. Every slot is published
    // by exactly one winner — each published manifest must be complete and
    // readable (a clobbered manifest would lose the winner's fresh file and
    // the read-back would miss rows).
    val threads = 4
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Int]]
    val pool = (0 until threads).map { i =>
      new Thread(() => {
        try results.add(Right(SnapshotLog.commit(spark, path,
          Seq(100L + i).toDF("id"), carried = Nil)))
        catch { case t: Throwable => results.add(Left(t)) }
      })
    }
    pool.foreach(_.start()); pool.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losers, winners) = results.asScala.toSeq.partition(_.isLeft)
    val wonVersions = winners.collect { case Right(v) => v }
    assert(wonVersions.distinct.size == wonVersions.size,
      s"two racers claimed the same version: $wonVersions")
    losers.foreach { case Left(t) =>
      assert(t.isInstanceOf[IllegalStateException] ||
        t.getMessage.contains("concurrent commit"), s"unexpected loser error: $t")
    case _ => ()
    }
    // every published version resolves and reads back fully
    val head = SnapshotLog.latestVersion(spark, path).get
    assert(head == 2 + wonVersions.size)
    (1 to head).foreach { v => SnapshotLog.read(spark, path, v).count() }
  }

  test("retention's empty-dir sweep is age-gated: a fresh staged dir survives") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-retain-dir").toString
    val path = s"file:$dir"
    val v1 = SnapshotLog.commit(spark, path, Seq(1L).toDF("id"), carried = Nil)
    SnapshotLog.commit(spark, path, Seq(2L).toDF("id"),
      carried = SnapshotLog.manifest(spark, path, v1))
    // a concurrent committer that has just mkdir'd its staged commit dir
    // but not yet landed a file: young and empty — must NOT be swept even
    // though it is empty (the mid-write deletion the age gate closes)
    val staged = new java.io.File(dir, "data/commit-v99999-inflight")
    assert(staged.mkdirs())
    // an OLD empty dir (a long-dead torn attempt) must still age out
    val torn = new java.io.File(dir, "data/commit-v00042-torn")
    assert(torn.mkdirs())
    assert(torn.setLastModified(System.currentTimeMillis() - 48 * 3600 * 1000L))
    val (_, deleted) = SnapshotLog.retainVersions(spark, path, keep = 2,
      olderThanMillis = 3600 * 1000L)
    assert(staged.isDirectory,
      s"retention swept a fresh staged commit dir mid-write: $deleted")
    assert(!torn.exists(), s"aged empty torn dir not reclaimed: $deleted")
    // a dir the sweep ITSELF emptied is removed regardless of its entry
    // mtime: commit v3 replacing everything, compact carries keys, then
    // retention with a zero horizon on the now-quiescent table reclaims
    // v1/v2's files AND their emptied commit dirs
    SnapshotLog.compact(spark, path, None, maxFilesPerPartition = 1)
    val before = new java.io.File(dir, "data").listFiles().count(_.isDirectory)
    val (_, deleted2) = SnapshotLog.retainVersions(spark, path, keep = 1,
      olderThanMillis = 0L)
    val after = new java.io.File(dir, "data").listFiles().count(_.isDirectory)
    assert(deleted2.nonEmpty && after < before,
      s"sweep-emptied commit dirs not removed: before=$before after=$after")
  }

  test("an aged empty subdir does not mark a FRESH parent sweepable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-retain-nested").toString
    val path = s"file:$dir"
    val v1 = SnapshotLog.commit(spark, path, Seq(1L).toDF("id"), carried = Nil)
    SnapshotLog.commit(spark, path, Seq(2L).toDF("id"),
      carried = SnapshotLog.manifest(spark, path, v1))
    // a concurrent committer mid-write: a FRESH staged commit dir that
    // happens to contain an aged EMPTY subdir (e.g. a partition dir
    // inherited from a resumed attempt). Removing the aged empty child is
    // correct — but that removal is not a file deletion, so it must NOT
    // flag the fresh parent as "emptied by the sweep" and take it down
    // mid-write with it.
    val staged = new java.io.File(dir, "data/commit-v99999-inflight")
    val oldSub = new java.io.File(staged, "part=stale")
    assert(oldSub.mkdirs())
    assert(oldSub.setLastModified(
      System.currentTimeMillis() - 48 * 3600 * 1000L))
    val (_, deleted) = SnapshotLog.retainVersions(spark, path, keep = 2,
      olderThanMillis = 3600 * 1000L)
    assert(!oldSub.exists(), s"aged empty subdir not reclaimed: $deleted")
    assert(staged.isDirectory,
      s"fresh staged parent swept because its aged empty subdir was: $deleted")
  }

  test("versions past 99,999 are listed: a log commits on through v100001") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap-ceiling").toString
    val path = s"file:$dir"
    SnapshotLog.commit(spark, path, Seq(1L).toDF("id"), carried = Nil)
    // renumber the head as if the log had already committed 99,998 times
    val log = new java.io.File(dir, "_graft_log")
    assert(new java.io.File(log, "v00001.manifest")
      .renameTo(new java.io.File(log, "v99999.manifest")))
    assert(SnapshotLog.latestVersion(spark, path).contains(99999))
    def append(id: Long): Int = {
      val head = SnapshotLog.latestVersion(spark, path).get
      SnapshotLog.commit(spark, path, Seq(id).toDF("id"),
        carried = SnapshotLog.manifest(spark, path, head))
    }
    assert(append(2L) == 100000)
    assert(SnapshotLog.latestVersion(spark, path).contains(100000))
    assert(append(3L) == 100001)
    assert(SnapshotLog.latestVersion(spark, path).contains(100001))
    assert(SnapshotLog.read(spark, path, 100001).as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
  }
}
