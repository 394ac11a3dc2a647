package graft.sources

import graft.SparkSpec
import graft.core._
import graft.operators.VectorQueries
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

/** Old-or-new commits: a reader racing repeated rewrites of one
  * partition must never observe a TORN partition — every successful read
  * returns exactly one generation's full content (count AND
  * content-marker agree), never a mix of generations or a partial file set.
  * Landing and a bucket upsert go through the stage-and-swap commit
  * ([[PartitionSwap]]), where transient absence/read errors during the
  * two-rename window are legitimate retryable outcomes and are ignored. An
  * IVF bin split commits to a [[SnapshotLog]] index: a reader pins one
  * manifest and no commit deletes a file, so there it must see no error
  * at all.
  */
class AtomicCommitSpec extends SparkSpec {

  val schema = StructType(Seq(
    StructField("event_ts", TimestampType),
    StructField("device_id", StringType),
    StructField("bytes", LongType)))

  private val h = PartitionHour(2023, 6, 27, 12)

  private def frame(marker: String, rows: Int) = {
    import scala.jdk.CollectionConverters._
    val data = (0 until rows).map { i =>
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf(f"2023-06-27 12:${i % 60}%02d:00"),
        s"$marker-$i", marker.length.toLong)
    }.asJava
    // several input partitions => several staged files per partition dir,
    // so a torn read (subset of files) would show as a wrong count
    spark.createDataFrame(data, schema).repartition(4)
  }

  /** Runs `write(1)` … `write(rounds)` while a reader thread repeats
    * `read` (row count, content markers). Every completed read must be one
    * of `valid` or, when `retryable`, the clean transient absence; a read
    * error counts as a retryable outcome only when `retryable`.
    */
  private def assertNoTornReads(rounds: Int, valid: Set[(Long, Set[String])],
      read: () => (Long, Set[String]), retryable: Boolean = true)(
      write: Int => Unit): Unit = {
    val done = new AtomicBoolean(false)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[String])]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => {
      while (!done.get()) {
        try seen.add(read())
        catch { case e: Throwable => errors.add(e); () }
      }
    })
    reader.start()
    try (1 to rounds).foreach(write)
    finally {
      done.set(true)
      reader.join(30000)
    }
    // a reader whose partition listing lands inside the two-rename window
    // legitimately sees the partition absent => 0 rows; per the commit
    // contract that is a retryable transient observation, like a read
    // error — not torn
    val transientAbsence = (0L, Set.empty[String])
    val observed = seen.toArray(Array.empty[(Long, Set[String])]).toSet
    assert(observed.nonEmpty, "reader never completed a read")
    val torn = observed -- valid -- (if (retryable) Set(transientAbsence) else Set.empty)
    assert(torn.isEmpty, s"torn reads observed: $torn")
    assert(retryable || errors.isEmpty,
      s"${errors.size} reads failed: ${Option(errors.peek()).map(_.toString)}")
  }

  /** (row count, distinct values of `markerCol`) of a parquet read. */
  private def countAndMarkers(path: String, markerCol: String) = {
    val rows = spark.read.parquet(path).select(markerCol).collect()
    (rows.length.toLong, rows.map(_.get(0).toString).toSet)
  }

  test("concurrent reader never sees a torn partition during staged overwrite") {
    val landing = Files.createTempDirectory("graft-atomic")
    val cfg = IngestConfig(sourceBase = "unused", landingPath = s"file:$landing",
      schema = schema, partitionField = "event_ts", clusterField = "device_id")

    val gens = Seq("old" -> 40, "new" -> 25)
    LandingTable.overwritePartitions(frame(gens(0)._1, gens(0)._2), cfg)
    assertNoTornReads(6, gens.map { case (m, n) => (n.toLong, Set(m)) }.toSet,
      () => {
        val rows = LandingTable.readPartition(spark, cfg, h)
          .select("device_id").collect()
        (rows.length.toLong, rows.map(_.getString(0).takeWhile(_ != '-')).toSet)
      }) { i =>
      val (m, n) = gens(i % 2)
      LandingTable.overwritePartitions(frame(m, n), cfg)
    }
  }

  test("concurrent reader never sees a torn bucket during upsertLatest") {
    import spark.implicits._
    val dir = s"file:${Files.createTempDirectory("graft-atomic-upsert")}"
    // one bucket, every key rewritten each round with that round's marker:
    // a torn read shows two markers or a count other than 40
    def batch(i: Int) = (0 until 40).map(k => (k.toLong, i.toLong, s"g$i"))
      .toDF("user_id", "ts", "gen").repartition(4)
    def upsert(i: Int) = MutationOps.upsertLatest(spark, dir, batch(i),
      keys = Seq("user_id"), orderCols = Seq("ts"), nBuckets = 1)
    upsert(0)
    assertNoTornReads(6, (0 to 6).map(i => (40L, Set(s"g$i"))).toSet,
      () => countAndMarkers(s"$dir/bucket=0", "gen"))(i => upsert(i))
  }

  test("concurrent reader never sees a torn bin during splitBins") {
    import spark.implicits._
    val dir = s"file:${Files.createTempDirectory("graft-atomic-split")}"
    // bin 0 holds 40 vectors in 4 files; a split at bound 20 leaves 20 in
    // bin 0 and mints bin 1, and each round commits the 40 back as a
    // replace-all version — a reader of bin 0's files in the head manifest
    // sees 40 or 20, never a partial file set, both generations or an error
    val full = (0 until 40)
      .map(v => (v.toLong, Seq(v.toFloat, 1f), 0L, 0L))
      .toDF("vec_id", "embedding", "centroid_id", "pbin").repartition(4)
    def restore() = SnapshotLog.commit(spark, dir, full, carried = Nil,
      partitionBy = Some("pbin"))
    restore()
    def readBin0() = {
      val v = SnapshotLog.latestVersion(spark, dir).get
      val rows = SnapshotLog.readFiles(spark, SnapshotLog.manifest(spark, dir, v)
          .filter(_.contains("/_pbin=0/")))
        .select("centroid_id").collect()
      (rows.length.toLong, rows.map(_.get(0).toString).toSet)
    }
    assertNoTornReads(3, Set((40L, Set("0")), (20L, Set("0"))), () => readBin0(),
      retryable = false) { _ =>
      assert(VectorQueries.splitBins(spark, dir, s"$dir-map", 20L) == Seq((0L, 1L)))
      restore()
    }
  }

  test("staged and dynamic commits produce identical table content") {
    // dynamic overwrite's content is the last generation's plain
    // partitioned write into a fresh directory
    val l1 = Files.createTempDirectory("graft-eq-staged")
    val l2 = Files.createTempDirectory("graft-eq-plain")
    def cfgAt(p: java.nio.file.Path) = IngestConfig(
      sourceBase = "unused", landingPath = s"file:$p", schema = schema,
      partitionField = "event_ts", clusterField = "device_id")
    Seq("old" -> 12, "new" -> 9).foreach { case (m, n) =>
      LandingTable.overwritePartitions(frame(m, n), cfgAt(l1))
    }
    LandingTable.withPartitionColumns(frame("new", 9), "event_ts")
      .write.mode("overwrite").partitionBy(LandingTable.PartitionCols: _*).parquet(s"file:$l2")
    val a = LandingTable.read(spark, cfgAt(l1))
      .select("device_id", "bytes", "year", "month", "day", "hour")
    val b = LandingTable.read(spark, cfgAt(l2))
      .select("device_id", "bytes", "year", "month", "day", "hour")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() == 9)
  }

  test("staged commit leaves no staging/trash residue and replaces exactly one hour") {
    val landing = Files.createTempDirectory("graft-atomic2")
    val cfg = IngestConfig(sourceBase = "unused", landingPath = s"file:$landing",
      schema = schema, partitionField = "event_ts", clusterField = "device_id")
    LandingTable.overwritePartitions(frame("old", 10), cfg)
    // second hour, then re-commit the first: the second must be untouched
    val other = frame("oth", 7).withColumn("event_ts",
      org.apache.spark.sql.functions.expr("event_ts + INTERVAL 1 HOUR"))
    LandingTable.overwritePartitions(other, cfg)
    LandingTable.overwritePartitions(frame("new", 4), cfg)

    assert(LandingTable.readPartition(spark, cfg, h).count() == 4)
    assert(LandingTable.readPartition(spark, cfg,
      PartitionHour(2023, 6, 27, 13)).count() == 7)
    val leftovers = Files.list(landing).iterator()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (leftovers.hasNext) names += leftovers.next().getFileName.toString
    assert(!names.exists(n => n.startsWith(".staging") || n.startsWith(".trash")),
      names.mkString(","))
  }

  test("failed-swap rollback restores displaced partitions from trash") {
    import org.apache.hadoop.fs.Path
    val landing = Files.createTempDirectory("graft-rollback")
    val cfg = IngestConfig(sourceBase = "unused", landingPath = s"file:$landing",
      schema = schema, partitionField = "event_ts", clusterField = "device_id")
    LandingTable.overwritePartitions(frame("old", 10), cfg)

    val root = new Path(cfg.landingPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rel = "year=2023/month=06/day=27/hour=12"
    val live = new Path(root, rel)
    val trash = new Path(root, ".trash-test")

    // manufacture the mid-failure state the ADVICE scenario describes:
    // rename(live, trash) succeeded, rename(staged, live) never did
    fs.mkdirs(new Path(trash, rel).getParent)
    assert(fs.rename(live, new Path(trash, rel)))
    assert(!fs.exists(live))

    assert(PartitionSwap.restoreFromTrash(fs, root, trash,
      LandingTable.PartitionCols.map(c => s"$c=*").mkString("/")),
      "restore must report full success")
    assert(LandingTable.readPartition(spark, cfg, h).count() == 10,
      "pre-commit content must be back after rollback")

    // superseded case: live already holds the new generation => trash copy
    // is stale, restore must leave live alone and still report success
    val trash2 = new Path(root, ".trash-test2")
    fs.mkdirs(new Path(trash2, rel).getParent)
    LandingTable.overwritePartitions(frame("new", 4), cfg) // live = new gen
    // plant a stale copy in trash2
    val stale = frame("stale", 3)
    LandingTable.overwritePartitions(stale, IngestConfig(
      sourceBase = "unused", landingPath = s"file:$landing/.trash-scratch",
      schema = schema, partitionField = "event_ts", clusterField = "device_id"))
    assert(fs.rename(new Path(s"$landing/.trash-scratch/$rel"), new Path(trash2, rel)))
    assert(PartitionSwap.restoreFromTrash(fs, root, trash2,
      LandingTable.PartitionCols.map(c => s"$c=*").mkString("/")))
    assert(LandingTable.readPartition(spark, cfg, h).count() == 4,
      "superseded trash copy must not clobber committed content")

    // an emptied partition rolls back too (one-level bucket= layout): the
    // commit names bucket=0 (emptied) and bucket=1 (rewritten), and the
    // staged rename fails after both live buckets went to trash
    import spark.implicits._
    val bRoot = new Path(s"file:${Files.createTempDirectory("graft-rollback-bucket")}")
    Seq((1L, 0), (2L, 1)).toDF("k", "bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(bRoot.toString)
    def failingSwap(restoreBucket0: Boolean) = intercept[java.io.IOException] {
      val failing = new org.apache.hadoop.fs.FilterFileSystem(fs) {
        override def rename(src: Path, dst: Path): Boolean =
          if (src.toString.contains("/.staging-")) false
          else if (!restoreBucket0 && src.toString.contains("/.trash-") &&
            src.getName == "bucket=0") false
          else super.rename(src, dst)
      }
      PartitionSwap.swap(failing, bRoot, "bucket=*", Seq("bucket=0", "bucket=1")) {
        staging => Seq(3L).toDF("k").write.parquet(new Path(staging, "bucket=1").toString)
      }
    }
    def bucketRows() = spark.read.parquet(bRoot.toString)
      .select($"k", $"bucket".cast("int")).as[(Long, Int)].collect().toSet
    def residue() = fs.listStatus(bRoot).map(_.getPath.getName)
      .filter(n => n.startsWith(".trash-") || n.startsWith(".staging-")).toSeq

    failingSwap(restoreBucket0 = true)
    assert(bucketRows() == Set((1L, 0), (2L, 1)),
      "the emptied bucket must be back after the rollback")
    assert(residue().isEmpty, "trash must go once every entry was restored")

    failingSwap(restoreBucket0 = false)
    assert(bucketRows() == Set((2L, 1)), "bucket=1 must still be restored")
    val kept = residue()
    assert(kept.size == 1 && kept.head.startsWith(".trash-") &&
      fs.exists(new Path(new Path(bRoot, kept.head), "bucket=0")),
      s"trash holding the unrestored bucket must be kept: $kept")
  }
}
