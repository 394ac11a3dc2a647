package graft.sources

import graft.SparkSpec
import graft.core._
import graft.operators.{JobRunner, MicroBatchJob}
import graft.streaming.StreamingIngest
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path => HPath,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types._

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** The session's `file:` file system ([[LocalFileSystems]]): resolved for
  * both Hadoop APIs, and writing exactly the modes and `.crc` files Hadoop's
  * stock classes write for the same commit paths.
  */
class LocalFileSystemsSpec extends SparkSpec {

  val schema = StructType(Seq(
    StructField("event_ts", TimestampType),
    StructField("device_id", StringType),
    StructField("bytes", LongType)))
  val h12 = PartitionHour(2023, 6, 27, 12)
  val h13 = PartitionHour(2023, 6, 27, 13)

  /** A hive TSV source with two hours, and a landing path not yet created. */
  def fixture(): IngestConfig = {
    val base = Files.createTempDirectory("graft-lfs-raw")
    for ((h, line) <- Seq(h12 -> "2023-06-27 12:01:00\tdev-1\t10",
                          h13 -> "2023-06-27 13:30:00\tdev-2\t20")) {
      val dir = Paths.get(base.toString, PartitionCodec.toHivePath(h))
      Files.createDirectories(dir)
      Files.write(dir.resolve("a.tsv"), line.getBytes("UTF-8"))
    }
    val landing = Files.createTempDirectory("graft-lfs-landing").resolve("t")
    IngestConfig(s"file:$base", s"file:$landing", schema, "event_ts", "device_id")
  }

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every entry under `root`: relative path (ids masked) and mode. */
  def shape(root: Path): Seq[(String, String)] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).map { p =>
      (Uuid.replaceAllIn(root.relativize(p).toString, "<id>"),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.toSeq.sorted
    finally s.close()
  }

  def localPath(uri: String): Path = Paths.get(new URI(uri).getPath)

  /** Runs `body` with `file:` on Hadoop's stock classes, uncached so every
    * `FileSystem.get` inside the write builds a stock instance. */
  def withStockLocalFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = LocalFileSystems.Confs.map(_._1) :+ "fs.file.impl.disable.cache"
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val hc = spark.sessionState.newHadoopConf()
      assert(FileSystem.get(new URI("file:///"), hc).getClass == classOf[LocalFileSystem])
      assert(FileContext.getFileContext(new URI("file:///"), hc)
        .getDefaultFileSystem.getClass == classOf[LocalFs])
      body
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("a graft session resolves file: to the graft classes for FileSystem and FileContext") {
    for (hc <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(new URI("file:///"), hc)
      assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
      val afs = FileContext.getFileContext(new URI("file:///"), hc).getDefaultFileSystem
      assert(afs.isInstanceOf[GraftLocalFs], afs.getClass)
    }
  }

  test("staged overwrite leaves the modes and .crc files the stock file system leaves") {
    def landTwice(cfg: IngestConfig): Seq[(String, String)] = {
      val df = graft.sources.HivePartitionedSource.readGlob(
        spark, schema, cfg.csv, s"${cfg.sourceBase}/year=*/month=*/day=*/hour=*")
      // the second overwrite swaps live partitions aside through the trash
      LandingTable.overwritePartitions(df, cfg)
      LandingTable.overwritePartitions(df, cfg)
      assert(LandingTable.read(spark, cfg).count() == 2)
      shape(localPath(cfg.landingPath))
    }
    val graftShape = landTwice(fixture())
    val stockShape = withStockLocalFs(landTwice(fixture()))
    assert(graftShape == stockShape)
    assert(graftShape.exists(_._1.endsWith(".parquet.crc")), graftShape)
    // 0755 dirs and 0644 files under the default umask
    assert(graftShape.map(_._2).toSet == Set("rwxr-xr-x", "rw-r--r--"), graftShape)
  }

  test("a one-batch stream leaves the checkpoint and sink the stock file system leaves") {
    def streamOnce(cfg: IngestConfig): (Seq[(String, String)], Seq[(String, String)]) = {
      val ckpt = Files.createTempDirectory("graft-lfs-ckpt").resolve("c")
      val q = StreamingIngest.rawToLanding(spark, cfg, s"file:$ckpt")
      assert(q.awaitTermination(60000))
      assert(spark.read.parquet(cfg.landingPath).count() == 2)
      (shape(ckpt), shape(localPath(cfg.landingPath)))
    }
    val (graftCkpt, graftSink) = streamOnce(fixture())
    val (stockCkpt, stockSink) = withStockLocalFs(streamOnce(fixture()))
    assert(graftCkpt == stockCkpt)
    assert(graftSink == stockSink)
    assert(graftCkpt.exists { case (p, _) => p == "offsets/.0.crc" }, graftCkpt)
    assert(graftCkpt.exists { case (p, _) => p == "commits/.0.crc" }, graftCkpt)
  }

  test("a stateful stream at 8 partitions leaves the checkpoint and state tree the stock file system leaves") {
    def statsOnce(cfg: IngestConfig): Seq[(String, String)] = {
      val ckpt = Files.createTempDirectory("graft-lfs-stats").resolve("c")
      val stats = Files.createTempDirectory("graft-lfs-stats-out").resolve("s")
      val q = StreamingIngest.hourlyStats(MicroBatchJob.streamSession(spark, 8), cfg,
        s"file:$stats", s"file:$ckpt")
      assert(q.awaitTermination(60000))
      shape(ckpt)
    }
    val graftCkpt = statsOnce(fixture())
    val stockCkpt = withStockLocalFs(statsOnce(fixture()))
    assert(graftCkpt == stockCkpt)
    // one state store per shuffle partition, each with its checksummed delta
    assert((0 until 8).forall(p => graftCkpt.exists(_._1 == s"state/0/$p/.1.delta.crc")), graftCkpt)
  }

  test("getFileLinkStatus equals the stock RawLocalFileSystem's, file:-qualified and bare") {
    val conf = spark.sparkContext.hadoopConfiguration
    val graft = new GraftRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(graft, stock).foreach(_.initialize(new URI("file:///"), conf))
    val dir = Files.createTempDirectory("graft-lfs-link")
    val file = Files.write(dir.resolve("f.txt"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def status(fs: RawLocalFileSystem, p: HPath): Either[String, String] =
      try Right(fs.getFileLinkStatus(p).toString)
      catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    for (p <- Seq(file, dir, dir.resolve("missing"), link, dangling);
         hp <- Seq(new HPath(p.toUri), new HPath(p.toString))) {
      assert(status(graft, hp) == status(stock, hp), hp)
    }
    // a bare link path is a link to both; its file:-qualified form is the target
    assert(graft.getFileLinkStatus(new HPath(link.toString)).isSymlink)
    assert(!graft.getFileLinkStatus(new HPath(link.toUri)).isSymlink)
  }

  test("setPermission sets every mode in-process and still takes the sticky bit") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val file = Files.createTempFile("graft-lfs-perm", ".bin")
    for (mode <- 0 until 512) {
      val perm = new FsPermission(mode.toShort)
      fs.setPermission(new HPath(file.toUri), perm)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) == perm.toString)
    }
    val dir = new HPath(Files.createTempDirectory("graft-lfs-sticky").toUri)
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
    val sticky = fs.getFileStatus(dir).getPermission
    assert(sticky.getStickyBit && sticky.toShort == Integer.parseInt("1777", 8), sticky)
  }

  test("JobRunner.await returns the timeout result while the job runs, then its outcome") {
    val cfg = fixture()
    val runner = new JobRunner(spark)
    assertThrows[NoSuchElementException](runner.await("no-such-job"))
    // hold every task slot so the load job cannot finish until released
    import LocalFileSystemsSpec.{gate, started}
    val slots = spark.sparkContext.defaultParallelism
    started = new CountDownLatch(slots)
    gate = new CountDownLatch(1)
    val blocker = new Thread(() => spark.sparkContext.parallelize(1 to slots, slots)
      .foreach { _ =>
        LocalFileSystemsSpec.started.countDown()
        LocalFileSystemsSpec.gate.await(60, TimeUnit.SECONDS)
      })
    blocker.start()
    try {
      assert(started.await(60, TimeUnit.SECONDS))
      val meta = runner.assemble(cfg, h12)
      assert(runner.start(cfg, meta) == JobState.Running)
      assert(runner.await(meta.jobId, 1) == ((JobState.Running, Some("timeout after 1s"))))
      gate.countDown()
      assert(runner.await(meta.jobId) == ((JobState.Success, None)))
    } finally {
      gate.countDown()
      blocker.join(60000)
    }
  }
}

object LocalFileSystemsSpec {
  // tasks run in the test JVM on a local master, so they see these latches
  @volatile var started: CountDownLatch = new CountDownLatch(0)
  @volatile var gate: CountDownLatch = new CountDownLatch(0)
}
