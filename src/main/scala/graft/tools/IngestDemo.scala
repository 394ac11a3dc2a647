package graft.tools

import graft.core._
import graft.operators.{JobRunner, Workflow}
import graft.plans.RequirePartitionFilter
import graft.sources.LandingTable
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/** Runnable end-to-end demo of the ingestion engine's public API: generates
  * hive-partitioned TSV fixtures, runs the reference workflow (probe -> load
  * -> poll) for two hours plus a skip and an idempotent re-run, then shows the
  * landing table and the require-partition-filter guard.
  *
  *   sbt "runMain graft.tools.IngestDemo"
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[4]", 4)
      .appName("graft-ingest-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Files.createTempDirectory("graft-demo-raw")
    val landing = Files.createTempDirectory("graft-demo-landing")
    val cfg = IngestConfig(
      sourceBase = s"file:$base",
      landingPath = s"file:$landing",
      schema = StructType(Seq(
        StructField("event_ts", TimestampType),
        StructField("device_id", StringType),
        StructField("event_type", StringType),
        StructField("payload", StringType),
        StructField("bytes", LongType))),
      partitionField = "event_ts",
      clusterField = "device_id")

    val h12 = PartitionHour(2023, 6, 27, 12)
    val h13 = PartitionHour(2023, 6, 27, 13)
    def writeTsv(h: PartitionHour, name: String, lines: Seq[String]): Unit = {
      val dir = Paths.get(base.toString, PartitionCodec.toHivePath(h))
      Files.createDirectories(dir)
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    writeTsv(h12, "part-000.tsv", Seq(
      "2023-06-27 12:14:03\tdev-0042\tview\t/some/path?q=1\t5120",
      "2023-06-27 12:20:00\tdev-0007\tclick\t\"quoted\",comma\t77"))
    writeTsv(h12, "part-001.tsv", Seq(
      "2023-06-27 12:59:59\tdev-0042\tview\tx\t1"))
    writeTsv(h13, "part-000.tsv", Seq(
      "2023-06-27 13:01:00\tdev-0001\tview\ty\t2"))

    val runner = new JobRunner(spark)
    println(s"== ingest ${PartitionCodec.toBqId(h12)} -> " +
      Workflow.runAndAwait(spark, runner, cfg, Some(h12)))
    println(s"== ingest ${PartitionCodec.toBqId(h13)} -> " +
      Workflow.runAndAwait(spark, runner, cfg, Some(h13)))
    println(s"== ingest absent 1999010100 -> " +
      Workflow.runAndAwait(spark, runner, cfg, Some(PartitionHour(1999, 1, 1, 0))))

    println("== landing table after initial loads:")
    LandingTable.read(spark, cfg).orderBy("event_ts").show(false)

    // idempotent re-ingest of hour 12 after its files changed
    Files.deleteIfExists(
      Paths.get(base.toString, PartitionCodec.toHivePath(h12), "part-001.tsv"))
    println(s"== re-ingest ${PartitionCodec.toBqId(h12)} (one file removed) -> " +
      Workflow.runAndAwait(spark, runner, cfg, Some(h12)))
    println("== landing table after re-ingest (h12 replaced, h13 untouched):")
    LandingTable.read(spark, cfg).orderBy("event_ts").show(false)

    // strict decorator-load parity: an hour-13 dir containing an hour-14
    // record must fail the job like BigQuery's partition-mismatch reject
    writeTsv(h13, "late.tsv", Seq("2023-06-27 14:05:00\tdev-8\tlate\tz\t9"))
    val strict = cfg.copy(strictPartition = true)
    val sm = runner.assemble(strict, h13)
    runner.start(strict, sm)
    val (sState, sMsg) = runner.await(sm.jobId)
    println(s"== strict ingest with out-of-hour record -> ${sState.name} " +
      sMsg.map(_.take(100)).getOrElse(""))

    // FAILFAST CSV parity: a malformed row fails the whole load (BQ
    // max_bad_records=0), with the parse error in the status message
    writeTsv(h13, "bad.tsv", Seq("not-a-timestamp\tdev-9\tbad\tw\t1"))
    val failfast = cfg.copy(csv = cfg.csv.copy(parseMode = "FAILFAST"))
    val fm = runner.assemble(failfast, h13)
    runner.start(failfast, fm)
    val (fState, fMsg) = runner.await(fm.jobId)
    println(s"== FAILFAST ingest with malformed row -> ${fState.name} " +
      fMsg.map(m => m.substring(m.lastIndexOf(" <- ") + 1).take(90)).getOrElse(""))
    Files.deleteIfExists(
      Paths.get(base.toString, PartitionCodec.toHivePath(h13), "bad.tsv"))
    Files.deleteIfExists(
      Paths.get(base.toString, PartitionCodec.toHivePath(h13), "late.tsv"))

    // alert-parity log stream: the captured outcome lines a log-based
    // alert greps (see README "Monitoring")
    println("== job-outcome log lines (workflow_result FAILURE = alert #1):")
    val lines = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val sink = (sev: String, l: String) => lines.synchronized { lines += ((sev, l)); () }
    graft.operators.JobLog.addSink(sink)
    try {
      Workflow.runAndAwait(spark, runner, cfg, Some(h12))
      Workflow.runAndAwait(spark, runner,
        cfg.copy(landingPath = "file:/proc/forbidden/x"), Some(h12),
        Workflow.Policy(maxRetries = 0))
    } finally graft.operators.JobLog.removeSink(sink)
    lines.synchronized(lines.toList).collect {
      case (sev, l) if l.contains("workflow_result") =>
        println(s"  [$sev] ${l.take(140)}")
    }

    // backfill a 5-hour range: present hours converge, absent hours skip
    val bf = Workflow.backfill(spark, runner, cfg,
      PartitionHour(2023, 6, 27, 10), PartitionHour(2023, 6, 27, 14))
    println("== backfill 10..14 -> " + bf.map { case (h, r) =>
      s"${h.hour}:${r.status.name}" }.mkString(" "))

    // maintenance: compact h12 (multi-file from the two loads), register as
    // a SQL table, expire everything before h13
    val (nb, na) = graft.sources.LandingMaintenance.compactPartition(spark, cfg, h12)
    println(s"== compact h12: files $nb -> $na")
    graft.sources.LandingMaintenance.register(spark, cfg, "demo_landing")
    val cnt = spark.sql(
      "SELECT count(*) FROM demo_landing WHERE year='2023' AND month='06' AND day='27' AND hour='12'")
      .collect()(0).getLong(0)
    println(s"== registered SQL table, pruned count(h12) = $cnt")
    val dropped = graft.sources.LandingMaintenance.expirePartitions(spark, cfg, h13)
    println(s"== expired before h13: ${dropped.map(PartitionCodec.toBqId)}")
    spark.sql("DROP TABLE demo_landing")

    println("== require_partition_filter guard:")
    RequirePartitionFilter.protect(cfg.landingPath)
    try {
      LandingTable.read(spark, cfg).count()
      println("  UNEXPECTED: full scan allowed")
    } catch {
      case e: Exception =>
        println(s"  full scan rejected: ${e.getMessage.linesIterator.next()}")
    }
    val n = LandingTable.read(spark, cfg)
      .filter("year = '2023' and month = '06' and day = '27' and hour = '13'").count()
    println(s"  filtered scan allowed, rows=$n (h13; h12 was expired above)")
    RequirePartitionFilter.clear()
    spark.stop()
  }
}
