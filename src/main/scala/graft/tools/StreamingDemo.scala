package graft.tools

import graft.core._
import graft.streaming.StreamingIngest
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/** Runnable demo of the streaming pipeline: TSV files appear in the hive
  * tree, a file-stream query lands them continuously, and a watermarked
  * hourly aggregate emits each closed hour exactly once.
  *
  *   sbt "runMain graft.tools.StreamingDemo"
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[4]", 4)
      .appName("graft-streaming-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Files.createTempDirectory("graft-sd-raw").toString
    val landing = Files.createTempDirectory("graft-sd-landing").toString + "/t"
    val stats = Files.createTempDirectory("graft-sd-stats").toString + "/t"
    val ckptA = Files.createTempDirectory("graft-sd-ckA").toString
    val ckptB = Files.createTempDirectory("graft-sd-ckB").toString
    val schema = StructType(Seq(
      StructField("event_ts", TimestampType),
      StructField("device_id", StringType),
      StructField("bytes", LongType)))
    val cfg = IngestConfig(s"file:$base", s"file:$landing", schema, "event_ts", "device_id")

    def write(h: PartitionHour, name: String, lines: Seq[String]): Unit = {
      val dir = Paths.get(base, PartitionCodec.toHivePath(h))
      Files.createDirectories(dir)
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    write(PartitionHour(2023, 6, 27, 12), "a.tsv", Seq(
      "2023-06-27 12:01:00\tdev-1\t10", "2023-06-27 12:59:00\tdev-2\t20"))
    write(PartitionHour(2023, 6, 27, 14), "b.tsv", Seq(
      "2023-06-27 14:30:00\tdev-3\t30"))

    StreamingIngest.rawToLanding(spark, cfg, ckptA).awaitTermination(120000)
    println("== landing after stream:")
    spark.read.parquet(landing).orderBy("event_ts").show(false)

    StreamingIngest.hourlyStats(spark, cfg, s"file:$stats", ckptB).awaitTermination(120000)
    println("== hourly stats (hour 12 closed by watermark; hour 14 still open):")
    spark.read.parquet(stats).show(false)

    // a late file arrives; a second stream run picks up only the delta
    write(PartitionHour(2023, 6, 27, 12), "late.tsv", Seq(
      "2023-06-27 12:30:00\tdev-9\t99"))
    StreamingIngest.rawToLanding(spark, cfg, ckptA).awaitTermination(120000)
    println("== landing after late file (delta only, no reprocessing):")
    spark.read.parquet(landing).orderBy("event_ts").show(false)

    // stateful sessionization over the same file stream (gap = 30 min):
    // dev-level ids reused as user ids via hash for the demo
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ckptC = Files.createTempDirectory("graft-sd-ckC").toString
    val sessIn = spark.readStream.schema(cfg.schema)
      .options(graft.core.CsvOptions.toReaderOptions(cfg.csv))
      .csv(s"file:$base/year=*/month=*/day=*/hour=*")
      .select(xxhash64(col("device_id")).as("user_id"),
        col("event_ts").as("ts"), col("bytes").as("event_id"))
      .as[graft.streaming.Sessionize.Event]
    val sessions = graft.streaming.Sessionize.sessionize(sessIn, gapSec = 1800)(spark)
    val sq = sessions.writeStream.format("memory").queryName("demo_sessions")
      .outputMode("append")
      .option("checkpointLocation", ckptC)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    sq.awaitTermination(120000)
    println("== closed sessions (gap>30min or watermark-timed-out):")
    spark.table("demo_sessions").orderBy("session_start_us").show(false)

    spark.stop()
  }
}
