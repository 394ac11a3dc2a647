package graft.sources

import graft.SparkSpec
import graft.operators.{MicroBatchJob, RelationalQueries, VectorQueries}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.GraftListenerBus
import org.apache.spark.sql.types._

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** [[ParquetFooterSchema]] returns the schema Spark's own inference job
  * returns, and the reads built on it start no Spark job.
  */
class ParquetFooterSchemaSpec extends SparkSpec {

  private val Tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def inferred(paths: String*): StructType = spark.read.parquet(paths: _*).schema

  /** Spark jobs started by `body`, listener bus drained on both sides. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    GraftListenerBus.drain(sc)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try { body; GraftListenerBus.drain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** One events file with `ts` of the given parquet timestamp annotation,
    * written without a Spark schema in its footer, so the converter flags
    * decide the type. */
  private def eventsWithTs(annotation: String): String = {
    val dir = Files.createTempDirectory("graft-footer-ts").toString
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts ($annotation); }")
    val w = ExampleParquetWriter.builder(new HPath(s"file:$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", 1700000000000000L + i))
    } finally w.close()
    dir
  }

  for (sf <- Seq("sf0.001", "sf0.01"); t <- Tables)
    test(s"$sf $t: the footer schema equals Spark's inferred schema") {
      val p = s"/root/testdata/$sf/$t.parquet"
      assert(ParquetFooterSchema.of(spark, Seq(p)) == inferred(p))
      assert(ParquetFooterSchema.read(spark, p).schema == inferred(p))
    }

  for ((annotation, tsType) <- Seq("TIMESTAMP(NANOS,true)" -> LongType,
      "TIMESTAMP(MICROS,true)" -> TimestampType,
      "TIMESTAMP(MICROS,false)" -> TimestampNTZType))
    test(s"events with ts as $annotation: footer schema, inferred schema and eventsTable agree") {
      val dir = eventsWithTs(annotation)
      val p = s"$dir/events.parquet"
      // required columns: the footer schema is Spark's inference as is,
      // and the read makes it nullable as Spark's own read does
      val s = ParquetFooterSchema.of(spark, Seq(p))
      assert(!s("ts").nullable && s("ts").dataType == tsType)
      assert(SnapshotLog.readFiles(spark, Seq(p)).schema == inferred(p))
      assert(ParquetFooterSchema.read(spark, p).schema == inferred(p))
      // eventsTable types ts as TIMESTAMP whichever way the file carries it
      assert(RelationalQueries.eventsTable(spark, dir).schema("ts").dataType == TimestampType)
    }

  test("a Spark-written directory, a st20 result log and a sidecar: footer schema equals inferred") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footer-dir").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2).write.parquet(s"file:$dir/t")
    assert(ParquetFooterSchema.read(spark, s"file:$dir/t").schema == inferred(s"file:$dir/t"))

    VectorQueries.st20StreamingAnnServe(spark, sfDir)
    val results = "file:" + new java.io.File(
      s"target/parity/st20-results-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}").getAbsolutePath
    val (v, _) = MicroBatchJob.batchLog(spark, results)
    val files = SnapshotLog.dataFiles(SnapshotLog.manifest(spark, results, v))
    assert(files.nonEmpty)
    assert(ParquetFooterSchema.of(spark, files) == inferred(files: _*))
    assert(SnapshotLog.read(spark, results, v).schema == inferred(files: _*))

    val tbl = s"file:$dir/log"
    val book = Seq((0, Seq(0.5, 1.5)), (1, Seq(2.5, 3.5))).toDF("centroid_id", "c")
    SnapshotLog.commit(spark, tbl, Seq((1L, 10L)).toDF("id", "g"), Nil,
      partitionBy = Some("g"), sidecars = Seq("coarse" -> book))
    val sidecar = SnapshotLog.manifest(spark, tbl, 1).filter(_.contains("/_sidecar=coarse/"))
    assert(sidecar.nonEmpty)
    assert(SnapshotLog.readSidecar(spark, tbl, 1, "coarse").schema == inferred(sidecar: _*))
  }

  test("a file rewritten with a different schema reads back the new schema") {
    import spark.implicits._
    val p = "file:" + Files.createTempDirectory("graft-footer-rw").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(p)
    assert(ParquetFooterSchema.read(spark, p).schema.fieldNames.toSeq == Seq("id", "v"))
    Seq((1, 2.0, true)).toDF("k", "x", "flag").write.mode("overwrite").parquet(p)
    val s = ParquetFooterSchema.read(spark, p).schema
    assert(s == inferred(p))
    assert(s.fieldNames.toSeq == Seq("k", "x", "flag"))
  }

  test("table, eventsTable and SnapshotLog.read start no Spark job") {
    import spark.implicits._
    assert(jobsOf { RelationalQueries.table(spark, sfDir, "lineitem") } == 0)
    assert(jobsOf { RelationalQueries.eventsTable(spark, sfDir) } == 0)
    val tbl = "file:" + Files.createTempDirectory("graft-footer-log").toString
    SnapshotLog.commit(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Nil)
    assert(jobsOf { SnapshotLog.read(spark, tbl, 1) } == 0)
    // the inference job these replace
    assert(jobsOf { spark.read.parquet(s"$sfDir/lineitem.parquet") } == 1)
  }
}
