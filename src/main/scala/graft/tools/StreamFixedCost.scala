package graft.tools

import graft.operators.{MicroBatchJob, VectorQueries}
import org.apache.spark.sql.functions.col

/** Isolate the micro-batch harness's fixed cost (optimization-guide §1:
  * measure before touching): times [[MicroBatchJob.run]] over the st22
  * 4-file query fixture with three bodies —
  * (a) empty body (pure trigger + offset/commit-log machinery),
  * (b) body = count() (adds one tiny job per batch),
  * (c) body = [[MicroBatchJob.appendBatch]], the keyed result-log append
  *     with in-loop maintenance that the serving streams run.
  * The deltas attribute the family's per-query wall to machinery vs
  * driver actions vs commit I/O.
  */
object StreamFixedCost {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val qDir = new java.io.File(s"target/parity/st22-queries-$sfTag")
      .getAbsoluteFile.toString
    require(new java.io.File(qDir).isDirectory, s"run st22 once first: $qDir")
    val scratch = java.nio.file.Files.createTempDirectory("sfc").toString

    def run(label: String,
        body: String => (org.apache.spark.sql.SparkSession,
          org.apache.spark.sql.DataFrame, Long) => Unit): Unit =
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        MicroBatchJob.run(spark, qDir, VectorQueries.EmbeddingArrivalSchema,
          s"$scratch/$label-$i-ckpt", 8)(body(s"file:$scratch/$label-$i-log"))
        println(f"[sfc] $label rep $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }

    run("empty", _ => (_, _, _) => ())
    run("count", _ => (_, b, _) => { b.count(); () })
    run("commit", log => (bs, b, id) =>
      MicroBatchJob.appendBatch(bs, log, b.select(col("vec_id")).coalesce(1),
        id, None, maxFilesPerPartition = 2))
    spark.stop()
  }
}
