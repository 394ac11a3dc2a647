package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions.col

/** The micro-batch harness the st17–st28 streams run on: one batch per
  * arrival file, a child session with AQE off at the caller's shuffle
  * width, keyed appends that no-op on replay, a checkpoint a second run
  * resumes from, and the one wipe helper.
  */
class MicroBatchJobSpec extends SparkSpec {

  private def local(name: String) =
    new java.io.File(s"target/parity/mbj-spec-$name").getAbsoluteFile.toString

  /** A 3-file arrival fixture of (vec_id, embedding) rows, one file per
    * vec_id range.
    */
  private lazy val arrivals: String = {
    val dir = local("arrivals")
    MicroBatchJob.wipe(spark, s"file:$dir")
    MicroBatchJob.splitArrivals(
      spark.range(30).select(col("id").as("vec_id"),
        org.apache.spark.sql.functions.array(col("id").cast("float"))
          .as("embedding")),
      "vec_id", 3, dir, "._split_ok", "mbj-spec")
    dir
  }

  private case class Seen(batchId: Long, ids: Set[Long],
      shufflePartitions: String, aqe: String)

  test("one batch per arrival file, on a child session with AQE off at " +
      "the given width; keyed appends no-op on replay; a rerun resumes") {
    val ckpt = local("ckpt")
    val log = s"file:${local("log")}"
    MicroBatchJob.wipe(spark, s"file:$ckpt", log)
    val parentWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val parentAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Seen]())

    MicroBatchJob.run(spark, arrivals, VectorQueries.EmbeddingArrivalSchema,
        ckpt, 3) { (bs, batch, batchId) =>
      seen.add(Seen(batchId,
        batch.select("vec_id").collect().map(_.getLong(0)).toSet,
        bs.conf.get("spark.sql.shuffle.partitions"),
        bs.conf.get("spark.sql.adaptive.enabled")))
      MicroBatchJob.appendBatch(bs, log, batch.select(col("vec_id")),
        batchId, None, maxFilesPerPartition = 2)
    }

    import scala.jdk.CollectionConverters._
    val batches = seen.asScala.toSeq.sortBy(_.batchId)
    assert(batches.map(_.batchId) == Seq(0L, 1L, 2L))
    val files = new java.io.File(arrivals).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        spark.read.parquet(s"file:$f").select("vec_id").collect()
          .map(_.getLong(0)).toSet).toSet
    assert(files.size == 3)
    assert(batches.map(_.ids).toSet == files,
      "each batch is exactly one whole arrival file")
    assert(batches.forall(b => b.shufflePartitions == "3" && b.aqe == "false"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parentWidth)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == parentAqe)

    val (head, n) = MicroBatchJob.batchLog(spark, log)
    assert(n == 3)
    assert(SnapshotLog.read(spark, log, head).count() == 30)

    // a replayed batch 1 finds its key live: no new version, same count
    val replayed = MicroBatchJob.appendKeyed(spark, log,
      spark.range(100, 110).select(col("id").as("vec_id")), "batch-1")
    val (headAfter, nAfter) = MicroBatchJob.batchLog(spark, log)
    assert(headAfter == head && replayed <= head)
    assert(nAfter == 3)
    assert(SnapshotLog.read(spark, log, headAfter).count() == 30)

    // st19's resume contract: the same checkpoint with no new arrivals
    // runs no batch at all
    seen.clear()
    MicroBatchJob.run(spark, arrivals, VectorQueries.EmbeddingArrivalSchema,
        ckpt, 3) { (_, _, batchId) =>
      seen.add(Seen(batchId, Set.empty, "", "")); ()
    }
    assert(seen.isEmpty)
    assert(MicroBatchJob.batchLog(spark, log)._2 == 3)
  }

  test("wipe removes a nested tree and no-ops on a missing path") {
    val root = new java.io.File(local("wipe"))
    val leaf = new java.io.File(root, "a/b/c")
    leaf.mkdirs()
    java.nio.file.Files.write(new java.io.File(leaf, "f.txt").toPath,
      "x".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(root, "top.txt").toPath,
      "y".getBytes("UTF-8"))
    MicroBatchJob.wipe(spark, s"file:$root")
    assert(!root.exists())
    MicroBatchJob.wipe(spark, s"file:$root", s"file:$root/never")
    assert(!root.exists())
  }
}
