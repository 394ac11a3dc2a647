package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** x4 — the persisted pack map. The DuckDB oracle proves the censused
  * round-trip equals x3's in-flight arithmetic; these pin the ARTIFACT
  * properties the census cannot see: re-run idempotency under the staged
  * partition swap (same rows, no accretion, no stale survivors), the
  * split-partitioned layout a trainer prunes on, and that the stored
  * columns alone fully determine every document's placement.
  */
class X4PackMapSpec extends SparkSpec {

  test("x4 re-run is idempotent: same rows, no accretion, dynamic " +
      "overwrite replaces every produced split") {
    import spark.implicits._
    val dir = CorpusPipeline.x4WritePackMap(spark, sfDir)
    def rows() = spark.read.parquet(s"file:$dir")
      .select(col("split"), col("doc_id"), col("seq_id"),
        col("start_pos"), col("n_pieces"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val first = rows()
    assert(first.nonEmpty)
    // all three splits landed as partition directories (the layout a
    // trainer's split-scoped read prunes on)
    val splitDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(splitDirs == Set("split=train", "split=valid", "split=test"),
      s"unexpected partition layout: $splitDirs")

    // plant a bogus row in one split: a whole-table overwrite would drop
    // the other splits and a plain append would accrete — the partition
    // swap must REPLACE the produced splits, erasing the bogus row
    Seq(("train", -1L, -1L, -1L, -1L))
      .toDF("split", "doc_id", "seq_id", "start_pos", "n_pieces")
      .write.mode("append").partitionBy("split").parquet(s"file:$dir")
    assert(rows().contains(("train", -1L, -1L, -1L, -1L)))
    CorpusPipeline.x4WritePackMap(spark, sfDir)
    assert(rows() == first,
      "re-run did not reproduce exactly the first artifact")
  }

  test("the stored columns alone reconstruct placement: x4's census over " +
      "the artifact equals x3's over the in-flight frame") {
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))
    val inFlight = CorpusPipeline.x3PackedSequences(spark, sfDir)
      .collect().map(key).toSet
    val dir = CorpusPipeline.x4WritePackMap(spark, sfDir)
    val roundTrip = CorpusPipeline.packSeqCensus(
      CorpusPipeline.x4ReadPackMap(spark, dir)).collect().map(key).toSet
    assert(roundTrip == inFlight,
      "persisted round-trip census drifted from the in-flight census")
    // and per-doc: reconstructed (start_seq, end_seq) match the placement
    // frame the write came from — the artifact under-determines nothing
    val placed = CorpusPipeline.x3Placed(spark, sfDir)
      .select(col("doc_id"), col("cum"), col("start_seq"), col("end_seq"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val rebuilt = CorpusPipeline.x4ReadPackMap(spark, dir)
      .select(col("doc_id"), col("cum"), col("start_seq"), col("end_seq"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rebuilt == placed,
      "reconstructed placement drifted from the computed placement")
  }

  test("a trainer's split-scoped read partition-prunes on the artifact") {
    val dir = CorpusPipeline.x4WritePackMap(spark, sfDir)
    val plan = spark.read.parquet(s"file:$dir")
      .filter(col("split") === "train")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(split"),
      s"split filter did not reach PartitionFilters:\n$plan")
  }
}
