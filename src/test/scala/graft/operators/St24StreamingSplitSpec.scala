package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** st24 — streaming ingest with in-loop bin-split maintenance. The oracle
  * proves value equality with e18's full-corpus serving; these pin the
  * maintenance semantics: splits actually ran mid-stream as keyed commits,
  * the final physical bins are capped, the persisted map routes every
  * physical bin, and the split commits never lost or duplicated a vector.
  */
class St24StreamingSplitSpec extends SparkSpec {

  private def sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")

  test("st24: splits interleave with appends, cap bins, and lose nothing") {
    val result = VectorQueries.st24StreamingSplitMaintain(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")

    // streamed+maintained serving ≡ the one-shot persisted-index serving
    val oneShot = VectorQueries.e18PersistedIvf(spark, sfDir)
      .withColumn("n_commits", lit(4))
      .collect().map(_.toString).sorted.toSeq
    assert(result == oneShot, "st24 drifted from e18's one-shot serving")

    val indexDir = new java.io.File(s"target/parity/ivf-st24index-$sfTag")
      .getAbsoluteFile.toString
    val keys = SnapshotLog.commitKeys(spark, s"file:$indexDir")
    assert(keys.count(_.startsWith("batch-")) == 4, keys.toString)
    // at least one split landed as its own keyed commit, and it was not
    // the last word — batch-2's append landed into the split landscape
    // (batch ids 0..3, splits at 1 and 3): the interleaving claim
    assert(keys.exists(_.startsWith("split-1")),
      s"no mid-stream split commit: $keys")

    // final physical bins are capped and the map routes each one
    val bound = math.max(1L, (emb.count() - 1) / 8)
    val v = SnapshotLog.latestVersion(spark, s"file:$indexDir").get
    val mf = SnapshotLog.manifest(spark, s"file:$indexDir", v)
    val byBin = spark.read.parquet(mf: _*)
      .groupBy(col("pbin").cast("long").as("p"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("centroid_id")).as("nl"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    byBin.foreach { case (p, n, nl) =>
      assert(n <= bound, s"bin $p holds $n > $bound after maintenance")
      assert(nl == 1, s"bin $p mixes $nl logical bins")
    }
    val mapPath = s"file:" + new java.io.File(
      s"target/parity/ivf-st24map-$sfTag").getAbsoluteFile.toString
    val mapped = spark.read.parquet(mapPath)
      .select(col("pbin").cast("long")).collect().map(_.getLong(0)).toSet
    assert(mapped == byBin.map(_._1).toSet,
      s"map bins $mapped != live bins ${byBin.map(_._1).toSet}")

    // nothing lost, nothing duplicated across appends + splits + compaction
    val all = spark.read.parquet(mf: _*)
    assert(all.count() == emb.count())
    assert(all.select("vec_id").distinct().count() == emb.count())
  }

  test("st25: a mid-stream takedown erases doomed ids and HOLDS against " +
      "later arrivals; maintenance commits stay keyed and bounded") {
    import spark.implicits._
    VectorQueries.st25StreamingSplitTakedown(spark, sfDir).collect()
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val indexDir = new java.io.File(s"target/parity/ivf-st25index-$sfTag")
      .getAbsoluteFile.toString

    // the final index holds EXACTLY corpus minus doomed — batches 0/1's
    // doomed rows were rewritten out, batch 2's own were pre-filtered,
    // and batch 3's arrivals (AFTER the takedown) were tombstone-blocked
    val v = SnapshotLog.latestVersion(spark, s"file:$indexDir").get
    val mf = SnapshotLog.manifest(spark, s"file:$indexDir", v)
    val left = spark.read.parquet(mf: _*)
      .select("vec_id").as[Long].collect().toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    val doomed = all.filter(_ % 10 == 3)
    assert(left == all -- doomed,
      s"index != corpus minus doomed: extra=${(left -- (all -- doomed)).take(5)}, " +
        s"missing=${((all -- doomed) -- left).take(5)}")

    // the takedown and tombstone commits are keyed (replays no-op); the
    // batch count stays exactly-once
    val keys = SnapshotLog.commitKeys(spark, s"file:$indexDir")
    assert(keys.count(_.startsWith("batch-")) == 4, keys.toString)
    assert(keys.contains("delete-2"), s"no keyed takedown commit: $keys")
    assert(keys.exists(_.startsWith("split-")), s"no split commit: $keys")
    val tombDir = new java.io.File(s"target/parity/ivf-st25tomb-$sfTag")
      .getAbsoluteFile.toString
    assert(SnapshotLog.commitKeys(spark, s"file:$tombDir")
      .contains("tomb-2"), "no keyed tombstone commit")

    // the refreshed map names exactly the live physical bins
    val mapPath = s"file:" + new java.io.File(
      s"target/parity/ivf-st25map-$sfTag").getAbsoluteFile.toString
    val mapped = spark.read.parquet(mapPath)
      .select(col("pbin").cast("long")).collect().map(_.getLong(0)).toSet
    val live = spark.read.parquet(mf: _*)
      .select(col("pbin").cast("long")).distinct()
      .as[Long].collect().toSet
    assert(mapped == live, s"map bins $mapped != live bins $live")

    // REPLAY no-ops, proven not argued: re-issuing the takedown with its
    // original key (the at-least-once foreachBatch case) must leave the
    // manifest byte-identical and report zero rewritten bins
    val doomedDf = {
      import spark.implicits._
      doomed.toSeq.toDF("vec_id")
    }
    val replayed = VectorQueries.deleteBins(spark, s"file:$indexDir",
      doomedDf, "pbin", Some(mapPath), commitKey = Some("delete-2"))
    assert(replayed.isEmpty, s"replayed takedown rewrote bins: $replayed")
    val vAfter = SnapshotLog.latestVersion(spark, s"file:$indexDir").get
    assert(SnapshotLog.manifest(spark, s"file:$indexDir", vAfter).toSet ==
      mf.toSet, "replayed takedown changed the manifest")
  }
}
