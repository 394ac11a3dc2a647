package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** st27 — the blue-green generation swap landing INSIDE st24's maintained
  * ingest stream. The oracle proves value equality with e37's re-trained
  * serving; these pin what the oracle can't see: the two job classes'
  * commits actually interleaved (splits at batches 1 and 3 bracket the
  * batch-2 swap), replays of EITHER class no-op against the keyed log,
  * the head generation is self-describing (re-trained codebook sidecar),
  * and the maintained stream serves bit-identically to the one-shot
  * blue-green rebuild.
  */
class St27SwapMaintainSpec extends SparkSpec {

  private def sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")

  test("st27: the swap interleaves with split maintenance, both job " +
      "classes stay exactly-once, and serving matches the one-shot swap") {
    val result = VectorQueries.st27SwapUnderMaintenance(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq

    // maintained-stream serving ≡ the one-shot blue-green rebuild: e37
    // answers the same query set under the same re-trained geometry, so
    // ingest + compaction + two splits + the mid-stream swap must be
    // invisible — identical rows, not merely identical hashes
    val oneShot = VectorQueries.e37RetrainSwap(spark, sfDir)
      .withColumn("n_commits", lit(4))
      .withColumn("n_swaps", lit(1))
      .withColumn("n_splits", lit(2))
      .collect().map(_.toString).sorted.toSeq
    assert(result == oneShot, "st27 drifted from e37's one-shot swap serving")

    val tbl = "file:" + new java.io.File(
      s"target/parity/ivf-st27index-$sfTag").getAbsoluteFile.toString
    val keys = SnapshotLog.commitKeys(spark, tbl)
    assert(keys.count(_.startsWith("batch-")) == 4, keys.toString)
    assert(keys.count(_ == "gen-2-retrain") == 1, keys.toString)
    assert(keys.contains("gen-1-geom"),
      s"the pre-stream geometry deploy lost its key: $keys")
    // the interleaving claim: a split BEFORE the swap and a split AFTER
    // it both landed as keyed commits on the same log the swap went
    // through — neither job class paused or clobbered the other
    assert(keys.contains("split-1") && keys.contains("split-3"),
      s"splits did not bracket the swap: $keys")

    // the head generation is self-describing: its sidecar is the
    // RE-TRAINED codebook (trained schema), not the gen-1 demo one
    val v = SnapshotLog.latestVersion(spark, tbl).get
    val sidecar = SnapshotLog.readSidecar(spark, tbl, v, "coarse")
    assert(sidecar.columns.contains("c"),
      s"head sidecar is not the re-trained codebook: ${sidecar.columns.toSeq}")

    // nothing lost, nothing duplicated, bins re-capped post-swap
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val nEmb = emb.count()
    val mf = SnapshotLog.manifest(spark, tbl, v)
    val all = spark.read.parquet(SnapshotLog.dataFiles(mf): _*)
    assert(all.count() == nEmb)
    assert(all.select("vec_id").distinct().count() == nEmb)
    val bound = math.max(1L, (nEmb - 1) / 8)
    spark.read.parquet(SnapshotLog.dataFiles(mf): _*)
      .groupBy(col("pbin").cast("long").as("p"))
      .agg(count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getLong(1) <= bound,
          s"bin ${r.getLong(0)} holds ${r.getLong(1)} > $bound post-swap")
      }

    // REPLAY no-ops for BOTH job classes, proven not argued (the
    // at-least-once foreachBatch case): re-issuing the swap with its key
    // must not advance the log or evaluate the payload; re-issuing the
    // post-swap split with its key must rewrite nothing
    val mfBefore = mf.toSet
    SnapshotLog.commit(spark, tbl, spark.range(0).toDF("vec_id"), Nil,
      Some("gen-2-retrain"))
    assert(SnapshotLog.latestVersion(spark, tbl).get == v,
      "replayed swap advanced the log")
    val mapPath = "file:" + new java.io.File(
      s"target/parity/ivf-st27map-$sfTag").getAbsoluteFile.toString
    val replayed = VectorQueries.splitBins(spark, tbl, mapPath,
      bound, commitKey = Some("split-3"))
    assert(replayed.isEmpty, s"replayed split rewrote bins: $replayed")
    assert(SnapshotLog.latestVersion(spark, tbl).get == v,
      "replayed split advanced the log")
    assert(SnapshotLog.manifest(spark, tbl, v).toSet == mfBefore,
      "replays changed the manifest")

    // the refreshed map names exactly the live physical bins (the split
    // replay above re-derives it off the live manifest — same contract)
    val mapped = spark.read.parquet(mapPath)
      .select(col("pbin").cast("long")).collect().map(_.getLong(0)).toSet
    val live = spark.read.parquet(SnapshotLog.dataFiles(mf): _*)
      .select(col("pbin").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(mapped == live, s"map bins $mapped != live bins $live")
  }
}
