package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** e37/st26 — the blue-green index generation swap. The DuckDB oracles
  * prove value equality of the final serving answers; these pin the swap
  * MECHANICS the oracle cannot see: the manifest rename is the atomic
  * cut (mid-rebuild serving resolves only gen-1 files, post-swap only
  * gen-2), the rollback window stays readable until retention closes it,
  * vacuum reclaims exactly the superseded generation, a replayed gen-1
  * build after the swap no-ops, and the streaming loop serves each
  * generation from exactly the batches bracketing the swap.
  */
class GenerationSwapSpec extends SparkSpec {

  private def sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")

  test("e37: manifest rename is the atomic cut — mid-rebuild serves gen-1, " +
      "post-swap serves gen-2, rollback reads gen-1, vacuum reclaims it") {
    import spark.implicits._
    val dirF = new java.io.File(s"target/parity/gen-swap-spec-$sfTag")
      .getAbsoluteFile.toString
    MicroBatchJob.wipe(spark, s"file:$dirF")
    val tbl = s"file:$dirF"
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))

    // gen-1 (blue): demo geometry
    val gen1 = VectorQueries.assignToCentroids(spark, sfDir, emb)
    val v1 = SnapshotLog.commit(spark, tbl, gen1, Nil, Some("gen-1-build"),
      partitionBy = Some("centroid_id"))
    assert(v1 == 1)
    val v1mf = SnapshotLog.manifest(spark, tbl, 1)
    val gen1Asg = gen1.select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet

    // MID-REBUILD: gen-2's data staged on disk but NOT published — exactly
    // what a reader sees while the rebuild job runs (or after it tears).
    // Serving through latestVersion must still resolve gen-1 only.
    val cents2 = VectorQueries.kmeansCentroids(spark, sfDir, iters = 1, k = 4)
    val gen2 = VectorQueries.assignTrained(emb, cents2)
    gen2.write.parquet(s"$tbl/data/commit-v00002-staged0000")
    assert(SnapshotLog.latestVersion(spark, tbl).contains(1),
      "staged data files moved the head version without a manifest")
    assert(SnapshotLog.manifest(spark, tbl, 1) == v1mf,
      "gen-1's manifest changed while gen-2 staged")
    val midRows = SnapshotLog.read(spark, tbl, 1)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(midRows == gen1Asg, "mid-rebuild read saw gen-2 rows")

    // THE SWAP: replace-all commit (carries gen-1's keys forward)
    val v2 = SnapshotLog.commit(spark, tbl, gen2, Nil, Some("gen-2-retrain"),
      partitionBy = Some("centroid_id"),
      carriedKeys = SnapshotLog.commitKeys(spark, tbl))
    assert(v2 == 2)
    val v2mf = SnapshotLog.manifest(spark, tbl, 2)
    assert(v2mf.toSet.intersect(v1mf.toSet).isEmpty,
      "replace-all swap carried a gen-1 file into gen-2's manifest")
    val gen2Asg = gen2.select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    val postRows = SnapshotLog.read(spark, tbl, 2)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(postRows == gen2Asg, "post-swap read is not the re-trained index")
    // the re-train genuinely moved geometry: at least one vector changed
    // bins (one Lloyd round replaces corpus-row seeds with bin means) —
    // without this the swap/rollback/vacuum assertions below could pass
    // vacuously on a gen-2 identical to gen-1 (r19 ADVICE)
    assert(gen2Asg != gen1Asg,
      "re-train left every assignment unchanged — the spec is not " +
        "exercising a real geometry change")
    assert(SnapshotLog.versionKeys(spark, tbl, 2).toSet ==
      Set("gen-2-retrain", "gen-1-build"))

    // ROLLBACK WINDOW: v1 stays readable and byte-stable after the swap
    val rollback = SnapshotLog.read(spark, tbl, 1)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(rollback == gen1Asg, "rollback read drifted from gen-1")

    // REPLAY: a re-delivered gen-1 build must no-op (its key is carried by
    // the swap commit), never resurrect the old generation as a new head
    val vReplay = SnapshotLog.commit(spark, tbl, gen1, Nil,
      Some("gen-1-build"), partitionBy = Some("centroid_id"))
    assert(vReplay == 2 && SnapshotLog.latestVersion(spark, tbl).contains(2),
      "replayed gen-1 build re-applied after the swap")

    // VACUUM: retention closes the rollback window — v1's manifest drops
    // (its key is carried) and gen-1's files are reclaimed; gen-2 intact
    val (dropped, _) =
      SnapshotLog.retainVersions(spark, tbl, keep = 1, olderThanMillis = 0L)
    assert(dropped == Seq(1), s"retention dropped $dropped")
    v1mf.foreach { f =>
      assert(!new java.io.File(new java.net.URI(f).getPath).exists(),
        s"gen-1 file survived the vacuum: $f")
    }
    v2mf.foreach { f =>
      assert(new java.io.File(new java.net.URI(f).getPath).exists(),
        s"vacuum deleted a live gen-2 file: $f")
    }
    // the torn staged attempt is vacuumOrphans' job (no manifest ever
    // referenced it) — and it must go without touching gen-2
    SnapshotLog.vacuumOrphans(spark, tbl, olderThanMillis = 0L)
    assert(!new java.io.File(s"$dirF/data/commit-v00002-staged0000").exists(),
      "torn staged rebuild dir survived vacuumOrphans")
    val served = SnapshotLog.read(spark, tbl,
      SnapshotLog.latestVersion(spark, tbl).get)
    assert(served.count() == emb.count(), "post-vacuum head lost rows")
  }

  test("st26: each generation serves exactly the batches bracketing the " +
      "swap, and gen answers match the one-shot forms") {
    val out = VectorQueries.st26StreamingGenerationSwap(spark, sfDir)
      .collect()
    val byGen = out.groupBy(_.getAs[Int]("gen"))
    assert(byGen.keySet == Set(1, 2), s"generations served: ${byGen.keySet}")
    // every distinct answer row was produced by exactly 2 batches, and the
    // result log recorded exactly 4 keyed commits
    out.foreach { r =>
      assert(r.getAs[Int]("n_gen_batches") == 2,
        s"row served by ${r.getAs[Int]("n_gen_batches")} batches: $r")
      assert(r.getAs[Int]("n_commits") == 4)
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("ivf_sim"))
    // gen-1 answers ≡ e18's demo-geometry serving; gen-2 ≡ e37's
    // re-trained serving — the streaming loop adds nothing and loses
    // nothing relative to the one-shot paths
    val e18 = VectorQueries.e18PersistedIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(byGen(1).map(key).toSet == e18,
      "st26 gen-1 drifted from e18's one-shot serving")
    val e37 = VectorQueries.e37RetrainSwap(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(byGen(2).map(key).toSet == e37,
      "st26 gen-2 drifted from e37's one-shot re-trained serving")
  }

  test("st28: the COMPRESSED swap serves each generation from exactly the " +
      "batches bracketing it, and gen-2 matches e38's one-shot re-index") {
    val out = VectorQueries.st28StreamingPqGenerationSwap(spark, sfDir)
      .collect()
    val byGen = out.groupBy(_.getAs[Int]("gen"))
    assert(byGen.keySet == Set(1, 2), s"generations served: ${byGen.keySet}")
    out.foreach { r =>
      assert(r.getAs[Int]("n_gen_batches") == 2,
        s"row served by ${r.getAs[Int]("n_gen_batches")} batches: $r")
      assert(r.getAs[Int]("n_commits") == 4)
    }
    // the two generations genuinely differ (the re-train moved geometry —
    // identical answer sets would mean the swap was vacuous)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("fivfpq_sim"))
    assert(byGen(1).map(key).toSet != byGen(2).map(key).toSet,
      "gen-1 and gen-2 ADC answers identical — re-train moved nothing")
    // gen-2 ≡ e38's one-shot compressed re-index: the streaming loop adds
    // nothing and loses nothing relative to the batch blue-green path
    val e38 = VectorQueries.e38RetrainSwapCompressed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(byGen(2).map(key).toSet == e38,
      "st28 gen-2 drifted from e38's one-shot compressed re-index serving")
  }
}
