package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** e38 + the codebook-sidecar contract. The DuckDB oracle proves e38's
  * final answers equal e26's fully-trained search; these pin what the
  * oracle cannot see:
  *
  *  - sidecar mechanics: a sidecar publishes ATOMICALLY with the data
  *    (same manifest rename), `read` excludes it, `readSidecar` returns
  *    it, a missing sidecar fails loudly, and compaction carries sidecar
  *    files by reference (physical identity untouched);
  *  - e38 swap mechanics: mid-rebuild serves gen-1 codes only, the
  *    replace-all swap carries no gen-1 file, the re-train genuinely
  *    moved BOTH geometries (codes changed), rollback stays readable,
  *    replay no-ops, vacuum reclaims exactly gen-1 (sidecars included);
  *  - the no-corpus-access contract (r19 verdict "what's wrong" #3): a
  *    serving replica holding ONLY the generation log and a query batch —
  *    the training corpus deleted from disk — answers identically, for
  *    both the raw (e37/serveIvfGeneration) and compressed
  *    (e38/serveIvfPqGeneration) generations.
  */
class GenerationSidecarSpec extends SparkSpec {

  private def sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")

  test("sidecar publishes atomically with the data: read excludes it, " +
      "readSidecar returns it, missing fails loudly, compact carries it") {
    import spark.implicits._
    val dirF = new java.io.File(s"target/parity/sidecar-spec-$sfTag")
      .getAbsoluteFile.toString
    MicroBatchJob.wipe(spark, s"file:$dirF")
    val tbl = s"file:$dirF"
    val data = Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("id", "g")
    val book = Seq((0, Seq(0.5, 1.5)), (1, Seq(2.5, 3.5)))
      .toDF("centroid_id", "c")
    SnapshotLog.commit(spark, tbl, data, Nil, Some("b1"),
      partitionBy = Some("g"), sidecars = Seq("coarse" -> book))

    // read() = data only; readSidecar = the book, byte-equal
    assert(SnapshotLog.read(spark, tbl, 1).select("id", "g")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 10L), (3L, 20L)))
    assert(SnapshotLog.readSidecar(spark, tbl, 1, "coarse")
      .as[(Int, Seq[Double])].collect().toSet ==
      Set((0, Seq(0.5, 1.5)), (1, Seq(2.5, 3.5))))
    // a sidecar the version never committed is a loud contract violation,
    // not an empty frame a caller could silently "re-derive" around
    intercept[IllegalArgumentException] {
      SnapshotLog.readSidecar(spark, tbl, 1, "fine")
    }

    // accrete small files in one partition, then compact: the sidecar's
    // files must survive with PHYSICAL IDENTITY (carried by reference,
    // never rewritten into the data's compaction groups)
    val sidecarFiles = SnapshotLog.manifest(spark, tbl, 1)
      .filter(_.contains("/_sidecar=coarse/")).sorted
    assert(sidecarFiles.nonEmpty, "sidecar files missing from the manifest")
    (2 to 3).foreach { i =>
      val prior = SnapshotLog.manifest(spark, tbl,
        SnapshotLog.latestVersion(spark, tbl).get)
      SnapshotLog.commit(spark, tbl, Seq((10L + i, 10L)).toDF("id", "g"),
        prior, Some(s"b$i"), partitionBy = Some("g"))
    }
    val vc = SnapshotLog.compact(spark, tbl, Some("g"),
      maxFilesPerPartition = 1)
    assert(vc.nonEmpty, "compact found nothing to rewrite")
    val afterMf = SnapshotLog.manifest(spark, tbl, vc.get)
    assert(afterMf.filter(_.contains("/_sidecar=coarse/")).sorted
      == sidecarFiles,
      "compaction rewrote or dropped the sidecar files")
    // and the compacted version still reads both halves correctly
    assert(SnapshotLog.read(spark, tbl, vc.get).count() == 5)
    assert(SnapshotLog.readSidecar(spark, tbl, vc.get, "coarse").count() == 2)
  }

  test("a geometry-only generation (codebook sidecar, zero data rows) " +
      "serves an EMPTY result, not a zero-path read error") {
    // st27's deploy order: the codebook ships as the index's first commit,
    // ingest lands later. Serving in the gap must degrade to no candidates
    // — both the raw and the compressed serving paths.
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dirF = new java.io.File(s"target/parity/geomonly-spec-$sfTag")
      .getAbsoluteFile.toString
    MicroBatchJob.wipe(spark, s"file:$dirF")
    val tbl = s"file:$dirF"
    val demoCents = RelationalQueries.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    SnapshotLog.commit(spark, tbl,
      VectorQueries.assignToGivenCentroids(emb.filter(lit(false)), demoCents),
      Nil, Some("gen-1-geom"), partitionBy = Some("centroid_id"),
      sidecars = Seq("coarse" -> demoCents))
    val served = VectorQueries.serveIvfGeneration(spark, tbl,
      emb.filter(col("vec_id") < 10), k = 3)
    assert(served.count() == 0,
      "geometry-only generation served rows from nowhere")
  }

  test("e38: mid-rebuild serves gen-1 codes, the swap moves codes and " +
      "books together, rollback reads, replay no-ops, vacuum is exact") {
    import spark.implicits._
    val dirF = new java.io.File(s"target/parity/pqgen-swap-spec-$sfTag")
      .getAbsoluteFile.toString
    MicroBatchJob.wipe(spark, s"file:$dirF")
    val tbl = s"file:$dirF"
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("m"),
        col("code").cast("long"), col("bin").cast("long"))
        .as[(Long, Int, Long, Long)].collect().toSet

    val gen1 = VectorQueries.ivfPqIndexRows(spark, sfDir, iters = 1)
    SnapshotLog.commit(spark, tbl, gen1, Nil, Some("gen-1-build"),
      partitionBy = Some("bin"), sidecars = Seq(
        "coarse" -> VectorQueries.kmeansCentroids(spark, sfDir, 1),
        "fine" -> VectorQueries.pqTrainedCodebooks(spark, sfDir, 1)))
    val v1mf = SnapshotLog.manifest(spark, tbl, 1)
    val gen1Codes = codeSet(gen1)

    // MID-REBUILD: gen-2 data staged, manifest unpublished — a reader
    // through latestVersion sees only gen-1's codes and gen-1's books
    val gen2 = VectorQueries.ivfPqIndexRows(spark, sfDir, iters = 2)
    gen2.write.parquet(s"$tbl/data/commit-v00002-staged0000")
    assert(SnapshotLog.latestVersion(spark, tbl).contains(1))
    assert(codeSet(SnapshotLog.read(spark, tbl, 1)) == gen1Codes,
      "mid-rebuild read saw gen-2 codes")

    // THE SWAP: replace-all with both re-trained books as sidecars
    val v2 = SnapshotLog.commit(spark, tbl, gen2, Nil, Some("gen-2-retrain"),
      partitionBy = Some("bin"),
      carriedKeys = SnapshotLog.commitKeys(spark, tbl),
      sidecars = Seq(
        "coarse" -> VectorQueries.kmeansCentroids(spark, sfDir, 2),
        "fine" -> VectorQueries.pqTrainedCodebooks(spark, sfDir, 2)))
    assert(v2 == 2)
    val v2mf = SnapshotLog.manifest(spark, tbl, 2)
    assert(v2mf.toSet.intersect(v1mf.toSet).isEmpty,
      "replace-all swap carried a gen-1 file (data or sidecar) into gen-2")
    val gen2Codes = codeSet(SnapshotLog.read(spark, tbl, 2))
    assert(gen2Codes == codeSet(gen2))
    // the re-train genuinely moved the FINE geometry: at least one
    // vector's codes changed (iters=1 vs iters=2 books differ)
    assert(gen2Codes != gen1Codes,
      "re-train + re-encode left every PQ code unchanged")
    // the head's sidecars ARE the gen-2 books (not gen-1 leftovers)
    val headFine = SnapshotLog.readSidecar(spark, tbl, 2, "fine")
      .select(col("m"), col("centroid_id"), col("c"))
      .as[(Int, Int, Seq[Double])].collect().toSet
    val fine2 = VectorQueries.pqTrainedCodebooks(spark, sfDir, 2)
      .select(col("m"), col("centroid_id"), col("c"))
      .as[(Int, Int, Seq[Double])].collect().toSet
    assert(headFine == fine2, "head generation's fine sidecar is not the " +
      "re-trained codebook")

    // ROLLBACK window: v1 readable and byte-stable
    assert(codeSet(SnapshotLog.read(spark, tbl, 1)) == gen1Codes)
    // REPLAY: a re-delivered gen-1 build no-ops (key carried by the swap)
    assert(SnapshotLog.commit(spark, tbl, gen1, Nil, Some("gen-1-build"),
      partitionBy = Some("bin")) == 2)

    // VACUUM: retention reclaims exactly gen-1 — data AND sidecar files
    val (dropped, _) =
      SnapshotLog.retainVersions(spark, tbl, keep = 1, olderThanMillis = 0L)
    assert(dropped == Seq(1))
    v1mf.foreach { f =>
      assert(!new java.io.File(new java.net.URI(f).getPath).exists(),
        s"gen-1 file survived the vacuum: $f")
    }
    v2mf.foreach { f =>
      assert(new java.io.File(new java.net.URI(f).getPath).exists(),
        s"vacuum deleted a live gen-2 file: $f")
    }
    SnapshotLog.vacuumOrphans(spark, tbl, olderThanMillis = 0L)
    assert(!new java.io.File(s"$dirF/data/commit-v00002-staged0000").exists())
  }

  test("serving replicas need NO corpus access: with the training corpus " +
      "deleted, raw and compressed generations answer from the log alone") {
    // build both generation logs from a THROWAWAY COPY of the corpus, so
    // deleting it afterward proves serving touches only index + sidecars
    val scratch = new java.io.File(s"target/parity/no-corpus-$sfTag")
      .getAbsoluteFile.toString
    MicroBatchJob.wipe(spark, s"file:$scratch")
    val tmpSf = s"$scratch/sf"
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.parquet(s"file:$tmpSf/embeddings.parquet")

    // the query batch is the one input serving legitimately receives —
    // snapshot it OUTSIDE the corpus before the deletion
    val qPath = s"file:$scratch/queries"
    spark.read.parquet(s"file:$tmpSf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 10)
      .write.parquet(qPath)

    def keyRaw(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val expectRaw = VectorQueries.e37RetrainSwap(spark, tmpSf)
      .collect().map(keyRaw).toSet
    val expectPq = VectorQueries.e38RetrainSwapCompressed(spark, tmpSf)
      .collect().map(keyRaw).toSet
    assert(expectRaw.nonEmpty && expectPq.nonEmpty)
    val tmpTag = tmpSf.replaceAll("[^A-Za-z0-9.]+", "_")
    val rawTbl = s"file:${new java.io.File(
      s"target/parity/ivf-genlog-$tmpTag").getAbsolutePath}"
    val pqTbl = s"file:${new java.io.File(
      s"target/parity/ivfpq-genlog-$tmpTag").getAbsolutePath}"

    // THE DELETION: the training corpus is gone from disk — any serving
    // path still re-deriving geometry from it now fails with a read error
    MicroBatchJob.wipe(spark, s"file:$tmpSf/embeddings.parquet")
    assert(!new java.io.File(s"$tmpSf/embeddings.parquet").exists())

    val queries = spark.read.parquet(qPath)
    val gotRaw = VectorQueries.serveIvfGeneration(spark, rawTbl, queries, 3)
      .collect().map(keyRaw).toSet
    assert(gotRaw == expectRaw,
      "raw generation served differently without corpus access")
    val gotPq = VectorQueries.serveIvfPqGeneration(spark, pqTbl, queries, 3)
      .collect().map(keyRaw).toSet
    assert(gotPq == expectPq,
      "compressed generation served differently without corpus access")
  }
}
