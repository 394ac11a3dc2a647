package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** st22 streaming compressed-index serving: streamed ≡ one-shot, one keyed
  * commit per arrival file, and the per-batch plan shape (bin-pruned
  * code-only scan + broadcast refine) that makes it the production serving
  * path at 100 TB.
  */
class St22StreamingPqServeSpec extends SparkSpec {

  private lazy val streamed =
    VectorQueries.st22StreamingPqServe(spark, sfDir).collect()

  private def oneShot = {
    val q = RelationalQueries.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val fine = VectorQueries.pqTrainedCodebooks(spark, sfDir, 2)
    val cents = VectorQueries.kmeansCentroids(spark, sfDir, 2)
    VectorQueries.pqServeRefineBatch(spark, sfDir, q, fine, cents,
      VectorQueries.ivfLists(spark, SnapshotLog.manifest(spark, indexTable,
        SnapshotLog.latestVersion(spark, indexTable).get), "bin"), 3, 10)
  }

  private def indexTable = VectorQueries.persistedIvfPqIndex(spark, sfDir, 2)

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("refined_sim"))

  test("st22: streamed serving equals the one-shot shortlist+refine answer") {
    // per-query results depend only on (query embedding, frozen index), so
    // the batchId-keyed log's union over arrival batches must equal one
    // pqServeRefineBatch pass over the whole query set
    val got = streamed.map(key).sortBy(t => (t._1, t._2))
    val exp = oneShot.collect().map(key).sortBy(t => (t._1, t._2))
    assert(got.length == exp.length && got.nonEmpty)
    assert(got.sameElements(exp))
  }

  test("st22: one batchId-keyed result commit per arrival file") {
    // n_commits counts distinct batch replay KEYS — invariant under the
    // in-loop maintenance commits (which advance only the version counter)
    assert(streamed.forall(_.getAs[Int]("n_commits") == 4))
  }

  test("st22: in-loop maintenance bounds the result log") {
    assert(streamed.nonEmpty) // ensure the stream ran
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val path = s"file:${new java.io.File(
      s"target/parity/st22-results-$sfTag").getAbsolutePath}"
    val v = graft.sources.SnapshotLog.latestVersion(spark, path).get
    val liveVersions = (1 to v).filter { i =>
      try { graft.sources.SnapshotLog.manifest(spark, path, i); true }
      catch { case _: Throwable => false }
    }
    assert(liveVersions.size <= 3,
      s"unbounded result-log history: ${liveVersions.size} live versions")
    assert(graft.sources.SnapshotLog.manifest(spark, path, v).size <= 8,
      s"result log never compacted")
  }

  test("st22: per-batch plan prunes bins, reads codes only, broadcasts the refine") {
    val df = oneShot
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the persisted-index scan opens only the probed bins' files (each
    // query's own trained bin), and the ReadSchema carries M-byte codes —
    // never vectors (e32's pin, on the exact plan the stream's
    // foreachBatch executes)
    def norm(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    val tbl = indexTable
    val probed = VectorQueries.assignTrained(
        RelationalQueries.table(spark, sfDir, "embeddings")
          .filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
        VectorQueries.kmeansCentroids(spark, sfDir, 2))
      .select(col("centroid_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val want = SnapshotLog.dataFiles(SnapshotLog.manifest(spark, tbl,
        SnapshotLog.latestVersion(spark, tbl).get))
      .filter(f => probed.exists(b => f.contains(s"/_bin=$b/"))).map(norm).toSet
    val got = df.inputFiles.toSeq.map(norm).filter(_.startsWith(norm(tbl) + "/")).toSet
    assert(want.nonEmpty && got == want, s"index scan read $got, probed bins hold $want")
    val idxLines = p.linesIterator.filter(_.contains("e32-index")).toSeq
    assert(idxLines.nonEmpty, p)
    idxLines.foreach { l =>
      assert(!l.contains("embedding"),
        s"index scan reads vectors, not codes: $l")
    }
    // the refine stage fetches raw vectors via BROADCASTS of the bounded
    // shortlist (Q×shortlist rows) into the embeddings scan — a full-side
    // shuffle join here would re-shuffle the vector store per batch
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // nested-loop joins: ONLY assignTrained's deliberate batch ×
    // K-centroid broadcast argmax Cross is allowed — an Inner/outer BNLJ
    // would mean an equi-join key was lost (e.g. the refine fetch
    // degrading to Q×N per batch)
    "BroadcastNestedLoopJoin[^\n]*".r.findAllIn(p).foreach { l =>
      assert(l.contains("Cross"),
        s"non-Cross nested-loop join in the serving plan: $l")
    }
  }
}
