package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** st20 streaming ANN serving: streaming ≡ batch equivalence against an
  * inline one-shot restatement, plus the exactly-once commit count.
  */
class St20StreamingServeSpec extends SparkSpec {

  private lazy val served = VectorQueries.st20StreamingAnnServe(spark, sfDir)

  test("st20: streamed serving equals the one-shot batch answer") {
    // the one-shot restatement: e18's serving chain computed directly over
    // the full query set (every batch is row-local given the frozen index,
    // so the union of per-batch answers must BE this frame)
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val asg = AssignRestatement.crossJoinAssign(emb,
      AssignRestatement.demoCents(spark, sfDir))
    val queries = asg.filter(col("vec_id") < 40)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val dotOf = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b,
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
        (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    val oneShot = asg
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("centroid_id"))
      .join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dotOf(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val got = served
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("ivf_sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == oneShot.length,
      s"row count ${got.length} != one-shot ${oneShot.length}")
    assert(got.sameElements(oneShot))
  }

  test("st20: one batchId-keyed commit per arrival file") {
    // 4 range-split arrival files with maxFilesPerTrigger=1 → exactly 4
    // micro-batches → 4 distinct batch replay KEYS in the result log (a
    // replayed batch would no-op, a torn run would under-count — both fail
    // here). Keys, not the version number: in-loop maintenance commits
    // advance the version counter without minting keys.
    val commits = served.select(col("n_commits")).distinct().collect()
    assert(commits.length == 1 && commits(0).getInt(0) == 4,
      s"expected n_commits=4, got ${commits.mkString(",")}")
  }

  test("st20: in-loop maintenance bounds the result log") {
    served.collect() // ensure the stream ran (suite-ordered, usually warm)
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val path = s"file:${new java.io.File(
      s"target/parity/st20-results-$sfTag").getAbsolutePath}"
    val v = graft.sources.SnapshotLog.latestVersion(spark, path).get
    // all 4 batch keys survive maintenance (replay windows never reopen)
    assert(graft.sources.SnapshotLog.commitKeys(spark, path)
      .count(_.startsWith("batch-")) == 4)
    // live manifests and live files are bounded regardless of batch count:
    // compaction coalesces the accreted per-batch files once past the
    // threshold, retention drops the superseded manifests
    val liveVersions = (1 to v).filter { i =>
      try { graft.sources.SnapshotLog.manifest(spark, path, i); true }
      catch { case _: Throwable => false }
    }
    assert(liveVersions.size <= 3,
      s"unbounded result-log history: ${liveVersions.size} live versions")
    val mf = graft.sources.SnapshotLog.manifest(spark, path, v)
    assert(mf.size <= 4 + 4,
      s"result log never compacted: ${mf.size} live files")
  }

  test("st20: every query is answered with a full top-3") {
    val perQuery = served.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
      .collect()
    assert(perQuery.length == 40, s"expected 40 served queries, got ${perQuery.length}")
    perQuery.foreach { r =>
      assert(r.getAs[Long]("n") == 3 && r.getAs[Int]("mx") == 3 &&
        r.getAs[Int]("mn") == 1, s"ragged top-k for ${r}")
    }
  }
}
