package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The st19 state-read contract at scale: bucket counts derive from
  * expected state size, and a batch's prior-state read is
  * BATCH-PROPORTIONAL — file selection touches only the batch's own
  * bucket dirs (never the whole state), and the opened rows are pruned to
  * the batch's exact key set by the semi-join. This is the r14 "What's
  * wrong #1" fix pinned: with fixed 16-bucket state every batch read the
  * whole prior corpus; with scaled buckets + key-set pruning the per-batch
  * prior read tracks the batch's matched keys.
  */
class St19StateIoSpec extends SparkSpec {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  })

  test("stateBuckets scales with expected state size, floored at 16") {
    // tiny state: the floor
    assert(CorpusPipeline.stateBuckets(0) == 16)
    assert(CorpusPipeline.stateBuckets(10_000) == 16)
    // past the floor the count is expectedRows / TargetStateBucketRows,
    // i.e. ∝ state — the property that makes touched buckets ∝ batch keys
    val t = CorpusPipeline.TargetStateBucketRows
    assert(CorpusPipeline.stateBuckets(100 * t) == 100)
    assert(CorpusPipeline.stateBuckets(1000 * t) == 1000)
    assert(CorpusPipeline.stateBuckets(1000 * t + 1) == 1001)
  }

  test("a batch's prior-state read opens only its touched buckets and keeps only matched keys") {
    import spark.implicits._
    val root = new java.io.File("target/parity/st19-io-spec").getAbsoluteFile
    MicroBatchJob.wipe(spark, s"file:${root.getAbsolutePath}")
    val path = s"file:$root"

    // a synthetic bucketed state table, built exactly as st19 builds its
    // LSH/gram state: key-hashed bucket column, partition-keyed keyed
    // commits carrying the prior manifest
    val nb = 32
    def delta(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id").as("doc_id"),
          concat(lit("k"), (col("id") % 200).cast("string")).as("bkey"))
        .withColumn("pb", pmod(xxhash64(col("bkey")), lit(nb.toLong)).cast("int"))
    var mf = Seq.empty[String]
    for ((lo, hi, b) <- Seq((0L, 400L, 0), (400L, 800L, 1), (800L, 1200L, 2))) {
      // one file per bucket dir per commit, so the file-count bound below
      // is deterministic
      SnapshotLog.commit(spark, path, delta(lo, hi).repartition(col("pb")), mf,
        commitKey = Some(s"batch-$b"), partitionBy = Some("pb"))
      mf = CorpusPipeline.manifestOf(spark, path)
    }
    assert(mf.nonEmpty)

    // a SMALL batch touching 2 keys → at most 2 bucket dirs
    val batch = Seq("k3", "k77").toDF("bkey")
      .withColumn("pb", pmod(xxhash64(col("bkey")), lit(nb.toLong)).cast("int"))
    val touchedPb = batch.select(col("pb")).distinct()
      .collect().map(_.getInt(0)).toSet
    val segs = touchedPb.map(b => s"/_pb=$b/")
    val priorFiles = CorpusPipeline.touchedPrior(mf, segs)

    // FILE level: the selection is a strict subset ∝ touched buckets —
    // never the whole manifest
    assert(priorFiles.nonEmpty)
    assert(priorFiles.forall(f => segs.exists(f.contains)))
    assert(priorFiles.size <= touchedPb.size * 3, // ≤ buckets × commits
      s"${priorFiles.size} files for ${touchedPb.size} touched buckets over 3 commits")
    assert(priorFiles.size < mf.size,
      s"prior read selected the whole state manifest (${mf.size} files)")

    // ROW level: the semi-join prunes the opened buckets to exactly the
    // batch's matched keys, and the executed scan reads ONLY the touched
    // bucket dirs (inputFiles pin, the D37CensusSpec discipline)
    val prior = spark.read.parquet(priorFiles: _*)
      .join(broadcast(batch.select("bkey").distinct()), Seq("bkey"), "left_semi")
    val rows = prior.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set("k3", "k77")(r.getAs[String]("bkey"))))
    // ids 0..1200 with id%200 ∈ {3,77} → 6 rows per key
    assert(rows.length == 12, s"expected 12 matched rows, got ${rows.length}")
    val scanned = nodes(prior.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq }
      .flatten.filter(_.contains("st19-io-spec"))
    assert(scanned.nonEmpty)
    val offenders = scanned.filterNot(f => segs.exists(f.contains))
    assert(offenders.isEmpty,
      s"prior read scanned untouched buckets: ${offenders.take(3)}")
  }

  test("st19's live bucket counts derive from the frozen state stats") {
    // the pipeline's own bucket counts must be the stateBuckets function of
    // the persisted corpus-start stats — not a constant that stops scaling
    val (_, modelDir, _) = CorpusPipeline.st19FrozenFixtures(spark, sfDir)
    val (nQual, nGrams) = CorpusPipeline.st19StateStats(modelDir)
    assert(nQual > 0 && nGrams > 0)
    val pbN = CorpusPipeline.stateBuckets(nQual * 4)
    val gbN = CorpusPipeline.stateBuckets(nGrams)
    // every _pb=/_gb= partition value the streamed state actually wrote
    // must sit under the derived bucket counts (the run and the derivation
    // agree). The state root carries a LAYOUT STAMP (st19LayoutStamp);
    // re-run the pipeline if the on-disk state is absent or its stamp
    // doesn't match the current derivation in EITHER direction (the run
    // wipes and rebuilds its state).
    val cfg = CorpusPipeline.st19Config(spark, sfDir)
    assert(cfg.pbN == pbN && cfg.gbN == gbN,
      "config derivation drifted from the stats-file derivation")
    val stateRoot = cfg.stateRoot
    def vals(table: String, col: String): Seq[Int] =
      CorpusPipeline.manifestOf(spark, s"file:$stateRoot/$table")
        .flatMap(s"/_$col=(\\d+)/".r.findFirstMatchIn(_)).map(_.group(1).toInt)
    val stampFile = new java.io.File(stateRoot, "._layout")
    val stampOk = stampFile.isFile && new String(
      java.nio.file.Files.readAllBytes(stampFile.toPath), "UTF-8") ==
      CorpusPipeline.st19LayoutStamp(cfg)
    if (!stampOk)
      CorpusPipeline.st19StreamingCorpusBuild(spark, sfDir).collect()
    val pbVals = vals("lsh", "pb")
    val gbVals = vals("grams", "gb")
    assert(pbVals.nonEmpty && gbVals.nonEmpty)
    assert(pbVals.max < pbN, s"pb ${pbVals.max} outside derived $pbN buckets")
    assert(gbVals.max < gbN, s"gb ${gbVals.max} outside derived $gbN buckets")
    assert(new String(java.nio.file.Files.readAllBytes(stampFile.toPath),
      "UTF-8") == CorpusPipeline.st19LayoutStamp(cfg),
      "the run did not stamp its layout")

    // NARROW-STATE pin (the r15 second-pass fix): verification payloads —
    // shingle ARRAYS in the LSH state, embedding VECTORS in the sem
    // state — must never re-enter streaming state. A parquet scan decodes
    // whole column chunks before any join prunes rows, so a payload
    // column silently makes every batch's prior read ∝ corpus in heavy
    // bytes again (measured: per-batch pair time grew 6→18→36→61 s at
    // x10 with payloads vs flat ~1.5 s without).
    def schemaOf(t: String) = spark.read
      .parquet(CorpusPipeline.manifestOf(spark, s"file:$stateRoot/$t"): _*)
      .schema
    Seq("lsh", "sem", "grams", "pairs", "docs").foreach { t =>
      val arrays = schemaOf(t).fields.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"st19 '$t' state carries payload array columns: " +
          arrays.map(_.name).mkString(", "))
    }
  }
}
