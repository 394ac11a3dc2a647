package graft.operators

import graft.SparkSpec

/** Same-JVM repeatability of the queries that keep state under
  * `target/parity/`: the 161-query gate runs them all in one session, so a
  * second invocation must never see the first one's residue. The policy is
  * uniform — DERIVED artifacts (split fixtures, trained codebooks,
  * bucketed tables) memoize behind a content-fingerprint stamp and may be
  * REUSED; ACCUMULATING state (st18's snapshot-versioned dedup state and
  * checkpoint, d37's snapshot + hash census) is wiped/dropped at query
  * start. Either way, run twice ⇒ identical answers.
  */
class RepeatRunHygieneSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("st17, st18, d37, d36 each give identical results when run twice in one JVM") {
    val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "d36" -> (() => DedupQueries.d36SemanticDedup(spark, sfDir)),
      "st18" -> (() => DedupQueries.st18StreamingSemanticDedup(spark, sfDir)),
      "st17" -> (() => VectorQueries.st17StreamingIndexIngest(spark, sfDir)),
      "d37" -> (() => TextQueries.d37IncrementalDedup(spark, sfDir)),
      // r16 stateful additions: e33 memoizes its filtered index behind a
      // stamp (second run must REUSE it identically); c6 wipes its scratch
      // layout per run (second run must rebuild identically)
      "e33" -> (() => VectorQueries.e33FilteredPqServe(spark, sfDir)),
      "c6" -> (() => MaintenanceQueries.c6ClusterMaintain(spark, sfDir)),
      // r17 stateful additions: e34 REUSES e33's stamp-memoized filtered
      // index; e35 rebuilds its split index per run via a STATIC overwrite
      // (the base write truncates the whole dir, so a prior run's split
      // children and map can never leak into the next)
      "e34" -> (() => VectorQueries.e34FilteredServeRange(spark, sfDir)),
      "e35" -> (() => VectorQueries.e35BinSplitMaintain(spark, sfDir)),
      // r18: e36 rebuilds per run via the same static-overwrite base write
      // as e35, so a prior run's split children, tombstoned bins, and
      // refreshed map can never leak into the next
      "e36" -> (() => VectorQueries.e36SplitLifecycle(spark, sfDir)),
      // st25 wipes index/checkpoint/map/tombstone state at query start
      // (the st17 discipline) — a second run must replay the whole
      // arrival history, including the mid-stream takedown, identically
      "st25" -> (() => VectorQueries.st25StreamingSplitTakedown(spark, sfDir)),
      // r19: e37 wipes its generation log per run (fresh v1/v2 + retention
      // each time); st26 wipes gen/result/checkpoint state and replays the
      // 4-batch serving stream with the mid-stream swap; x3 shares x1's
      // stamp-memoized landing/codebook fixtures and must census
      // identically on reuse
      "e37" -> (() => VectorQueries.e37RetrainSwap(spark, sfDir)),
      "st26" -> (() => VectorQueries.st26StreamingGenerationSwap(spark, sfDir)),
      "x3" -> (() => CorpusPipeline.x3PackedSequences(spark, sfDir)),
      // r20: e38 wipes its compressed generation log per run (fresh
      // gen-1/gen-2 triples + retention each time); st27 wipes
      // index/map/checkpoint state and replays the full maintained ingest
      // with the mid-stream swap; st28 wipes gen/result/checkpoint state
      // and replays the 4-batch ADC serving stream across the compressed
      // swap; x4 re-lands its pack map via the staged partition swap —
      // a second run must replace each split's partition in place and
      // census identically
      "e38" -> (() => VectorQueries.e38RetrainSwapCompressed(spark, sfDir)),
      "st27" -> (() => VectorQueries.st27SwapUnderMaintenance(spark, sfDir)),
      "st28" -> (() => VectorQueries.st28StreamingPqGenerationSwap(spark, sfDir)),
      "x4" -> (() => CorpusPipeline.x4PersistedPackMap(spark, sfDir)),
      // generic replays: st1, st13 and st15 recreate their sink tables and
      // checkpoints per run; st16 reuses the stamped dirty tree and
      // recreates its good/bad tables and checkpoint
      "st1" -> (() => IngestParityQueries.st1StreamingHourly(spark, sfDir)),
      "st13" -> (() => IngestParityQueries.st13StreamingCdcApply(spark, sfDir)),
      "st15" -> (() => IngestParityQueries.st15StreamingSnapshots(spark, sfDir)),
      "st16" -> (() => IngestParityQueries.st16StreamingQuarantine(spark, sfDir)))
    runs.foreach { case (name, fn) =>
      val first = rows(fn())
      val second = rows(fn())
      assert(first == second, s"$name drifted on re-run in the same JVM")
      assert(first.nonEmpty, s"$name returned nothing")
    }
  }
}
