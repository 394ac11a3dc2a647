package graft.operators

import graft.SparkSpec

/** Plan-shape assertions: the properties that make these queries scale are
  * locked in here so a refactor that silently loses a pushdown, a
  * broadcast, or the top-k operator fails the build — at 100 TB those
  * regressions are the difference between a scan and an outage.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q2: filters and projection reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_discount"), p)
    // pruned read schema: only the 4 needed columns
    assert(!p.contains("l_extendedprice"), p)
  }

  test("q29: all five dimensions broadcast, fact never broadcast") {
    val p = plan("q29_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 5, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q5: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan("q5_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q7: EXISTS/NOT EXISTS decorrelate to semi/anti joins") {
    val p = plan("q23_exists_subquery")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("d13: the shared shingle cache is reused, not recomputed") {
    val p = plan("d13_lsh_pairs")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
  }

  test("q30: native as-of join with sorted, co-partitioned children") {
    val p = plan("q30_asof_native")
    assert(p.contains("AsOfJoin"), p)
    assert(p.contains("Sort "), p)
  }

  test("d8: cluster sizes via partial agg + broadcast join-back, no window") {
    val p = plan("d8_simhash")
    // the 2^bits-cardinality signature must never be a Window partition key
    // (one task would sort N/2^bits rows at scale)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // partial + final HashAggregate pair for the counts frame
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("e5: banded candidates come from an equi-join, never a cartesian") {
    val p = plan("e5_cosine_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q17: sketch scoring joins by broadcast, no exact-percentile sort agg") {
    val p = plan("q17_approx")
    assert(p.contains("BroadcastHashJoin"), p)
    // the exact-median formulation would plan percentile() in a SortAggregate
    assert(!p.toLowerCase.contains("sortaggregate"), p)
  }

  test("q1: aggregation is partial before the shuffle") {
    val p = plan("q1_agg")
    // partial + final HashAggregate pair around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q38: runtime bloom filter lands on the fact-scan side of the join") {
    val tweaks = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = tweaks.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      tweaks.foreach { case (k, v) => spark.conf.set(k, v) }
      val p = RelationalQueries.q38Plan(spark, sfDir)
        .queryExecution.optimizedPlan.toString.toLowerCase
      assert(p.contains("might_contain"),
        s"expected injected bloom-filter predicate on l_orderkey, plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q46: shredded-variant read prunes the variant blob from the scan") {
    val p = plan("q46_variant_shredded")
    // the read-back plan must scan only the typed shredded columns — the
    // variant binary column never appears in the ReadSchema (at 100 TB the
    // blobs are the bulk of the bytes)
    val rs = """ReadSchema: [^\n]*""".r.findFirstIn(p).getOrElse("")
    assert(rs.nonEmpty, p)
    assert(!rs.toLowerCase.contains("variant") && !rs.contains("v:"), rs)
    assert(Seq("et:", "k:", "uid:", "tag1:").forall(rs.contains), rs)
  }

  test("e18: the persisted IVF index read is partition-pruned to probed bins") {
    val p = plan("e18_persisted_ivf")
    // the serving scan must carry a centroid_id PARTITION predicate — at
    // scale unprobed bins' directories are never listed
    assert("""PartitionFilters: \[[^\]]*centroid_id""".r.findFirstIn(p).isDefined, p)
  }

  test("st20: the per-batch raw-list serving plan prunes bins and broadcasts the batch") {
    import org.apache.spark.sql.functions._
    // the exact plan the st20 stream's foreachBatch executes, via the
    // factored ivfServeBatch helper (st22's pqServeRefineBatch discipline):
    // partition-pruned index scan + the batch broadcast into it
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-st20-plan").toString
    VectorQueries.assignToCentroids(spark, sfDir, emb)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"file:$dir")
    val df = VectorQueries.ivfServeBatch(spark,
      emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
      VectorQueries.demoCodebook(spark, sfDir),
      VectorQueries.resolveRawIvfLists(spark, dir), 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*centroid_id""".r.findFirstIn(p).isDefined,
      s"raw-list scan carries no centroid_id partition filter: $p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e32: the persisted IVF-PQ code read is partition-pruned to probed bins") {
    // the codes live in the on-disk inverted lists (partitionBy bin) and
    // serving must read only the queries' coarse bins — at scale unprobed
    // bins' code partitions are never listed, and what IS read is M-byte
    // codes, never vectors. String-form pin: the AQE root hides scan
    // nodes from collect (the X1PipelineSpec finding); the plan string
    // prints each FileScan's Location, PartitionFilters and ReadSchema on
    // one line regardless.
    val p = plan("e32_persisted_ivfpq")
    val idxLines = p.linesIterator.filter(_.contains("e32-index")).toSeq
    assert(idxLines.nonEmpty, p)
    idxLines.foreach { l =>
      assert("""PartitionFilters: \[bin""".r.findFirstIn(l).isDefined,
        s"index scan carries no bin partition filter: $l")
      assert(!l.contains("embedding"),
        s"index scan reads vectors, not codes: $l")
    }
  }

  test("e33: filtered compressed serving prunes bins AND pushes the label " +
      "predicate into the CODE scan") {
    // the payload-in-index design's whole point: the label predicate is
    // applied by the parquet reader of the code lists (PushedFilters),
    // before any ADC work, and the scan still carries the bin partition
    // filter and reads codes only — never vectors
    val p = plan("e33_filtered_pq_serve")
    val idxLines = p.linesIterator.filter(_.contains("e33-index")).toSeq
    assert(idxLines.nonEmpty, p)
    idxLines.foreach { l =>
      assert("""PartitionFilters: \[bin""".r.findFirstIn(l).isDefined,
        s"code scan carries no bin partition filter: $l")
      assert("""PushedFilters: \[[^\]]*label""".r.findFirstIn(l).isDefined,
        s"label predicate not pushed to the code scan: $l")
      assert(!l.contains("embedding"),
        s"code scan reads vectors, not codes: $l")
    }
  }

  test("e34: the range predicate pushes into the code scan exactly like e33's") {
    // the predicate axis is generic: swapping the fixture IN-list for a
    // range predicate must keep every scan property — bin partition
    // pruning, the predicate applied by the parquet reader, codes only
    val p = plan("e34_filtered_serve_range")
    val idxLines = p.linesIterator.filter(_.contains("e33-index")).toSeq
    assert(idxLines.nonEmpty, p)
    idxLines.foreach { l =>
      assert("""PartitionFilters: \[bin""".r.findFirstIn(l).isDefined,
        s"code scan carries no bin partition filter: $l")
      assert("""PushedFilters: \[[^\]]*label""".r.findFirstIn(l).isDefined,
        s"range predicate not pushed to the code scan: $l")
      assert(!l.contains("embedding"),
        s"code scan reads vectors, not codes: $l")
    }
  }

  test("e35: serving after a bin split is partition-pruned to mapped children") {
    // the split must not cost serving its pruning: the scan reads only the
    // PHYSICAL bins the logical→physical map routes the probes to
    val p = plan("e35_bin_split_maintain")
    val idxLines = p.linesIterator
      .filter(l => l.contains("ivf-bindex") && !l.contains("-map")).toSeq
    assert(idxLines.nonEmpty, p)
    idxLines.foreach { l =>
      assert("""PartitionFilters: \[[^\]]*pbin""".r.findFirstIn(l).isDefined,
        s"post-split serving scan carries no pbin partition filter: $l")
    }
  }

  test("e36: serving after the full split lifecycle stays partition-pruned " +
      "through the refreshed map") {
    // split → delete → compact → map refresh must not cost serving its
    // pruning: the final scan reads only the SURVIVING physical children
    // the refreshed map routes the probes to
    val p = plan("e36_split_lifecycle")
    val idxLines = p.linesIterator
      .filter(l => l.contains("ivf-lindex") && !l.contains("-map")).toSeq
    assert(idxLines.nonEmpty, p)
    idxLines.foreach { l =>
      assert("""PartitionFilters: \[[^\]]*pbin""".r.findFirstIn(l).isDefined,
        s"post-lifecycle serving scan carries no pbin partition filter: $l")
    }
  }

  test("e19: filtered serving prunes bins AND pushes the label predicate") {
    val p = plan("e19_filtered_ivf")
    // partition pruning to probed bins (e18's contract) ...
    assert("""PartitionFilters: \[[^\]]*centroid_id""".r.findFirstIn(p).isDefined, p)
    // ... AND the metadata predicate reaches the parquet scan: the filter
    // runs in the read (row-group stats can skip), not a downstream operator
    assert("""PushedFilters: \[[^\]]*[Ii]n\(label""".r.findFirstIn(p).isDefined, p)
  }

  test("q49: null-safe equality plans as a hash join, never a nested loop") {
    val p = plan("q49_null_safe_join")
    assert(p.contains("HashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q39: constant dims broadcast; fact joins shuffle on their keys") {
    val p = plan("q39_tpch_deep")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p) // nation, region
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d39: tokenization joins by broadcast against the vocabulary-sized segmentation") {
    val p = plan("d39_bpe_tokenize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x2: tokenize-apply joins by broadcast against the trained segmentation") {
    // the apply side is corpus-sized, the segmentation vocabulary-sized —
    // the join must broadcast the small side (d39's rule, on the cleaned
    // corpus), never sort-merge the corpus
    val p = plan("x2_bpe_tokenized_corpus")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d40/e29/e30: trained-path candidates come from hash equi-joins, never a cartesian") {
    // (crossJoins against broadcast K-row constant/probe tables plan as
    // BroadcastNestedLoopJoin — the accepted tiny-side pattern; an
    // unbroadcast CartesianProduct is the scale-killer this pins out)
    Seq("d40_semantic_dedup_imi", "e29_trained_nprobe_recall",
      "e30_trained_refine").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("d36: within-bin pairs come from a bin equi-join, never a cartesian") {
    val p = plan("d36_semantic_dedup")
    // the only non-equi joins allowed are the K-row codebook broadcast
    // crosses (BroadcastNestedLoopJoin over a constant 4-row build side);
    // a CartesianProduct would mean the PAIR join lost its bin key. The
    // pair join itself is corpus×corpus on the bin key — a shuffle
    // (sort-merge) join is the RIGHT plan there: neither side broadcasts
    // at scale, and bin cardinality grows with the corpus.
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join [bin") || p.contains("join [bin") ||
      p.contains("SortMergeJoin"), p)
  }

  test("e28: probe-set candidates are bin equi-joined; probe + query-dot " +
      "tables broadcast; no cartesian anywhere") {
    val p = plan("e28_trained_nprobe")
    assert(!p.contains("CartesianProduct"), p)
    // probes, qdots, and the codes→bin join all plan as broadcast hash
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("e27: K=64 PQ — argmax assignment is a partial agg, not a window; " +
      "the only window is the final per-query top-k") {
    val p = plan("e27_pq_k64")
    // one Window exec total (rank over query_id; its WindowGroupLimit
    // pre-filter is fine). The K-scaled candidate streams (N·M·K rows in
    // training and serving) must never hit a sort-window — the
    // partial-agg max(struct) reduces them map-side
    assert("Window \\[".r.findAllIn(p).size == 1, p)
    // the codebook and the Q·M·K query-dot table ride as broadcasts;
    // nothing K-sized is ever the probe side of a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e31: K=256 PQ serves with the identical plan shape as K=64 — " +
      "nothing in the plan scales with K") {
    val p = plan("e31_pq_k256")
    // same pins as e27: the production codebook width changes data volume
    // in two broadcasts, never the plan
    assert("Window \\[".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
