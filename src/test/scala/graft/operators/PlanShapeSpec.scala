package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the properties that make these queries scale are
  * locked in here so a refactor that silently loses a pushdown, a
  * broadcast, or the top-k operator fails the build — at 100 TB those
  * regressions are the difference between a scan and an outage.
  */
class PlanShapeSpec extends SparkSpec {

  private def query(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sfDir)

  private def plan(name: String): String =
    query(name).queryExecution.executedPlan.toString

  private def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** The files `df`'s scans of the index table `tbl` read. */
  private def indexScanFiles(df: DataFrame, tbl: String): Set[String] =
    df.inputFiles.toSeq.map(norm).filter(_.startsWith(norm(tbl) + "/")).toSet

  /** The index table `target/parity/<kind>-<sf tag>`. */
  private def parityTable(kind: String): String =
    s"file:${ScratchDirs.parity(s"$kind-${ScratchDirs.tag(sfDir)}")}"

  /** The head-manifest data files of `tbl` whose `_<partCol>=` level is
    * one of `bins`.
    */
  private def headBinFiles(tbl: String, partCol: String,
      bins: Set[Long]): Set[String] = {
    val v = SnapshotLog.latestVersion(spark, tbl).get
    SnapshotLog.dataFiles(SnapshotLog.manifest(spark, tbl, v))
      .filter(f => bins.exists(b => f.contains(s"/_$partCol=$b/")))
      .map(norm).toSet
  }

  /** Pins that the index scans of `df` read exactly the head-manifest
    * files of the probed `bins` of `tbl`: no other bin's file is opened.
    */
  private def assertReadsProbedBins(df: DataFrame, tbl: String,
      partCol: String, bins: Set[Long]): Unit = {
    val want = headBinFiles(tbl, partCol, bins)
    assert(bins.nonEmpty && want.nonEmpty, s"no probed files in $tbl")
    val got = indexScanFiles(df, tbl)
    assert(got == want, s"index scan read ${got.size} files, the probed " +
      s"bins $bins hold ${want.size}:\n${(got -- want).mkString("\n")}")
  }

  /** The distinct centroids among each query's `n` best by the decimal
    * dot of (vec_id < 10)'s embeddings against `cents`' vector column `c`
    * (score DESC, centroid_id ASC).
    */
  private def probedBins(cents: DataFrame, c: String, n: Int): Set[Long] = {
    val dotOf = aggregate(zip_with(col("embedding"), col(c),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
      (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("s").desc, col("centroid_id").asc)
    RelationalQueries.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
      .crossJoin(cents)
      .withColumn("s", dotOf.cast("decimal(20,6)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select(col("centroid_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  private def demoProbes(n: Int) =
    probedBins(AssignRestatement.demoCents(spark, sfDir), "c_emb", n)

  private def trainedProbes(n: Int) =
    probedBins(VectorQueries.kmeansCentroids(spark, sfDir, 2), "c", n)

  /** The physical bins the map at `<tbl>-map` routes `logical` to. */
  private def mappedBins(tbl: String, logical: Set[Long]): Set[Long] =
    spark.read.parquet(s"$tbl-map")
      .filter(col("bin").isin(logical.toSeq: _*))
      .select(col("pbin").cast("long")).collect().map(_.getLong(0)).toSet

  /** The index scan lines of a plan string, each carrying the FileScan's
    * Location, PushedFilters and ReadSchema (the AQE root hides scan nodes
    * from collect, the X1PipelineSpec finding; the string does not).
    */
  private def scanLines(p: String, kind: String): Seq[String] =
    p.linesIterator.filter(l => l.contains(kind) && !l.contains("-map")).toSeq

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
    // the serving scan opens exactly the probed lists' manifest files — at
    // scale unprobed bins' files are never opened
    assertReadsProbedBins(query("e18_persisted_ivf"), parityTable("ivf-index"),
      "centroid_id", demoProbes(1))
  }

  test("st20: the per-batch raw-list serving plan prunes bins and broadcasts the batch") {
    // the exact plan the st20 stream's foreachBatch executes, via the
    // factored ivfServeBatch helper (st22's pqServeRefineBatch discipline):
    // the probed lists' files only + the batch broadcast into them
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val tbl = "file:" +
      java.nio.file.Files.createTempDirectory("graft-st20-plan").toString
    SnapshotLog.commit(spark, tbl, VectorQueries.assignToCentroids(spark, sfDir, emb),
      carried = Nil, partitionBy = Some("centroid_id"))
    val df = VectorQueries.ivfServeBatch(spark,
      emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
      VectorQueries.demoCodebook(spark, sfDir),
      VectorQueries.ivfLists(spark, SnapshotLog.manifest(spark, tbl, 1),
        "centroid_id"), 3)
    df.collect()
    assertReadsProbedBins(df, tbl, "centroid_id", demoProbes(1))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e32: the persisted IVF-PQ code read is partition-pruned to probed bins") {
    // the codes live in the `bin`-keyed inverted lists and serving must
    // read only the queries' coarse bins' files — at scale unprobed bins'
    // codes are never opened, and what IS read is M-byte codes, never
    // vectors
    val df = query("e32_persisted_ivfpq")
    assertReadsProbedBins(df, parityTable("e32-index"), "bin", trainedProbes(1))
    val idxLines = scanLines(df.queryExecution.executedPlan.toString, "e32-index")
    assert(idxLines.nonEmpty)
    idxLines.foreach { l =>
      assert(!l.contains("embedding"), s"index scan reads vectors, not codes: $l")
    }
  }

  test("e33: filtered compressed serving prunes bins AND pushes the label " +
      "predicate into the CODE scan") {
    // the payload-in-index design's whole point: the label predicate is
    // applied by the parquet reader of the code lists (PushedFilters),
    // before any ADC work, and the scan still opens only the probed bins'
    // files and reads codes only — never vectors
    val df = query("e33_filtered_pq_serve")
    assertReadsProbedBins(df, parityTable("e33-index"), "bin", trainedProbes(2))
    val idxLines = scanLines(df.queryExecution.executedPlan.toString, "e33-index")
    assert(idxLines.nonEmpty)
    idxLines.foreach { l =>
      assert("""PushedFilters: \[[^\]]*label""".r.findFirstIn(l).isDefined,
        s"label predicate not pushed to the code scan: $l")
      assert(!l.contains("embedding"),
        s"code scan reads vectors, not codes: $l")
    }
  }

  test("e34: the range predicate pushes into the code scan exactly like e33's") {
    // the predicate axis is generic: swapping the fixture IN-list for a
    // range predicate must keep every scan property — only the probed
    // bins' files, the predicate applied by the parquet reader, codes only
    val df = query("e34_filtered_serve_range")
    assertReadsProbedBins(df, parityTable("e33-index"), "bin", trainedProbes(2))
    val idxLines = scanLines(df.queryExecution.executedPlan.toString, "e33-index")
    assert(idxLines.nonEmpty)
    idxLines.foreach { l =>
      assert("""PushedFilters: \[[^\]]*label""".r.findFirstIn(l).isDefined,
        s"range predicate not pushed to the code scan: $l")
      assert(!l.contains("embedding"),
        s"code scan reads vectors, not codes: $l")
    }
  }

  test("e35: serving after a bin split is partition-pruned to mapped children") {
    // the split must not cost serving its pruning: the scan reads only the
    // PHYSICAL bins the logical→physical map routes the probes to
    val df = query("e35_bin_split_maintain")
    val tbl = parityTable("ivf-bindex")
    assertReadsProbedBins(df, tbl, "pbin", mappedBins(tbl, demoProbes(1)))
  }

  test("e36: serving after the full split lifecycle stays partition-pruned " +
      "through the refreshed map") {
    // split → delete → map refresh → compact must not cost serving its
    // pruning: the final scan reads only the SURVIVING physical children
    // the refreshed map routes the probes to (the e36 queries leave out
    // the doomed ids, vec_id % 10 = 3)
    val df = query("e36_split_lifecycle")
    val tbl = parityTable("ivf-lindex")
    val logical = AssignRestatement.crossJoinAssign(
        RelationalQueries.table(spark, sfDir, "embeddings")
          .filter(col("vec_id") < 10 && pmod(col("vec_id"), lit(10)) =!= 3),
        AssignRestatement.demoCents(spark, sfDir))
      .select(col("centroid_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assertReadsProbedBins(df, tbl, "pbin", mappedBins(tbl, logical))
  }

  test("e19: filtered serving prunes bins AND pushes the label predicate") {
    val df = query("e19_filtered_ivf")
    // only the probed bins' files (e18's contract, at nprobe = 2) ...
    assertReadsProbedBins(df, parityTable("ivf-findex"), "centroid_id",
      demoProbes(2))
    // ... AND the metadata predicate reaches the parquet scan: the filter
    // runs in the read (row-group stats can skip), not a downstream operator
    val p = df.queryExecution.executedPlan.toString
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
