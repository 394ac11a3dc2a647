package graft.operators

import graft.SparkSpec
import graft.sources.SnapshotLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Invariants of the round-2 training-data pipeline operators (the oracle
  * gate proves value equality; these prove the semantic shape).
  */
class PipelineQueriesSpec extends SparkSpec {

  /** A scratch index table: `rows` committed as its first version, keyed
    * by `partCol`.
    */
  private def indexTable(prefix: String, rows: DataFrame,
      partCol: String): String = {
    val tbl = s"file:${java.nio.file.Files.createTempDirectory(prefix)}"
    SnapshotLog.commit(spark, tbl, rows, carried = Nil,
      partitionBy = Some(partCol))
    tbl
  }

  private def headVersion(tbl: String): Int =
    SnapshotLog.latestVersion(spark, tbl).get

  /** The head version's rows. */
  private def headRows(tbl: String): DataFrame =
    SnapshotLog.read(spark, tbl, headVersion(tbl))

  /** The head manifest's data files by their `_<partCol>=` bin, each as
    * path:mtime — file identity over manifest entries.
    */
  private def binFiles(tbl: String, partCol: String): Map[Long, Set[String]] = {
    val seg = s"/_$partCol=(-?\\d+)/".r
    SnapshotLog.dataFiles(SnapshotLog.manifest(spark, tbl, headVersion(tbl)))
      .map { f =>
        val mtime = new java.io.File(
          new org.apache.hadoop.fs.Path(f).toUri.getPath).lastModified()
        seg.findFirstMatchIn(f).get.group(1).toLong -> s"$f:$mtime"
      }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
  }

  test("d13: every candidate pair shares at least one LSH band") {
    val sig = DedupQueries.d7MinhashSig(spark, sfDir)
      .select(col("doc_id"),
        array(col("band0"), col("band1"), col("band2"), col("band3")).as("bands"))
    val pairs = DedupQueries.d13LshPairs(spark, sfDir)
    val joined = pairs
      .join(sig.select(col("doc_id").as("id_a"), col("bands").as("ba")), "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("bands").as("bb")), "id_b")
    // no candidate without a shared band, no self/duplicate pairs
    assert(joined.filter(size(array_intersect(col("ba"), col("bb"))) === 0).isEmpty)
    assert(pairs.filter(col("id_a") >= col("id_b")).isEmpty)
    assert(pairs.groupBy("id_a", "id_b").count().filter(col("count") > 1).isEmpty)
    // jaccard is a valid similarity
    assert(pairs.filter(col("jaccard") < 0 || col("jaccard") > 1).isEmpty)
  }

  test("d19: min-label propagation closes transitive chains (multi-round)") {
    import spark.implicits._
    // path graph 1-2-3-4-5 plus isolated pair 10-11: the chain needs
    // several propagation rounds (diameter 4), so this exercises the loop
    // beyond the single-round near-clique case the corpus produces
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = DedupQueries.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(cc(_) == 1L), cc)
    assert(cc(10L) == 10L && cc(11L) == 10L, cc)
  }

  test("d19: non-convergence within maxIters throws instead of returning wrong labels") {
    import spark.implicits._
    // path graph of diameter 9: min-label needs ~9 rounds to reach the tail,
    // so maxIters=2 must fail loudly, and a large budget must succeed
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      DedupQueries.connectedComponents(chain, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("fixpoint"))
    val ok = DedupQueries.connectedComponents(chain, maxIters = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 10L).forall(ok(_) == 1L), ok)
  }

  test("d29: kept member maximizes n_chars within its own cluster") {
    val clusters = DedupQueries.closureLabels(spark, sfDir)
      .select(col("label").as("cluster_rep"), col("id").as("doc_id"))
    val chars = RelationalQueries.table(spark, sfDir, "documents")
      .select("doc_id", "n_chars")
    val best = DedupQueries.d29ClusterKeepBest(spark, sfDir)
    // kept_id is a member of its cluster and kept_chars is its true length
    val keptOk = best
      .join(clusters, Seq("cluster_rep"))
      .filter(col("kept_id") === col("doc_id"))
      .join(chars, col("kept_id") === chars("doc_id"))
      .filter(col("kept_chars") === col("n_chars"))
    assert(keptOk.count() == best.count())
    // no cluster member is strictly longer than its kept representative
    val longer = best.join(clusters, Seq("cluster_rep"))
      .join(chars, "doc_id")
      .filter(col("n_chars") > col("kept_chars"))
    assert(longer.isEmpty, longer.collect().mkString(","))
    // membership counts agree with d19's component sizes
    val sizes = clusters.groupBy("cluster_rep").count()
    assert(best.join(sizes, "cluster_rep")
      .filter(col("n_members") =!= col("count")).isEmpty)
  }

  test("e20: appending a batch never rewrites existing index files") {
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val tbl = indexTable("graft-aidx", VectorQueries.assignToCentroids(spark,
      sfDir, emb.filter(pmod(col("vec_id"), lit(10)) =!= 7)), "centroid_id")
    val before = binFiles(tbl, "centroid_id")

    val newAsg = VectorQueries.assignToCentroids(spark, sfDir,
      emb.filter(pmod(col("vec_id"), lit(10)) === 7))
    val newBins = newAsg.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSet
    MicroBatchJob.appendKeyed(spark, tbl, newAsg, "append", Some("centroid_id"))
    val after = binFiles(tbl, "centroid_id")

    // every base-build file survives into the head manifest, byte-identical
    // (path + mtime)
    before.foreach { case (bin, fs) =>
      assert(fs.subsetOf(after.getOrElse(bin, Set.empty)),
        s"base files of bin $bin were rewritten")
    }
    // growth happens only in bins the new batch maps to
    after.foreach { case (bin, fs) =>
      if ((fs -- before.getOrElse(bin, Set.empty)).nonEmpty)
        assert(newBins.contains(bin), s"bin $bin grew but the batch avoids it")
    }
    // merged lists hold the whole corpus exactly once
    val merged = headRows(tbl)
    assert(merged.count() == emb.count())
    assert(merged.select("vec_id").distinct().count() == emb.count())
  }

  test("e35: split rewrites only overflowing bins, bounds all bins, loses nothing") {
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val tbl = indexTable("graft-bidx", VectorQueries.assignToCentroids(spark,
      sfDir, emb).withColumn("pbin", col("centroid_id")), "pbin")
    val before = binFiles(tbl, "pbin")
    def sizes(): Map[Long, Long] = headRows(tbl)
      .groupBy(col("pbin").cast("long").as("p")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bound = math.max(1L, emb.count() / 5)
    val calm = sizes().filter(_._2 <= bound).keySet

    val mapPath = s"$tbl-map"
    val splits = VectorQueries.splitBins(spark, tbl, mapPath, bound)
    assert(splits.nonEmpty, "fixture produced no overflow — bound too high")

    // calm bins keep their manifest files (name + mtime)
    val after = binFiles(tbl, "pbin")
    calm.foreach { p =>
      assert(before(p) == after(p), s"calm bin $p was rewritten by the split")
    }
    // every physical bin is now at or under the bound
    val sizesAfter = sizes()
    sizesAfter.foreach { case (p, n) =>
      assert(n <= bound, s"bin $p still holds $n > $bound after split")
    }
    // nothing lost, nothing duplicated
    val merged = headRows(tbl)
    assert(merged.count() == emb.count())
    assert(merged.select("vec_id").distinct().count() == emb.count())
    // the persisted map routes every physical bin to exactly one logical
    // bin, and children carry only vectors of their parent's logical bin
    val map = spark.read.parquet(mapPath)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(map.keySet == sizesAfter.keySet,
      s"map bins ${map.keySet} != physical bins ${sizesAfter.keySet}")
    val mismade = merged
      .select(col("pbin").cast("long").as("p"),
        col("centroid_id").cast("long").as("l"))
      .distinct().collect()
      .filter(r => map(r.getLong(0)) != r.getLong(1))
    assert(mismade.isEmpty, s"rows filed under a foreign logical bin: " +
      mismade.take(3).mkString(","))
  }

  test("e36: a takedown routed to one split child rewrites only that child; " +
      "the map refresh drops the emptied child") {
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val tbl = indexTable("graft-lidx", VectorQueries.assignToCentroids(spark,
      sfDir, emb).withColumn("pbin", col("centroid_id")), "pbin")
    val bound = math.max(1L, emb.count() / 5)
    val mapPath = s"$tbl-map"
    val splits = VectorQueries.splitBins(spark, tbl, mapPath, bound)
    assert(splits.nonEmpty, "fixture produced no overflow — bound too high")
    val before = binFiles(tbl, "pbin")

    // doom EXACTLY the contents of one child minted by the split — the
    // takedown must route through the physical layout and rewrite (here:
    // empty and drop) only that child, leaving every sibling — including
    // the doomed child's own split siblings — byte-identical
    val child = splits.head._2
    import spark.implicits._
    val doomedIds = headRows(tbl)
      .filter(col("pbin").cast("long") === child)
      .select("vec_id").as[Long].collect().toSeq
    assert(doomedIds.nonEmpty)
    val rewritten = VectorQueries.deleteBins(
      spark, tbl, doomedIds.toDF("vec_id"), "pbin", Some(mapPath))
    assert(rewritten == Seq(child), s"rewrote $rewritten, expected $child")

    val after = binFiles(tbl, "pbin")
    assert(!after.contains(child), "emptied child still has manifest entries")
    before.keys.filterNot(_ == child).foreach { b =>
      assert(after(b) == before(b), s"calm bin $b changed under the takedown")
    }
    // survivors are exactly corpus minus the doomed child
    val left = headRows(tbl).select("vec_id").as[Long].collect().toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    assert(left == all -- doomedIds)

    // the takedown's map refresh re-derives from the live manifest: the
    // dead child is gone, every live physical bin is named, and each maps
    // to the logical bin its rows carry
    val map = spark.read.parquet(mapPath)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(!map.contains(child), "refreshed map still names the dead child")
    assert(map.keySet == after.keySet,
      s"map bins ${map.keySet} != live bins ${after.keySet}")
  }

  test("m12: the radix-2 NTT equals a driver-side direct DFT; field params hold") {
    // the root really has order 64 in Z_65537 (ω^32 = −1, ω^64 = 1) —
    // the property every butterfly stage leans on
    def modpow(b: Long, e: Long): Long = {
      var r = 1L; var bb = b % 65537L; var ee = e
      while (ee > 0) {
        if ((ee & 1L) == 1L) r = r * bb % 65537L
        bb = bb * bb % 65537L; ee >>= 1
      }
      r
    }
    assert(modpow(8224L, 32) == 65536L && modpow(8224L, 64) == 1L)

    // FFT ≡ direct DFT on the real decoded signals (the oracle restates
    // the direct side generatively; here the engine's own decode feeds a
    // literal O(n²) fold)
    val got = MultimodalOps.m12RadixTransform(spark, sfDir)
      .filter(col("doc_id") < 6)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    (0L until 6L).foreach { id =>
      val n = (16 + id % 17).toInt
      val s = Array.tabulate(64) { i =>
        if (i < n) Math.floorMod((id * 31 + i.toLong * 7919) % 65536 - 32768,
          65537L)
        else 0L
      }
      (0 until 64).foreach { k =>
        val direct = (0 until 64).map(i =>
          s(i) * modpow(8224L, (i.toLong * k) % 64) % 65537L).sum % 65537L
        assert(got((id, k)) == direct, s"doc $id bin $k: FFT != DFT")
      }
    }
  }

  test("m11: even-bin DFT magnitudes match a driver-side per-window fold") {
    val got = MultimodalOps.m11WavSpectra(spark, sfDir)
      .filter(col("doc_id") < 6)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    (0L until 6L).foreach { id =>
      val n = (16 + id % 17).toInt
      val s = (0 until n).map(i => ((id * 31 + i.toLong * 7919) % 65536 - 32768))
      s.grouped(8).zipWithIndex.foreach { case (w, wi) =>
        def c(f: Int => Long): Long =
          w.zipWithIndex.map { case (x, j) => x * f(wi * 8 + j) }.sum
        val re0 = c(_ => 1L)
        val re2 = c(i => Seq(1L, 0L, -1L, 0L)(i % 4))
        val im2 = c(i => Seq(0L, 1L, 0L, -1L)(i % 4))
        val re4 = c(i => if (i % 2 == 0) 1L else -1L)
        assert(got((id, wi)) ==
          ((w.size.toLong, re0 * re0, re2 * re2 + im2 * im2, re4 * re4)),
          s"doc $id window $wi")
      }
    }
  }

  test("q50: filled_qty is the most recent kept quantity at or before each line") {
    val rows = RelationalQueries.q50GapFill(spark, sfDir)
      .filter(col("l_orderkey") % 97 === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, lines) =>
      // before an order's first kept line the fill is honestly NULL; line
      // numbers duplicate within an order, so walk the TOTAL window order
      // (l_linenumber, l_quantity) the operator declares
      var lastKept: Option[Double] = None
      lines.sortBy(r => (r._2, r._3.getOrElse(Double.NegativeInfinity)))
        .foreach { case (ok, ln, sparse, filled) =>
          if (ln % 3 == 1) {
            assert(sparse.nonEmpty, s"order $ok line $ln lost its kept value")
            assert(filled == sparse,
              s"kept row must fill itself: order $ok line $ln")
            lastKept = sparse
          } else {
            assert(sparse.isEmpty, s"order $ok line $ln kept a dropped value")
            assert(filled == lastKept, s"order $ok line $ln filled=$filled")
          }
        }
    }
  }

  test("e21: delete rewrites only bins holding a doomed vector; empty bins drop") {
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val asg = VectorQueries.assignToCentroids(spark, sfDir, emb)
    val tbl = indexTable("graft-didx", asg, "centroid_id")
    val before = binFiles(tbl, "centroid_id")

    // doom one whole bin plus a couple of ids from another bin
    val binOf = asg.select(col("vec_id"), col("centroid_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bins = binOf.values.toSet.toSeq.sorted
    val wholeBin = bins.head
    val partialBin = bins.last
    val doomedIds = binOf.filter(_._2 == wholeBin).keys.toSeq ++
      binOf.filter(_._2 == partialBin).keys.toSeq.sorted.take(2)
    import spark.implicits._
    val rewrittenBins = VectorQueries.deleteBins(
      spark, tbl, doomedIds.toDF("vec_id"), "centroid_id")
    assert(rewrittenBins.toSet == Set(wholeBin, partialBin))

    val after = binFiles(tbl, "centroid_id")
    // untouched bins keep their exact files
    before.keys.filterNot(rewrittenBins.toSet)
      .foreach { b => assert(after(b) == before(b), s"untouched bin $b changed") }
    // the fully-doomed bin has no manifest entry left
    assert(!after.contains(wholeBin), after.keySet)
    // survivors are exactly corpus minus doomed
    val left = headRows(tbl).select("vec_id").as[Long].collect().toSet
    assert(left == binOf.keySet -- doomedIds)
  }

  test("e23: compaction collapses fragmented bins to one file, keeps content and calm bins") {
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    // fragment every bin with a 3-chunk append build
    def chunk(r: Int) = VectorQueries.assignToCentroids(spark, sfDir,
      emb.filter(pmod(col("vec_id"), lit(3)) === r))
    val tbl = indexTable("graft-cidx", chunk(0), "centroid_id")
    (1 to 2).foreach(r =>
      MicroBatchJob.appendKeyed(spark, tbl, chunk(r), s"chunk-$r", Some("centroid_id")))
    val before = binFiles(tbl, "centroid_id")
    assert(before.values.exists(_.size > 1), before.view.mapValues(_.size).toMap)
    val beforeContent = headRows(tbl)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // threshold = the smallest bin's file count: bins above it compact,
    // the smallest stays calm (if all bins tie, lower it so compaction
    // still actually runs — the calm-bin pin is then vacuous, not wrong)
    val counts = before.values.map(_.size)
    val threshold =
      if (counts.toSet.size == 1) counts.min - 1 else counts.min
    val fragmented = before.filter(_._2.size > threshold).keySet
    assert(SnapshotLog.compact(spark, tbl, Some("centroid_id"),
      maxFilesPerPartition = threshold).isDefined,
      before.view.mapValues(_.size).toMap)
    val after = binFiles(tbl, "centroid_id")
    // compacted bins collapse to one file; calm bins keep their exact files
    assert(fragmented.nonEmpty)
    fragmented.foreach { b => assert(after(b).size == 1, b) }
    before.keys.filterNot(fragmented).foreach { b =>
      assert(after(b) == before(b), s"calm bin $b changed")
    }
    // content survives byte-for-byte (same vec_id set, same count)
    val afterContent = headRows(tbl)
      .select("vec_id").collect().map(_.getLong(0))
    assert(afterContent.toSet == beforeContent &&
      afterContent.length == beforeContent.size)
  }

  test("q36: engine EWMA equals a driver-side sequential fold") {
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val out = graft.SparkEntry.queries("q36_ewma")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val events = RelationalQueries.table(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "value").collect()
    val expected = events.groupBy(_.getLong(0)).map { case (u, rows) =>
      val vals = rows
        .sortBy(r => (micros(r.getTimestamp(1)), r.getLong(2)))
        .map(_.getDouble(3))
      val ew = vals.tail.foldLeft(vals.head)((acc, x) => acc * 0.7 + x * 0.3)
      u -> ((vals.length.toLong,
        BigDecimal(ew).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    assert(out.keySet == expected.keySet)
    expected.foreach { case (u, (n, ew)) =>
      assert(out(u) == ((n, ew)), s"user $u: got ${out(u)}, want ($n, $ew)")
    }
  }

  test("d14: profile is the argmax of the trigram scores with fixed ties") {
    val r = TextQueries.d14LangIdChargram(spark, sfDir)
    val bad = r.filter(
      (col("tri_profile") === "english" &&
        (col("tri_en") < col("tri_data") || col("tri_en") < col("tri_adj"))) ||
      (col("tri_profile") === "dataish" && col("tri_data") < col("tri_adj")))
    assert(bad.isEmpty)
  }

  test("m2: decode features are a pure function of payload bytes") {
    val r = MultimodalOps.m2MediaDecode(spark, sfDir)
    assert(r.filter(col("width") % 16 =!= 0 || col("height") % 16 =!= 0).isEmpty)
    assert(r.filter(col("channels") < 1 || col("channels") > 3).isEmpty)
    // n_bytes matches the binary payload length exactly
    val docs = RelationalQueries.table(spark, sfDir, "documents")
      .select(col("doc_id"), octet_length(col("text")).as("expect_bytes"))
    assert(r.join(docs, "doc_id")
      .filter(col("n_bytes") =!= col("expect_bytes")).isEmpty)
  }

  test("st1: emits exactly the watermark-closed hours with exact counts") {
    // st1 replays the day=0* glob scope; mirror it (and its scope-local
    // final watermark) in the batch restatement
    val events = RelationalQueries.eventsTable(spark, sfDir)
      .filter(dayofmonth(col("ts")) < 10)
    val wm = events.agg(max(col("ts"))).collect()(0).getTimestamp(0).toInstant
      .minusSeconds(40 * 60)
    val expected = events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("hour_ts") + expr("INTERVAL 1 HOUR") <= lit(java.sql.Timestamp.from(wm)))
    val got = IngestParityQueries.st1StreamingHourly(spark, sfDir)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("st12: emitted sessions are gap-wide, per-user disjoint, watermark-closed") {
    val r = IngestParityQueries.st12SessionWindowAgg(spark, sfDir)
    // a session's window end is last event + gap, so every window spans >= gap
    assert(r.filter(col("session_end_us") - col("session_start_us") <
      1800000000L).isEmpty)
    assert(r.filter(col("n_events") < 1).isEmpty)
    // sessions of one user never overlap: the next session's first event is
    // > gap after the previous session's last event (= its window end)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("session_start_us")
    assert(r.withColumn("prev_end", lag(col("session_end_us"), 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("session_start_us") < col("prev_end")).isEmpty)
    // closure: no emitted session may end past the scope's final watermark
    val ev = RelationalQueries.eventsTable(spark, sfDir)
      .filter(dayofmonth(col("ts")) === 1)
    val wmUs = (ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      / 1000L - 40L * 60 * 1000) * 1000
    assert(r.filter(col("session_end_us") > wmUs).isEmpty)
  }

  test("q40: argmax position indexes the max element; top3 bounds the rest") {
    val r = RelationalQueries.q40Hof(spark, sfDir)
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val j = r.join(emb, "vec_id")
    assert(j.filter(col("argmax_pos") < 1 || col("argmax_pos") > col("dim")).isEmpty)
    assert(j.filter(
      element_at(col("embedding"), col("argmax_pos").cast("int")).cast("double")
        =!= col("max_val")).isEmpty)
    // top3_sum can never fall below 3× any non-top-3 element's contribution
    assert(r.filter(col("top3_sum") < col("max_val")).isEmpty)
  }

  test("q41: next_mon is the first strictly-later Monday; plus3m clamps") {
    val r = RelationalQueries.q41Datetime(spark, sfDir)
    assert(r.filter(dayofweek(col("next_mon")) =!= 2).isEmpty)
    val gap = datediff(col("next_mon"), col("od"))
    assert(r.filter(gap < 1 || gap > 7).isEmpty)
    // add_months never overflows into the following month
    assert(r.filter(month(col("plus3m")) =!= month(add_months(col("od"), 3))).isEmpty)
    assert(r.filter(col("eom") < col("od")).isEmpty)
  }

  test("q42: disc percentiles are members of the group; cont is bracketed") {
    val li = RelationalQueries.table(spark, sfDir, "lineitem")
    val r = RelationalQueries.q42Percentile(spark, sfDir)
    val members = li.select(col("l_returnflag"), col("l_quantity")).distinct()
    // each percentile_disc output is an actual quantity of its group
    for (c <- Seq("q25_qty", "q50_qty", "q90_qty"))
      assert(r.join(members,
        r("l_returnflag") === members("l_returnflag") &&
          r(c) === members("l_quantity"), "left_anti").isEmpty, c)
    val bounds = li.groupBy("l_returnflag")
      .agg(min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx"))
    assert(r.join(bounds, "l_returnflag")
      .filter(col("med_price") < col("mn") || col("p95_price") > col("mx") ||
        col("med_price") > col("p95_price")).isEmpty)
    assert(r.filter(col("q25_qty") > col("q50_qty") ||
      col("q50_qty") > col("q90_qty")).isEmpty)
  }

  test("d34: bigram-LM scores are proper probabilities over every bigram position") {
    val docs = RelationalQueries.table(spark, sfDir, "documents")
    val r = TextQueries.d34BigramLm(spark, sfDir)
    // a smoothed conditional probability mean lives strictly in (0, 1)
    assert(r.filter(col("avg_p") <= 0.0 || col("avg_p") >= 1.0).isEmpty)
    // every doc with >= 2 tokens scores exactly token_count - 1 bigrams
    val expected = docs.select(col("doc_id"),
      (size(split(trim(col("text")), "\\s+")) - 1).cast("long").as("want"))
      .filter(col("want") >= 1)
    assert(r.count() == expected.count())
    assert(r.join(expected, "doc_id")
      .filter(col("n_bigrams") =!= col("want")).isEmpty)
    // deterministic: two runs produce identical score sets (the decimal
    // rounding discipline removes any summation-order sensitivity)
    val again = TextQueries.d34BigramLm(spark, sfDir)
    assert(r.exceptAll(again).isEmpty && again.exceptAll(r).isEmpty)
  }

  test("e24: every (vector, subspace) is assigned exactly once to a trained centroid") {
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val r = VectorQueries.e24TrainedPq(spark, sfDir).collect()
    val n = emb.count()
    // partition property: assignment census covers all 8 subspaces x N
    // vectors exactly once
    assert(r.map(_.getAs[Long]("n_assigned")).sum == 8 * n)
    assert(r.map(_.getAs[Int]("m")).toSet == (0 until 8).toSet)
    // sum of assigned vec_ids per subspace = sum of ALL vec_ids (each id
    // appears in exactly one centroid's census per subspace)
    val idSum = emb.agg(sum(col("vec_id"))).collect()(0).getLong(0)
    r.groupBy(_.getAs[Int]("m")).foreach { case (m, rows) =>
      assert(rows.map(_.getAs[Long]("sum_vec_ids")).sum == idSum, s"subspace $m")
    }
    // trained codebooks are finite and non-degenerate
    assert(r.forall(row => !row.getAs[Double]("centroid_norm").isNaN &&
      row.getAs[Double]("centroid_norm") > 0.0))
  }

  test("d35: rewrite keeps each distinct segment exactly once, corpus-wide") {
    val docs = RelationalQueries.table(spark, sfDir, "documents")
    val r = TextQueries.d35SegmentRewrite(spark, sfDir)
    // every doc appears, kept <= total
    assert(r.count() == docs.count())
    assert(r.filter(col("n_kept") > col("n_segments")).isEmpty)
    // conservation: total kept across the corpus = number of DISTINCT
    // segments (first occurrences survive, every other copy is dropped)
    val t = split(trim(col("text")), "\\s+")
    val segs = docs.select(col("doc_id"), explode(transform(
      sequence(lit(0), ceil(size(t).cast("double") / 10.0).cast("int") - 1),
      g => concat_ws(" ", slice(t, g * lit(10) + 1, lit(10))))).as("seg"))
    val distinctSegs = segs.select("seg").distinct().count()
    val keptTotal = r.agg(sum(col("n_kept"))).collect()(0).getLong(0)
    assert(keptTotal == distinctSegs,
      s"kept $keptTotal != distinct $distinctSegs")
    // a doc whose segments are all first occurrences is untouched: its
    // rebuilt text md5 equals the md5 of its whitespace-normalized text
    val untouched = r.filter(col("n_kept") === col("n_segments"))
      .join(docs.select(col("doc_id"),
        md5(concat_ws(" ", split(trim(col("text")), "\\s+"))).as("orig_md5")),
        "doc_id")
    assert(untouched.filter(col("text_md5") =!= col("orig_md5")).isEmpty)
    assert(untouched.count() > 0) // fixture has such docs; vacuous otherwise
  }
}
