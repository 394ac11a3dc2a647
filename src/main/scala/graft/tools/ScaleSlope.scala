package graft.tools

import graft.GraftSession
import graft.sources.StampedArtifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope experiment for the dedup/ANN families (SURVEY §9 dossier
  * evidence): measures d13/d15/e6/e18/d36/st18 wall time at sf0.01, sf0.1, and
  * REPLICA-SCALED corpora at 10x and 100x sf0.1 built under target/scale/.
  * A ~linear time-vs-rows slope validates the cost models with data, not
  * prose; superlinear growth would expose a hidden all-pairs/skew term.
  *
  * Replication design (matters for dedup): each replica's tokens are
  * REMAPPED by a replica-salted hash, so replicas are not near-duplicates
  * of each other — the duplicate/similarity structure of the original
  * corpus is reproduced INSIDE each replica and scales exactly linearly.
  * Naive copying would instead make every document a 10-way cross-replica
  * duplicate: LSH pair output would grow quadratically in the factor and
  * the experiment would measure join-output explosion, not engine scaling.
  * Embedding replicas keep their vectors (timing is dot-product-count
  * driven); vec_ids shift so ids stay unique, and the centroid/query subset
  * (vec_id < 10, replica 0 only) stays constant so e6/e18 measure corpus
  * growth at FIXED query load — the serving-scale question.
  *
  * Not part of any gate: oracles at replica scale would only restate the
  * replication arithmetic. Run: `sbt "runMain graft.tools.ScaleSlope"`.
  */
object ScaleSlope {

  /** Extract `"key":{...}` (balanced braces; these artifact entries hold
    * only numbers and fixed labels, never brace-bearing strings) from a
    * previously written scaleslope artifact — a combined rewrite whose run
    * skipped a section carries the prior entry forward instead of
    * clobbering it with an empty shell.
    */
  private[tools] def carryForward(path: java.nio.file.Path,
      key: String): Option[String] = {
    if (!java.nio.file.Files.exists(path)) return None
    val s = java.nio.file.Files.readString(path)
    val tag = s""""$key":"""
    val at = s.indexOf(tag)
    val start = at + tag.length
    if (at < 0 || start >= s.length || s.charAt(start) != '{') return None
    var depth = 0
    var i = start
    while (i < s.length) {
      s.charAt(i) match {
        case '{' => depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) return Some(s.substring(at, i + 1))
        case _ =>
      }
      i += 1
    }
    None
  }

  private[graft] def replicateDocs(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val span = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
    docs.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("doc_id", col("doc_id") + col("rep") * lit(span))
      // 12 hex chars: at 16^12 the per-replica token vocabulary cannot
      // birthday-collide (6 chars measurably did — ~16M space vs ~50k
      // tokens — which perturbed intra-replica Jaccard and broke the
      // replica-linearity property ScaleSlopeSpec pins)
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          t => substring(md5(concat(t, col("rep").cast("string"))), 1, 12)), " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  private[graft] def replicateEmb(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val span = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1L
    emb.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("vec_id", col("vec_id") + col("rep") * lit(span))
      // Decorrelate replicas with a per-replica DIAGONAL SIGN FLIP (a ±1
      // orthogonal transform, the embedding analogue of the token remap
      // above): within a replica every dot product and norm is preserved
      // EXACTLY (s_i² = 1), so the original similarity structure is
      // reproduced inside each replica and scales linearly; across
      // replicas the pseudo-random sign pattern cancels dots toward 0.
      // Verbatim copies would instead make every vector a factor-way
      // cross-replica exact duplicate — d36's within-bin pair output
      // would grow with factor² as a DATA property and the slope would
      // measure duplicate explosion, not engine scaling.
      .withColumn("embedding", when(col("rep") === 0, col("embedding"))
        .otherwise(zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => when(pmod(hash(col("rep"), i), lit(2)) === 0, x).otherwise(-x))))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** VOCABULARY-scaled corpus for the d38 BPE-dispatch crossover: same doc
    * count and token count as the source, but every token occurrence in
    * doc-group g (= doc_id / groupSize) is remapped to a 12-hex hash of
    * (token, g) — word TYPES multiply by the group count while corpus
    * bytes stay flat. This is the right instrument for the dispatch
    * question: classic BPE's per-round cost is ∝ distinct-word vocabulary
    * (the full-segmentation window), incremental's is ∝ words containing
    * the merged pair — so the crossover lives on the VOCAB axis, which
    * the x10/x100 corpus replicas barely move (this testdata generation
    * has 31 word types at sf0.1; x100 reaches ~3.1k, never the 50k
    * threshold).
    */
  private[graft] def replicateVocab(spark: SparkSession, src: String,
      out: String, groupSize: Int): Unit = {
    spark.read.parquet(s"$src/documents.parquet")
      .withColumn("text",
        array_join(transform(split(col("text"), " "),
          t => substring(md5(concat(t, lit("|"),
            (col("doc_id") / groupSize).cast("long").cast("string"))), 1, 12)),
          " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  private def ensureVocabScaled(spark: SparkSession, src: String,
      groupSize: Int): String = {
    val out = new java.io.File(s"target/scale/bpe-g$groupSize").getAbsoluteFile
    StampedArtifact.getOrBuild(out.toString, "._scale_ok", s"v1|$src|$groupSize|" +
        graft.operators.RelationalQueries.sourceStamp(src, "documents")) {
      out.mkdirs()
      replicateVocab(spark, src, out.toString, groupSize)
    }
    out.toString
  }

  private[graft] def ensureScaled(spark: SparkSession, src: String, factor: Int): String = {
    val out = new java.io.File(s"target/scale/x$factor").getAbsoluteFile
    // v3: sign-flip-decorrelated emb replicas; sourceStamp: rebuild replicas
    // when the driver regenerates the base testdata
    val stamp = s"v3|$src|$factor|" +
      graft.operators.RelationalQueries.sourceStamp(src, "documents") + "|" +
      graft.operators.RelationalQueries.sourceStamp(src, "embeddings")
    StampedArtifact.getOrBuild(out.toString, "._scale_ok", stamp) {
      out.mkdirs()
      replicateDocs(spark, src, out.toString, factor)
      replicateEmb(spark, src, out.toString, factor)
    }
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = "/root/testdata/sf0.1"
    val scales: Seq[(String, String)] = Seq(
      "sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> base,
      "x10" -> ensureScaled(spark, base, 10),
      "x100" -> ensureScaled(spark, base, 100))
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "d13_lsh_pairs" -> graft.SparkEntry.queries("d13_lsh_pairs"),
      "d15_corpus_dedup" -> graft.SparkEntry.queries("d15_corpus_dedup"),
      "e6_ivf_search" -> graft.SparkEntry.queries("e6_ivf_search"),
      "e18_persisted_ivf" -> graft.SparkEntry.queries("e18_persisted_ivf"),
      // the round-11 addition: semantic dedup with corpus-scaled bin count —
      // the slope IS the SemDeDup linearity claim, measured
      "d36_semantic_dedup" -> graft.SparkEntry.queries("d36_semantic_dedup"),
      // round-13: the STREAMING twin measured too — 4-microbatch replay,
      // per-batch trained binning + same-bin pair join + touched-bin
      // SnapshotLog commits; its slope must track d36's, not inherit it
      // by argument (state is wiped per run, so each rep replays fully)
      "st18_streaming_semantic_dedup" ->
        graft.SparkEntry.queries("st18_streaming_semantic_dedup"),
      // round-14: the COMPOSED corpus build measured too — its slope is
      // the whole-pipeline linearity claim (ingest + scrub + fluency train
      // + exact/LSH/semantic dedup + decon + stratified pack + snapshot
      // commit), not inherited from the per-stage rows above
      "x1_corpus_pipeline" ->
        graft.SparkEntry.queries("x1_corpus_pipeline"),
      // round-15: the STREAMING corpus build measured too — state is wiped
      // per run (the function's own contract), so each rep replays the
      // full 4-batch arrival history: the slope is the incremental
      // pair-discovery claim under the r15 scaled state buckets +
      // key-set-pruned prior reads, measured rather than argued
      "st19_streaming_corpus_build" ->
        graft.SparkEntry.queries("st19_streaming_corpus_build"))

    // same syscall-shaped canary as Bench: stamps each scale's rows with the
    // host's health so a flapped sample is visibly flapped
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 48, 1, 48).write.mode("overwrite")
        .parquet("target/scale/canary")
      spark.read.parquet("target/scale/canary").count()
      (System.nanoTime() - t0) / 1e9
    }
    canary() // warm

    // section selection (default all but flatx100): GRAFT_SLOPE_SECTIONS=
    // slope,d38,flat,flatx100 — the d38 crossover alone takes minutes and
    // iterating on it should not re-pay the four-scale slope sweep (and
    // vice versa); flatx100 is the ~10-minute x100 adjudication run and is
    // opt-in because it insists on a HEALTHY host window first
    val sections = sys.env.getOrElse("GRAFT_SLOPE_SECTIONS", "slope,d38,flat")
      .split(",").map(_.trim).toSet

    // wait (bounded) for the host to sit at or under healthyFactor x the
    // bench's historical canary anchor before a timed section that cannot
    // be min-of-reps'd — the r17 st19@x100 sample (13.9x decade on a
    // 1.48x-anchor canary) is exactly the number this loop exists to
    // prevent recording again
    def waitHealthy(maxRounds: Int, healthyFactor: Double = 1.2): Double = {
      var c = canary()
      var rounds = 0
      while (c > healthyFactor * graft.Bench.HistoricalAnchor &&
          rounds < maxRounds) {
        rounds += 1
        println(f"[healthy-wait] canary $c%.3f > $healthyFactor x " +
          f"${graft.Bench.HistoricalAnchor}%.3f — waiting ($rounds/$maxRounds)")
        Thread.sleep(30000)
        c = canary()
      }
      c
    }

    println(f"${"scale"}%-8s ${"rows(doc/emb)"}%-16s ${"canary"}%-7s " +
      queries.map(_._1).map(n => f"$n%-18s").mkString)
    val samples = (if (sections("slope")) scales else Nil).map { case (label, dir) =>
      // isolate scales: the dedup queries persist per-corpus shingle caches;
      // carrying four scales' caches at once evicts/thashes the largest
      // scale (measured: d13 x100 192s with all caches resident vs ~30s
      // isolated) and would measure memory pressure, not the operator
      spark.catalog.clearCache()
      val nd = spark.read.parquet(s"$dir/documents.parquet").count()
      val ne = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val c = canary()
      val times = queries.map { case (_, fn) =>
        // three reps, min: first rep absorbs fixture builds; flap only ever
        // inflates, so min-of-reps is the steady estimate. Three because
        // this host class stalls intermittently for multi-second windows
        // (r14: an isolated d15@x10 measured 16.2/6.2/15.3 s across three
        // back-to-back reps on an otherwise idle JVM) — with min-of-TWO a
        // single stall landing on each rep once produced a phantom 36×
        // slope for d15 that three fresh isolated reps disproved.
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      println(f"$label%-8s ${s"$nd/$ne"}%-16s $c%-7.2f " +
        times.map(t => f"$t%-18.2f").mkString)
      (label, nd, ne, c, times)
    }
    // Gate artifact: target/scaleslope.json — per-scale samples plus the
    // x10-vs-sf0.1 slope per query (rows grow 10x; a slope well under 10
    // on the time axis is the sublinear-in-data evidence SURVEY §9 cites;
    // canary values let a reader discount flapped samples).
    val byLabel = samples.map(s => s._1 -> s).toMap
    val slopes = (byLabel.get("sf0.1"), byLabel.get("x10")) match {
      case (Some((_, _, _, _, t1)), Some((_, _, _, _, t10))) =>
        queries.map(_._1).zip(t1.zip(t10)).map { case (n, (a, b)) =>
          s""""$n":${if (a > 0) f"${b / a}%.2f" else "null"}"""
        }.mkString(",")
      case _ => ""
    }
    val sampleJson = samples.map { case (label, nd, ne, c, times) =>
      val qs = queries.map(_._1).zip(times)
        .map { case (n, t) => f""""$n":$t%.3f""" }.mkString(",")
      s"""{"scale":"$label","docs":$nd,"embs":$ne,"canary":${f"$c%.3f"},"sec":{$qs}}"""
    }.mkString("[", ",", "]")

    // ---- st19 per-batch FLATNESS at x10: run the ingest half alone over
    // an 8-way equal-size arrival split and record per-batch seconds from
    // the stream's own progress events. With batch-proportional state
    // reads the per-batch cost of equal batches must not TREND as state
    // accretes — the r15 4-batch gate run showed a +28% first→last drift
    // that 4 points on a marginal host could not adjudicate; 8 batches
    // with a canary stamp can. Flat = last-quartile mean ≤ ~1.2x
    // first-quartile mean on a healthy canary.
    def flatnessEntry(key: String, scaleLabel: String, dir: String,
        waitRounds: Int): String = {
      spark.catalog.clearCache()
      val cF = waitHealthy(waitRounds)
      val (batches, freezeSec) =
        graft.operators.CorpusPipeline.st19BatchFlatness(spark, dir, 8)
      // close the sample with a second probe: a mid-run flap inflates
      // batches without touching the PRE-run canary, so both ends stamp
      val cA = canary()
      val q = math.max(1, batches.size / 4)
      val firstQ = batches.take(q).sum / q
      val lastQ = batches.takeRight(q).sum / q
      val ratio = lastQ / firstQ
      println(f"[flat] st19@$scaleLabel 8 batches: " +
        batches.map(b => f"$b%.2f").mkString(",") +
        f" firstQ=${firstQ}%.2f lastQ=${lastQ}%.2f ratio=${ratio}%.2f" +
        f" freeze=${freezeSec}%.2f canary=${cF}%.2f/${cA}%.2f" +
        (if (ratio > 1.2) " — NOT FLAT (investigate or discount by canary)"
         else " — flat"))
      f""""$key":{"scale":"$scaleLabel","canary":$cF%.3f,""" +
        f""""canary_after":$cA%.3f,""" +
        f""""batch_sec":[${batches.map(b => f"$b%.3f").mkString(",")}],""" +
        f""""stream_sec":${batches.sum}%.3f,"freeze_sec":$freezeSec%.3f,""" +
        f""""first_q_mean":$firstQ%.3f,"last_q_mean":$lastQ%.3f,""" +
        f""""last_over_first_q":$ratio%.3f}"""
    }
    val flatEntry =
      if (sections("flat"))
        flatnessEntry("st19_flatness", "x10", ensureScaled(spark, base, 10), 4)
      else ""
    // the r17 adjudication section: st19's x100 decade was the one
    // superlinear number in the sweep (13.9x for 10x docs) but its canary
    // sat at 1.48x anchor — this section re-measures the decade on an
    // INSISTED-healthy window with per-batch seconds, so the artifact
    // either shows the decade ≈ linear or names a real per-batch trend
    val flatX100Entry =
      if (sections("flatx100"))
        flatnessEntry("st19_flatness_x100", "x100",
          ensureScaled(spark, base, 100), 20)
      else ""

    // ---- d38 BPE-dispatch crossover: classic (full-vocab window per
    // round) vs incremental (affected words only) at budget 50, on
    // vocabulary-scaled corpora (see replicateVocab — the x-replicas
    // cannot move the vocab axis past the dispatch threshold on this
    // testdata generation). Each row: vocabulary, wall seconds per path,
    // and the incremental path's per-round affected-word stats — the
    // "cost ∝ affected words" evidence, next to the vocab the classic
    // path re-windows every round.
    val bpeBudget = 50
    val bpeRows = (if (sections("d38")) Seq(50, 16, 3, 1) else Nil).map { g =>
      spark.catalog.clearCache()
      val dir = ensureVocabScaled(spark, base, g)
      val vocab = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0).select("w").distinct().count()
      val c0 = canary()
      def time(force: Boolean): (Double, Seq[Long]) = {
        val t0 = System.nanoTime()
        val (_, _, aff) = graft.operators.TextQueries
          .bpeTrain(spark, dir, bpeBudget, forceIncremental = Some(force))
        ((System.nanoTime() - t0) / 1e9, aff)
      }
      val (tInc, aff) = time(force = true)
      val (tCls, _) = time(force = false)
      val affStats =
        if (aff.isEmpty) """"aff_mean":null,"aff_max":null"""
        else f""""aff_mean":${aff.sum.toDouble / aff.size}%.1f,"aff_max":${aff.max}"""
      println(f"[d38] g=$g vocab=$vocab classic=${tCls}%.1fs " +
        f"incremental=${tInc}%.1fs aff=${aff.take(10).mkString(",")}...")
      s"""{"group":$g,"vocab":$vocab,"canary":${f"$c0%.3f"},""" +
        f""""classic_sec":$tCls%.2f,"incremental_sec":$tInc%.2f,""" +
        s"""$affStats,"aff_counts":${aff.mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")

    val crossoverJson =
      s""""d38_crossover":{"budget":$bpeBudget,""" +
        s""""threshold":${graft.operators.TextQueries.IncrementalVocabThreshold},""" +
        s""""rows":$bpeRows}"""
    // a partial run (one section) must not clobber the other sections'
    // recorded artifacts: the full gate file only rewrites when the slope
    // sweep ran, and even then a skipped flat/d38 section's entry is
    // CARRIED FORWARD from the existing artifact (or omitted when none
    // was ever recorded) rather than overwritten with an empty shell
    if (sections("slope")) {
      val prior = java.nio.file.Paths.get("target/scaleslope.json")
      // a skipped section's entry comes from the FRESHEST record of it: a
      // partial run writes its own artifact (st19flatness/bpecrossover),
      // and when that is newer than the combined file it must win — else
      // a slope-only run would republish superseded measurements
      def newest(key: String, sectionFile: String): Option[String] = {
        val sf = java.nio.file.Paths.get(sectionFile)
        Seq(sf, prior).filter(java.nio.file.Files.exists(_))
          .sortBy(p =>
            -java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .view.flatMap(p => carryForward(p, key)).headOption
      }
      val parts = Seq(
        Some(s""""samples":$sampleJson"""),
        Some(s""""x10_over_sf01_slope":{$slopes}"""),
        if (flatEntry.nonEmpty) Some(flatEntry)
        else newest("st19_flatness", "target/st19flatness.json"),
        if (flatX100Entry.nonEmpty) Some(flatX100Entry)
        else newest("st19_flatness_x100", "target/st19flatnessx100.json"),
        if (sections("d38")) Some(crossoverJson)
        else newest("d38_crossover", "target/bpecrossover.json")
      ).flatten
      val json = parts.mkString("{", ",", "}")
      val out = java.nio.file.Paths.get("target/scaleslope.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, json + "\n")
      println(json)
    } else {
      // partial runs must not clobber sections they did not run: a
      // d38-only iteration lands in its own file, a flat-only run in its
      // own — and neither touches the other's artifact
      if (sections("d38")) {
        val out = java.nio.file.Paths.get("target/bpecrossover.json")
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, s"{$crossoverJson}\n")
        println(s"{$crossoverJson}")
      }
      if (sections("flat") && flatEntry.nonEmpty) {
        val out = java.nio.file.Paths.get("target/st19flatness.json")
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, s"{$flatEntry}\n")
        println(s"{$flatEntry}")
      }
      if (sections("flatx100") && flatX100Entry.nonEmpty) {
        val out = java.nio.file.Paths.get("target/st19flatnessx100.json")
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, s"{$flatX100Entry}\n")
        println(s"{$flatX100Entry}")
      }
    }
    spark.stop()
  }
}
