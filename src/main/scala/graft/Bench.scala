package graft

import org.apache.spark.sql.SparkSession
import graft.core.JsonText
import scala.util.control.NonFatal

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line with
  * per-query and total wall seconds.
  *
  * Materialization is via the `noop` sink, not `count()` — count lets column
  * pruning drop most of the work for projection-style queries; noop computes
  * every output column like a real consumer.
  *
  * FLAP DETECTION: this host's throughput transiently collapses 10-30x with
  * CPU idle (documented in round 8 — the recorded r8 total was 5.8x the
  * steady-state re-runs of the same binary). A wall-clock bench on such a
  * host must prove its own numbers. Mechanism: a fixed CANARY job (task
  * dispatch + small-file create/list/read/delete — the syscall-shaped work
  * the flap hits hardest) runs 3x up front; the norm is the minimum of those
  * AND the best norm ever persisted under target/ (round 9 proved a
  * sustained flap otherwise calibrates the detector against itself). A fresh
  * norm above the absolute NormCeiling stamps host_degraded:true — the run
  * completes but self-reports as upper bounds. Queries run in small
  * segments, each followed by
  * a canary probe. A probe exceeding FlapFactor x norm means the segment's
  * wall times are untrustworthy: the whole segment re-runs (up to
  * MaxAttempts), keeping each query's MINIMUM across attempts — a flap only
  * ever inflates wall time, so min-of-reps converges on the steady number.
  * The emitted JSON carries the canary norm, the worst probe, and the retry
  * count, so a reader can audit whether the run was clean.
  */
object Bench {

  private val SegmentSize = 8
  private val FlapFactor = 3.0
  private val MaxAttempts = 3

  /** Absolute canary ceiling. The healthy steady for the canary job on this
    * host class is ~0.3s; a fresh norm above this means the WHOLE run sits on
    * a degraded host — and because the round-9 run proved a sustained flap
    * calibrates the detector against itself (norm 2.853s, so no probe ever
    * tripped 3x), the norm must be anchored absolutely, not per-run.
    */
  private val NormCeiling = 0.8

  /** The adjudicated best-ever canary norm on this host class, from the
    * certified r11 run (BASELINE.md honest-history table). Compiled in
    * because EVERY file-based anchor is erasable: the r10 fix persisted the
    * anchor under `target/`, a `clean` wiped it before the r13 run, the
    * detector silently reset to the fresh (degraded) norm and stamped
    * `host_degraded: false` on a visibly degraded run. The compiled
    * constant is the floor the anchor can never fall through; the file
    * below only ever LOWERS it if a healthier steady is observed.
    */
  private[graft] val HistoricalAnchor = 0.358

  /** A fresh norm more than this factor above the recorded anchor means the
    * whole run sits on a degraded host even if it clears the absolute
    * ceiling (r13: fresh 0.542 vs anchor 0.358 = 1.51x, recorded totals
    * ~2.2x steady across untouched queries — degraded, not borderline).
    * Tightened 1.25 → 1.15 after r15 self-certified at fresh = 1.237x
    * anchor — a hair under the old trigger — while syscall-shaped rows
    * recorded ~1.3-1.4x inflation with zero code change in their paths: a
    * threshold that passes 1.24x inflation certifies a 25%-padded total.
    */
  private val DegradedFactor = 1.15

  /** When the start-of-run canary sits above DegradedFactor x anchor, the
    * bench WAITS for a healthy window instead of certifying a padded run:
    * up to this many re-probe rounds, sleeping between them (the flap is
    * transient — r8/r13 logs show multi-minute episodes, not multi-hour).
    * If the host never recovers, the run proceeds stamped host_degraded.
    */
  private val HealthyWaitRounds =
    sys.env.get("SPARK_GRAFT_BENCH_START_WAIT_ROUNDS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(10)
  private val HealthyWaitSleepMs = 30000L

  /** Shared MID-RUN wait budget (ms): when a segment stays flapped through
    * MaxAttempts, the bench no longer certifies `flap_residual` straight
    * away — it PAUSES until the canary reads healthy again (the same
    * criterion as the start-of-run gate), then re-runs the segment with
    * fresh attempts. All three r17 artifacts were host-flagged end to end;
    * the ≤2x gate should rest on a healthy-window artifact, not on
    * min-of-reps steadies recovered from a flapping run. The budget is
    * global across segments and bounded so a driver-invoked run always
    * terminates on a permanently sick host (it then stamps flap_residual
    * exactly as before).
    */
  private val MidRunWaitBudgetMs =
    sys.env.get("SPARK_GRAFT_BENCH_WAIT_BUDGET_MS")
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(900000L)

  /** Best canary norm ever observed on this host, persisted across runs so a
    * run that starts mid-flap still compares its probes against the healthy
    * steady rather than self-certifying. Lives at the REPO ROOT
    * (git-ignored), not under `target/`, so clean builds and testdata
    * regeneration cannot erase it (the r13 failure mode).
    */
  private val NormFile = java.nio.file.Paths.get(".bench-anchor")

  private[graft] def readBestNorm(): Option[Double] =
    failSoft(_ => Option.empty[Double]) {
      if (java.nio.file.Files.exists(NormFile))
        Some(java.nio.file.Files.readString(NormFile).trim.toDouble)
          .filter(n => n > 0 && n.isFinite)
      else None
    }

  private def writeBestNorm(n: Double): Unit =
    failSoft(_ => ()) {
      java.nio.file.Files.writeString(NormFile, f"$n%.4f%n"); ()
    }

  /** Runs `body`, turning a non-fatal failure into `onFail`'s value. Fatal
    * JVM errors propagate; an interrupt re-asserts the thread's interrupt
    * flag and propagates, so a cancelled run stops instead of timing on.
    */
  private[graft] def failSoft[A](onFail: Throwable => A)(body: => A): A =
    try body catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        throw e
      case NonFatal(e) => onFail(e)
    }

  /** Syscall-heavy fixed workload: 48 tasks each writing one small parquet
    * file, then list + read-back + delete. ~0.3s steady; an order of
    * magnitude slower under the flap (which hits file ops and task dispatch,
    * not arithmetic).
    */
  /** A canary probe that FAILS (fs hiccup, lost task, read-back mismatch)
    * returns this finite sentinel instead of throwing: a probe failure is
    * the strongest possible "host is sick right now" signal and must feed
    * the same dirty/degraded/retry machinery as a slow probe — never
    * escalate to process exit. (Both r21 driver runs died rc-1 with zero
    * JSON because a transient flap hit an unprotected canary/warm-up
    * write.) The sentinel is finite so the emitted JSON stays valid, and
    * large enough to trip every threshold (NormCeiling, DegradedFactor,
    * FlapFactor) unconditionally.
    */
  private val CanaryFailSec = 600.0

  private[graft] def canary(spark: SparkSession): Double =
    failSoft { e =>
      System.err.println(s"[bench] canary probe FAILED (counts as dirty): " +
        s"${e.getMessage}")
      CanaryFailSec
    } {
      val t0 = System.nanoTime()
      val dir = "target/bench-canary"
      spark.range(0, 48, 1, 48).write.mode("overwrite").parquet(dir)
      require(spark.read.parquet(dir).count() == 48, "canary lost rows")
      graft.operators.MicroBatchJob.wipe(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up steps are individually fail-soft: they are throwaway work, so
    // a transient fs flap here must never kill the run (the r21 32-core
    // driver run died rc-1 in an unprotected warm-up parquet write). On
    // failure the first timed query pays the warm-up — inflated but
    // recoverable via min-of-reps — versus losing the whole run's output.
    // Failed labels are listed as `warm_failed` in the detail JSON.
    var warmFailed = Vector.empty[String]
    def warmFail(label: String)(e: Throwable): Unit = {
      warmFailed :+= label
      System.err.println(s"[bench] warm-up '$label' failed (continuing): " +
        s"${e.getMessage}")
    }
    def warm(label: String)(body: => Unit): Unit =
      failSoft(warmFail(label))(body)
    // Throwaway actions so JVM/classloading/codegen/parquet-reader warmup
    // isn't billed to whichever query happens to sort first.
    warm("range-noop") {
      spark.range(1000).write.format("noop").mode("overwrite").save()
    }
    warm("parquet-scan") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .write.format("noop").mode("overwrite").save()
    }
    // typed-Aggregator path (encoder resolution + codegen) warms here too
    import org.apache.spark.sql.functions.{col, udaf}
    warm("typed-agg") {
      val warmAgg = udaf(graft.functions.MinHashAgg.default,
        org.apache.spark.sql.Encoders.scalaLong)
      spark.range(1000).groupBy(col("id") % 10).agg(warmAgg(col("id")))
        .write.format("noop").mode("overwrite").save()
    }

    // Trained serving artifacts (codebooks, PQ code tables, binning
    // models, BPE segmentation) materialize BEFORE timing: they are
    // train-once inputs that persist with the index in production, and on
    // a cold target/ their one-time build otherwise lands on whichever
    // consumer query sorts first (r14: e31 billed 23.8s of K=256 training
    // against a ~1s serving path). d38 stays un-memoized — it IS the
    // training measurement.
    System.err.println("[bench] warming trained serving artifacts")
    warm("serving-artifacts") {
      graft.operators.VectorQueries.warmServingArtifacts(spark, sfDir)
    }
    warm("bpe-tokenize") {
      graft.operators.TextQueries.d39BpeTokenize(spark, sfDir)
    }
    // st19's frozen corpus-start fixtures (arrival split + fluency LM) are
    // the same class of train-once artifact; cold, their one-time build
    // bills ~15 s of model training against the recurring-pipeline run.
    // `st19Warm` records whether the markers were ALREADY valid — a model
    // stamp bump (v3→v4 in r15) rebuilds here in the untimed warm step,
    // and the flag makes that visible in the emitted JSON so a reader can
    // attribute a one-round x1/st19 blip to the retrain, not the engine.
    val st19Warm = failSoft { e => warmFail("st19-fixtures")(e); false } {
      graft.operators.CorpusPipeline.st19FrozenFixtures(spark, sfDir)._3
    }
    System.err.println(s"[bench] st19/x1 frozen model was " +
      (if (st19Warm) "already warm" else "REBUILT in the warm step"))

    // Warm the canary's own path first (parquet committer + JIT): the r10
    // shakedown measured an unwarmed first-canary min of 2.76s on a host
    // whose warmed steady was ~0.6s — a JIT artifact, not host state, and
    // it would poison the persisted anchor.
    canary(spark)
    var freshNorm = (1 to 3).map(_ => canary(spark)).min
    // Anchor against the best norm ever seen on this host: a run that starts
    // during a SUSTAINED flap would otherwise adopt the degraded number as
    // "normal" and no probe could ever trip (round-9 failure mode). The
    // recorded anchor floors at the compiled historical constant so no file
    // wipe can ever reset the detector to a degraded baseline (r13 mode).
    val recordedAnchor =
      math.min(HistoricalAnchor, readBestNorm().getOrElse(Double.MaxValue))
    // Degraded at start → WAIT for a healthy window before timing anything
    // (r15 lesson: a run that starts 1.24x inflated certifies a ~25%-padded
    // total; five minutes of waiting is cheaper than a wasted round).
    var healthyWaits = 0
    while (freshNorm > DegradedFactor * recordedAnchor &&
        healthyWaits < HealthyWaitRounds) {
      healthyWaits += 1
      System.err.println(f"[bench] start-of-run canary ${freshNorm}%.3fs > " +
        f"$DegradedFactor x anchor ${recordedAnchor}%.3fs — waiting for a " +
        f"healthy window ($healthyWaits/$HealthyWaitRounds)")
      Thread.sleep(HealthyWaitSleepMs)
      freshNorm = math.min(freshNorm, (1 to 2).map(_ => canary(spark)).min)
    }
    val norm = math.min(recordedAnchor, freshNorm)
    writeBestNorm(norm)
    // Degradation is judged against the RECORDED anchor (never against the
    // fresh norm itself — that is self-certification) with an absolute
    // ceiling backstop for a hypothetical first-ever run on a new host.
    val hostDegraded =
      freshNorm > NormCeiling || freshNorm > DegradedFactor * recordedAnchor
    // Severe degradation (the whole run 3x+ off steady): retries cannot
    // recover a clean number and only multiply wall-clock. MILD degradation
    // (1.15-3x) keeps the retry loop — the host may recover mid-run and
    // min-of-reps then lands real steadies even though the run as a whole
    // stays stamped host_degraded.
    val severelyDegraded =
      freshNorm > NormCeiling || freshNorm > FlapFactor * recordedAnchor
    System.err.println(
      f"[bench] canary fresh ${freshNorm}%.3fs, anchored norm ${norm}%.3fs," +
        f" recorded anchor ${recordedAnchor}%.3fs" +
        (if (hostDegraded) " — HOST DEGRADED, numbers are upper bounds" else ""))
    var worstProbe = freshNorm
    var flapRetries = 0
    var residualFlap = false
    var failed = Set.empty[String]

    // Failed attempts return MaxValue so min-of-reps never adopts a
    // fail-fast wall time as a query's "best"; persistent failures are
    // surfaced in the emitted JSON rather than silently timed.
    def runOnce(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try failSoft { e =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        e.printStackTrace()
        Double.MaxValue
      } {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally {
        // Queries that persist intermediates (d28/d34/d35) cannot unpersist
        // before their caller's action; dropping the cache per query keeps
        // 151 queries' worth of residue from accumulating and distorting
        // later timings (the ScaleSlope isolation lesson).
        spark.catalog.clearCache()
      }
    }

    // st19's per-trigger millis, snapshotted from the SAME attempt whose
    // wall time becomes the query's reported best — a flap-retried
    // segment would otherwise pair attempt 1's best wall with attempt 3's
    // inflated batch times and the wall-vs-Σbatches split would be
    // nonsense. (4 gate batches sit far under the 100-entry
    // recentProgress ring, so no truncation concern.)
    var st19BestBatches: Seq[Long] = Nil
    // mid-run healthy-window budget, shared across segments, plus a
    // counter surfaced in the emitted JSON so a reader can see how much
    // of the run's wall-clock was waiting rather than measuring
    var waitBudgetMs = MidRunWaitBudgetMs
    var midRunWaits = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .grouped(SegmentSize).flatMap { segment =>
        var best = Map.empty[String, Double]
        var clean = false
        // On a host that is SEVERELY degraded for the whole run (fresh norm
        // 3x+ above the recorded anchor) segment retries cannot recover a
        // clean number — they only multiply wall-clock. Run each segment
        // once, stamp host_degraded + flap_residual, and let the driver
        // re-run the bench in a healthy window.
        val attemptCap = if (severelyDegraded) 1 else MaxAttempts
        if (severelyDegraded) residualFlap = true
        def runSegmentOnce(attemptLabel: String): Unit = {
          segment.foreach { case (name, fn) =>
            val sec = runOnce(name, fn)
            if (name == "st19_streaming_corpus_build" &&
                sec < best.getOrElse(name, Double.MaxValue))
              st19BestBatches =
                graft.operators.CorpusPipeline.lastStreamBatchMillis
            best = best.updated(name,
              math.min(sec, best.getOrElse(name, Double.MaxValue)))
          }
          val probe = canary(spark)
          worstProbe = math.max(worstProbe, probe)
          clean = probe <= FlapFactor * norm
          if (!clean) {
            flapRetries += 1
            System.err.println(f"[bench] canary probe ${probe}%.3fs > " +
              f"${FlapFactor}x norm after ${segment.head._1}..${segment.last._1}" +
              f" — host flapping, re-running segment ($attemptLabel)")
          }
        }
        var attempt = 0
        while (!clean && attempt < attemptCap) {
          attempt += 1
          runSegmentOnce(s"attempt $attempt")
        }
        // Whole-run healthy gating: a segment still dirty after its
        // attempts no longer stamps flap_residual immediately — pause
        // until the canary reads HEALTHY (the start-of-run criterion, not
        // merely under the 3x flap line), then give the segment one fresh
        // attempt, repeating while the shared budget lasts.
        while (!clean && !severelyDegraded && waitBudgetMs > 0) {
          var probe = canary(spark)
          while (probe > DegradedFactor * recordedAnchor && waitBudgetMs > 0) {
            System.err.println(f"[bench] mid-run canary ${probe}%.3fs > " +
              f"$DegradedFactor x anchor ${recordedAnchor}%.3fs — pausing " +
              f"for a healthy window (${waitBudgetMs / 1000}s budget left)")
            Thread.sleep(HealthyWaitSleepMs)
            waitBudgetMs -= HealthyWaitSleepMs
            probe = canary(spark)
          }
          if (probe <= DegradedFactor * recordedAnchor) {
            midRunWaits += 1
            // Charge the re-run's EXCESS over the segment's own best known
            // work time against the shared budget, floored at HALF the
            // retry's wall: charging full wall time bounds the retry count
            // (the r18 termination fix) but a slow-yet-healthy segment
            // would drain budget meant for genuine degradation waits,
            // forcing residualFlap on later real flaps (r19 ADVICE) —
            // while a fixed 1s floor re-opens the periodic-flap pathology
            // from the other side (a dirty-probe/healthy-reprobe cycle
            // whose retries run at best speed would charge ~nothing and
            // admit budget/1s full segment re-runs). The wall/2 floor
            // bounds TOTAL retry wall at 2x budget regardless of how
            // cheap each retry looks, and still leaves at least half of
            // every healthy-speed retry's cost off the wait budget.
            val t0 = System.nanoTime()
            runSegmentOnce("healthy-window retry")
            val wallMs = (System.nanoTime() - t0) / 1000000L
            val segmentBestMs = segment.map { case (name, _) =>
              val s = best.getOrElse(name, 0.0)
              if (s == Double.MaxValue) 0.0 else s * 1000.0
            }.sum.toLong
            waitBudgetMs -= math.max(wallMs - segmentBestMs,
              math.max(wallMs / 2, 1000L))
          }
        }
        if (!clean) residualFlap = true
        segment.map { case (name, _) =>
          val sec = best(name)
          if (sec == Double.MaxValue) {
            failed += name
            System.err.println(s"[bench] $name FAILED on all attempts")
            name -> -1.0
          } else {
            System.err.println(f"[bench] $name ${sec}%.2fs")
            name -> sec
          }
        }
      }.toSeq

    // Failed queries emit null (never a numeric sentinel): a naive consumer
    // summing or averaging the map must fail loudly on null rather than
    // silently ingest -1.0 as a wall time. The names are also enumerated in
    // "failed".
    val qs = results.map { case (k, v) =>
      if (v < 0) s""""$k":null""" else f""""$k":$v%.3f"""
    }.mkString("{", ",", "}")
    val total = results.filter(_._2 >= 0).map(_._2).sum
    val failedJson = failed.toSeq.sorted.map(n => s""""$n"""")
      .mkString("[", ",", "]")
    // st19's wall time is dominated by micro-batch replay machinery; the
    // per-trigger execution seconds (from the stream's own progress
    // events, best-attempt run) let a reader split batch WORK from
    // harness overhead (wall − Σ batches) instead of guessing (r14 ask).
    val st19Batches = st19BestBatches
    val st19Detail =
      if (st19Batches.isEmpty) ""
      else s""""st19_batch_sec":[${st19Batches
        .map(ms => f"${ms / 1000.0}%.3f").mkString(",")}],"""
    val flap = st19Detail +
      f""""canary_norm":$norm%.3f,"canary_fresh":$freshNorm%.3f,""" +
      f""""canary_anchor":$recordedAnchor%.3f,""" +
      f""""canary_worst":$worstProbe%.3f,""" +
      s""""healthy_waits":$healthyWaits,"x1_model_warm":$st19Warm,""" +
      s""""flap_retries":$flapRetries,"midrun_waits":$midRunWaits,""" +
      s""""flap_residual":$residualFlap,""" +
      s""""host_degraded":$hostDegraded,"failed":$failedJson"""
    // the detail file alone lists failed warm-ups; the short line below
    // keeps its fields
    val warmFailedJson = warmFailed.map(JsonText.quote).mkString("[", ",", "]")
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir",$flap,"warm_failed":$warmFailedJson}"""
    // Single output path (run/outputStrategy := StdoutOutput keeps println
    // un-prefixed under sbt): the full contract line first, a durable copy
    // at target/bench.json, and a SHORT parseable line LAST so tail-capture
    // truncation can never eat the machine-readable result.
    println(json)
    val benchFile = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(benchFile.getParent)
    java.nio.file.Files.writeString(benchFile, json + "\n")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","nqueries":${results.size},$flap,"detail":"target/bench.json"}""")
    spark.stop()
  }
}
