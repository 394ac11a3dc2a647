package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{cclass, h60}
import graft.sources.{SnapshotLog, StampedArtifact}
import RelationalQueries.table

/** x1: the END-TO-END training-corpus build — every stage of the pipeline
  * this library exists for, composed into ONE query and proven TOGETHER
  * against a single DuckDB restatement of the whole chain (the data-plane
  * analogue of the reference's composed workflow,
  * `workflow.yaml:14-95`, which chains probe → ingest → poll):
  *
  *   hive ingest (S1/S2) → PII redaction (d24) → quality+langid filter
  *   (d27/d14) → bigram-LM fluency filter (d34) → exact dedup (d1) →
  *   MinHash-LSH near-dup removal (d13/d15) → semantic dedup (d36) →
  *   eval-decontamination (d25) → split assignment (d33) → per-(split,
  *   source) sequence packing (d23) → SnapshotLog commit → per-split
  *   census.
  *
  * Output: one row per split — doc count, id checksum, token total, packed
  * bin count, a content census hash (bit_xor of per-doc h60), and the
  * committed snapshot version. Every upstream stage feeds every number, so
  * the oracle hash pins the COMPOSITION, not just the stages. In
  * particular the census hashes REDACTED text: reordering the scrub after
  * hashing, or dropping it, flips every census hash — placement is pinned,
  * not asserted.
  *
  * Scale shape (the point of composing, beyond proof):
  *  - The corpus lands hive-partitioned and is scanned ONCE into a
  *    materialized survivor frame that carries its token array; tokenize —
  *    the scan-dominant cost at 100 TB — is paid once and shared by the
  *    fluency bigrams, the LSH shingles, the decontamination 5-grams, and
  *    the packing token counts (`X1PipelineSpec` pins the single
  *    tokenize).
  *  - PII redaction runs INSIDE the one scan (row-local regex rewrite,
  *    zero shuffle) and BEFORE any content hash, so every downstream
  *    fingerprint/dedup key sees scrubbed text — the ordering a real
  *    pipeline must guarantee (a hash of unscrubbed text is itself a
  *    retention liability).
  *  - Each filter/dedup stage shrinks the corpus BEFORE the next pays its
  *    cost: fluency scores only quality survivors, LSH shingles only
  *    fluency survivors, semantic pairing only LSH survivors,
  *    decontamination only semantic survivors.
  *  - Semantic binning reuses the corpus-trained memoized codebooks
  *    (train once, serve many — d36's production shape); assignment runs
  *    only over survivor embeddings.
  *  - Packing windows per (split, source) — d23's stratum discipline:
  *    strata are the parallel unit (swap `source` for the file/partition
  *    id at 100 TB), so no prefix-sum task ever sees more than one
  *    stratum. A split-only key would put ~80% of the corpus through ONE
  *    task (r13 wrong #2).
  *  - No stage collects row data to the driver; the only driver-side
  *    values are the SnapshotLog commit's manifest bookkeeping.
  */
object CorpusPipeline {

  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** d14's trigram-class occurrence count (lowercased substring count). */
  private def occ(low: Column, pat: String): Column =
    ((length(low) - length(replace(low, lit(pat), lit("")))) / lit(pat.length))
      .cast("long")

  /** Fluency floor: keep documents whose Laplace-smoothed mean bigram
    * probability (d34's statistic, trained on the quality-survivor corpus)
    * clears `FluencyFloor / V` — the unseen-bigram probability is ~1/V, so
    * the rule reads "bigrams on average ≥2.8× the novel-pair floor".
    * Corpus-adaptive (V rides along), deterministic (avg_p's exact-decimal
    * sum → double division is the d34-oracle-proven cross-engine-identical
    * value; V is an integer), and it does real work at gate scale
    * (measured: drops ~5% of survivors at sf0.001 and sf0.01).
    */
  private val FluencyFloor = 2.8

  /** Stage R's redaction expression over a raw `text` column: the scrub
    * every corpus runs BEFORE anything fingerprints the text. The
    * synthetic corpus carries no PII, so each document is salted with one
    * email/phone/IP derived from its CONTENT hash (h60 of the raw text —
    * duplicates get the same salt, so the dedup stages keep their real
    * work; a doc_id salt would make every document unique and neuter
    * d1/LSH), then the d24 regex families redact to typed placeholders.
    * Row-local, zero shuffle; runs inside the one corpus scan.
    */
  private def redactExpr: Column = {
    val rawH = h60(col("text"))
    val salted = concat(col("text"),
      lit(" contact user"), pmod(rawH, lit(1000L)).cast("string"),
      lit("@example.com"),
      lit(" call +1-555-"),
      lpad(pmod(rawH, lit(10000L)).cast("string"), 4, "0"),
      lit(" from 10.0."), pmod(rawH, lit(256L)).cast("string"), lit(".7"))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val ipRe = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    regexp_replace(
      regexp_replace(
        regexp_replace(salted, phoneRe, "<PHONE>"),
        emailRe, "<EMAIL>"),
      ipRe, "<IP>")
  }

  /** Stage R applied standalone to a (doc_id, text, ...) frame — the spec
    * probes redaction output through this so its assertions exercise the
    * exact expression the pipeline runs.
    */
  private[operators] def redactProbe(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), redactExpr.as("text"))

  /** Stages R+F fused over a raw (doc_id, text, source) frame: PII
    * redaction, then the d27 logistic quality margin and the d14 chargram
    * junk gate over the REDACTED text. Entirely row-local (zero shuffle),
    * so it commutes with any batching — x1 runs it inside its one corpus
    * scan and st19 runs it per micro-batch; both see identical survivor
    * ROWS by construction. The surviving frame carries its token array
    * (`t`): the one tokenize every downstream stage shares.
    */
  private[operators] def scrubbedQualityDocs(docs: DataFrame): DataFrame = {
    val low = lower(col("text"))
    val triEn = occ(low, "the") + occ(low, "and") + occ(low, "ing")
    val triData = occ(low, "dat") + occ(low, "tab") + occ(low, "row")
    val logit = lit(-2.0) + lit(0.004) * length(col("text")) -
      lit(0.05) * size(col("t")) +
      lit(0.02) * cclass(col("text"), "count", "aeiou") -
      lit(0.8) * cclass(col("text"), "count", ".!?,;:")
    // Optimization BARRIER (graft_opt_barrier, a zero-cost codegen
    // Expression that reports nondeterministic): without it,
    // CollapseProject + predicate pushdown inline `redactExpr` into EVERY
    // reference the quality gate makes to `text` (two cclass counts, six
    // lowercase substring scans, the tokenize, the length) — the
    // 3-regex+md5 redact chain re-derives ~15× per row and the fused
    // expression tree is measured ~90× slower than evaluating the
    // redaction once (96 s vs 1.1 s over 50k docs). Behind the barrier
    // `text` is a plain attribute, so every gate expression reads the
    // materialized string. Historically this was a mapPartitions identity,
    // which bought the same single evaluation at the price of a full
    // InternalRow→Row→InternalRow codec round trip per row and a
    // whole-stage-codegen split; the barrier expression keeps scan, scrub,
    // gate and tokenize in ONE codegen stage.
    val bar = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.optBarrier(redactExpr).as("text"),
      col("source"))
    bar
      .select(col("doc_id"), col("text"), col("source"),
        tokens(col("text")).as("t"))
      .filter(logit > lit(-2.0) && triData <= triEn * lit(5L))
  }

  /** STOP-SHINGLES: shingles present in a MAJORITY of the quality
    * survivors — corpus-wide boilerplate with zero near-dup signal. The
    * scrub itself manufactures the worst case: every redacted doc ends
    * with the same `contact <EMAIL> call <PHONE> from <IP>` placeholder
    * tail, so its 4 shingles have df = N. Left in, they poison BOTH
    * halves of the LSH stage at scale: short docs' minhash minima are
    * drawn from the shared tail, so they all collide into one band
    * bucket whose candidate pairs grow ∝ corpus² (measured at x10: one
    * 2,053-doc bucket → 2.1M of 2.2M candidates; at x100 the pair join
    * sorted >70 GB and never finished), and the verification Jaccard of
    * two UNRELATED short docs hits 0.5 from the tail alone (4 shared of
    * 6+6 shingles), mass-removing distinct documents. Real corpora hit
    * the identical pathology via boilerplate footers and redaction
    * placeholders; the standard cure is a document-frequency cap on the
    * shingle set. So: the near-dup stage operates on CONTENT shingles
    * only — df > n/2 shingles are excluded from signatures and from the
    * verification Jaccard alike, and a doc whose every shingle is stop
    * simply doesn't participate (exact dedup owns pure boilerplate).
    *
    * Trained ONCE on the quality-survivor frame and frozen — the d34
    * fluency-model discipline, so batch x1 and streaming st19 apply the
    * same set. The collect is BOUNDED BY CONSTRUCTION: a df > n/2
    * shingle consumes n/2 of the Σ|sh| ≈ n·avgShPerDoc total instances,
    * so at most 2·avgShPerDoc (~hundreds) rows ever reach the driver.
    */
  private[operators] def stopShingles(filt: DataFrame): Array[String] = {
    // df over ONE representative per DISTINCT text — a verbatim-duplicated
    // text must not vote its own content shingles into the stop set (its
    // copies belong to exact dedup; its near-variants must stay bandable)
    val keep = filt.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    stopShinglesFrom(DedupQueries.shingleFrameFrom(
        filt.select(col("doc_id"), col("text"), col("t")))
      .join(keep, Seq("doc_id"), "left_semi"), keep.count())
  }

  /** [[stopShingles]] over a PRE-BUILT (doc_id, sh) frame — x1 shingles
    * its survivor corpus exactly once and derives BOTH the stop set and
    * the banding input from the same materialized frame (shingling is the
    * expensive half of the near-dup stage; training the df cap must not
    * double it).
    */
  private[operators] def stopShinglesFrom(sh: DataFrame,
      n: Long): Array[String] =
    sh.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > lit(n / 2.0))
      .select("s").collect().map(_.getString(0)).sorted

  /** `sh` minus the stop set, dropping docs with no content shingle left
    * — the frame BOTH the band build and the verification join consume.
    */
  private[operators] def contentShingles(sh: DataFrame,
      stop: Seq[String]): DataFrame =
    sh.withColumn("sh", array_except(col("sh"),
        org.apache.spark.sql.functions.typedlit(stop)))
      .filter(size(col("sh")) > 0)

  /** Per-doc consecutive token bigrams of a token-array frame (doc_id, t).
    */
  private def bigramPairs(filt: DataFrame): DataFrame =
    filt
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("prev"), col("bg.1").as("w"))

  /** The d34 Laplace bigram-LM trained on a quality-survivor frame:
    * (unigram counts, bigram counts, vocabulary size) — the trio
    * [[disfluentIds]] scores against. Pure aggregations of `filt`, so the
    * model is a function of the survivor ROW SET alone: batch x1 and
    * streaming st19 train on the same rows and get the same model.
    */
  private[operators] def fluencyModel(filt: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val uni = filt.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("uc"))
    val big = bigramPairs(filt).groupBy("prev", "w")
      .agg(count(lit(1)).as("bc"))
    (uni, big, uni.agg(count(lit(1)).as("v")))
  }

  /** doc_ids whose mean Laplace bigram probability falls below the
    * [[FluencyFloor]] — d34's statistic verbatim: pr as exact
    * decimal(20,10), exact-decimal sum → double division (the
    * cross-engine-identical value the d34 oracle proved), floor scaled by
    * the vocabulary. Per-doc scoring touches only that doc's own bigrams
    * plus the (global, frozen) model, so the decision decomposes over any
    * partition of the corpus once the model is fixed.
    */
  private[operators] def disfluentIds(prs: DataFrame, uni: DataFrame,
      big: DataFrame, vocab: DataFrame): DataFrame =
    prs
      .join(big, Seq("prev", "w"))
      .join(uni.withColumnRenamed("w", "prev").withColumnRenamed("uc", "pc"),
        Seq("prev"))
      .crossJoin(broadcast(vocab))
      .withColumn("pr",
        ((col("bc") + 1).cast("double") / (col("pc") + col("v")).cast("double"))
          .cast("decimal(20,10)"))
      .groupBy("doc_id", "v")
      .agg((sum(col("pr")).cast("double") / count(lit(1))).as("avg_p"))
      .filter(col("avg_p") * col("v") < lit(FluencyFloor))
      .select("doc_id")

  /** d25's 5-gram expression over a token-array column: all consecutive
    * 5-token windows, empty for docs under 5 tokens.
    */
  private def gram5(t: Column): Column =
    when(size(t) >= 5,
      transform(sequence(lit(1), size(t) - 4),
        i => concat_ws(" ", slice(t, i, lit(5)))))
      .otherwise(array().cast("array<string>"))

  /** Doc-ids per shard of the packing prefix-sum's distributed chunks:
    * shard = doc_id div PackShardW, so a shard holds ≤ PackShardW rows BY
    * CONSTRUCTION (doc_ids are unique) and the shard count grows ∝ corpus.
    */
  private[operators] val PackShardW = 256L

  /** d33/d23's split-stratified 2048-token sequence packing + per-split
    * census over an `assigned` frame carrying (doc_id, source, n, split,
    * h60) — with the running token sum computed as a TWO-PASS DISTRIBUTED
    * PREFIX-SUM instead of one window per (split, source) stratum. The
    * one-window form is bounded by #splits × #sources parallelism, and
    * source counts are O(10) in real corpora — at 10¹⁰ documents the
    * (train, web) stratum would put most of the corpus through ONE sort
    * task (the r14 finding). Here:
    *
    *  1. rows chunk into corpus-proportional SHARDS (`doc_id div
    *     PackShardW` — deterministic, order-preserving: shard asc +
    *     doc_id asc is exactly doc_id asc, so concatenating shard-local
    *     prefix sums in shard order reproduces the stratum prefix sum);
    *  2. each (split, source, shard) computes its LOCAL running sum — no
    *     window partition ever holds more than PackShardW rows;
    *  3. per-shard totals aggregate to one row each; the OFFSET of every
    *     shard (sum of strictly-earlier shard totals in its stratum) is a
    *     window over that TINY aggregate (#strata × #shards rows, itself
    *     1/PackShardW of the corpus — recurse the same construction if
    *     even that outgrows one task);
    *  4. the offset table broadcasts back and cum = local + offset.
    *
    * The arithmetic is identical to the single-window form — same integer
    * cum per row — so the DuckDB oracle's plain `sum(n) OVER (PARTITION BY
    * split, source ORDER BY doc_id)` restates it unchanged.
    */
  private[operators] def packCensus(assigned: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wLoc = W.partitionBy("split", "source", "shard").orderBy("doc_id")
      .rowsBetween(W.unboundedPreceding, 0)
    val wOff = W.partitionBy("split", "source").orderBy("shard")
      .rowsBetween(W.unboundedPreceding, -1)
    val sharded = assigned.withColumn("shard", expr(s"doc_id div $PackShardW"))
    val offsets = sharded.groupBy("split", "source", "shard")
      .agg(sum(col("n")).as("stot"))
      .withColumn("off", coalesce(sum(col("stot")).over(wOff), lit(0L)))
      .select("split", "source", "shard", "off")
    sharded
      .withColumn("lcum", sum(col("n")).over(wLoc))
      .join(broadcast(offsets), Seq("split", "source", "shard"))
      .withColumn("cum", col("lcum") + col("off"))
      .withColumn("bin", expr("(cum - n) div 2048"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n")).as("tot_tokens"),
        countDistinct(concat_ws("|", col("source"), col("bin"))).as("n_bins"),
        expr("bit_xor(h60)").as("census_hash"))
  }

  /** Free the executor blocks behind a localCheckpoint-materialized frame
    * once its consumer has materialized. The ContextCleaner reclaims them
    * only when the driver GCs the RDD object — which a 96 GB-heap JVM may
    * not do for many minutes — and at the x100 slope scale three x1 reps
    * accumulated ~30 GB of DEAD stage blocks, pushing the block manager
    * into eviction + GC thrash (one rep went from ~3 min to 45+ min). The
    * cut frames are per-run scratch by construction, so eager freeing is
    * always safe after the census has been written.
    */
  private[graft] def freeCut(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        try lr.rdd.unpersist(false)
        catch { case scala.util.control.NonFatal(_) => () }
      case _ => ()
    }

  def x1CorpusPipeline(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val cuts = scala.collection.mutable.Buffer.empty[DataFrame]
    val census = x1Census(spark, sfDir, requireFlatOracle, cuts)

    // ---- Stage C: SnapshotLog commit — the manifest the next pipeline run
    // would consume. Fresh state dir per run => deterministic version 1;
    // the output re-READS the committed snapshot, so the gate hash proves
    // the commit round-trip, not just the pre-commit frame. The snapshot
    // location is a TABLE path: address and wipe it through the Hadoop
    // FileSystem of its scheme (HashCensus.drop's rule), never
    // java.io.File — the same code must work against a non-file:
    // warehouse (MockFsSpec drives that).
    val snapDir = new java.io.File(s"target/parity/x1-snap-$sfTag")
      .getAbsoluteFile
    val out = freshCommitAndRead(spark, s"file:$snapDir", census)
    // the commit materialized the census; the checkpointed stage frames
    // are dead scratch from here — free their blocks eagerly (see freeCut)
    cuts.foreach(freeCut)
    out
  }

  /** Wipe-then-commit-then-read of a snapshot TABLE location, all through
    * the Hadoop FileSystem of the path's own scheme — x1's commit stage,
    * factored out so `MockFsSpec` can drive it against a non-`file:`
    * scheme (a java.io wipe would silently no-op there and the stale
    * state would bump the committed version past the deterministic 1).
    */
  private[graft] def freshCommitAndRead(spark: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    MicroBatchJob.wipe(spark, path)
    val v = SnapshotLog.commit(spark, path, df, Seq.empty)
    SnapshotLog.read(spark, path, v)
      .withColumn("snapshot_version", lit(v))
  }

  /** The pipeline through the per-split census (no snapshot commit) — the
    * frame `X1PipelineSpec` plan-pins; [[x1CorpusPipeline]] commits it.
    *
    * Stage materialization is `localCheckpoint`, not `persist`, and that
    * choice is load-bearing (r14 finding): the anti-join cascade references
    * each stage frame 2–4×, so with persist the ANALYZED plan tree doubles
    * per stage — by the census it held hundreds of copies of the scrub
    * expression, and AQE re-stringifies the whole tree for the UI on every
    * stage update (`AdaptiveSparkPlanExec.onUpdatePlan`). Measured at
    * sf0.01: ~70 s of pure driver `Expression.toString` + the GC pressure
    * of gigabytes of plan strings — inflating even unrelated queries in
    * the same JVM. `localCheckpoint` truncates the logical plan to a leaf
    * at each materialization point (the discipline d19's closure loop
    * already uses), collapsing the census plan to shallow joins over four
    * leaves. Same storage level, same rows; blocks are freed by the
    * ContextCleaner when the frames go unreferenced (no CacheManager
    * entries accumulate). On a real cluster the stage outputs of a corpus
    * build are materialized regardless — as tables (st19 does exactly
    * that) — so a lineage cut at each stage boundary is the production
    * shape, not a local-mode trick.
    */
  private[operators] def x1Census(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false,
      cuts: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.Buffer.empty): DataFrame = {
    val surv4 = x1Survivors(spark, sfDir, requireFlatOracle, cuts)

    // ---- Stage P: split assignment (d33's content-keyed buckets) + d23's
    // 2048-token sequence packing + per-split census via the two-pass
    // distributed prefix-sum ([[packCensus]] — no window partition ever
    // holds more than PackShardW rows, regardless of #splits × #sources).
    // The census hash (bit_xor of per-doc h60) pins the exact survivor
    // SET — of REDACTED text.
    val b = pmod(h60(col("text")), lit(100L))
    val assigned = surv4.select(
      col("doc_id"), col("source"), size(col("t")).as("n"),
      when(b < 80, "train").when(b < 90, "valid").otherwise("test").as("split"),
      h60(col("text")).as("h60"))
    packCensus(assigned)
  }

  /** The corpus pipeline's SURVIVOR frame — stages S through D4 (ingest,
    * PII scrub + quality, fluency, exact/LSH/semantic dedup,
    * decontamination), shared by [[x1Census]] (which packs + censuses it)
    * and [[x2BpeTokenizedCorpus]] (which trains a tokenizer on it and
    * tokenizes it — the stage after decontamination in a real
    * pretraining-data path). Columns: (doc_id, text, source, t) with
    * `text` REDACTED and `t` its shared token array.
    */
  private[operators] def x1Survivors(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false,
      cuts: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.Buffer.empty): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")

    // ---- Stage S (S1/S2): hive ingest — land the corpus partitioned by
    // lang (the corpus analogue of the reference's hour partitions), read
    // it back through partition discovery. Downstream consumes the LANDED
    // table, so any ingest loss/corruption surfaces in the final census.
    val landing = new java.io.File(s"target/parity/x1-landing-$sfTag")
      .getAbsoluteFile.toString
    table(spark, sfDir, "documents")
      // range-partition (lang, doc_id): rows co-locate by lang FIRST, so
      // partition dirs get contiguous writers, but the corpus still spreads
      // over the full task width — a plain repartition(lang) collapsed to
      // one file per lang dir and every downstream stage then ran at
      // #langs-way parallelism (measured at x10: the scrub+tokenize
      // materialization alone took ~50 s in 4 tasks, ~5 s spread; the
      // hourly-ingest analogue is many files per partition, one per
      // writing executor — never one)
      .repartitionByRange(32, col("lang"), col("doc_id"))
      .write.mode("overwrite").partitionBy("lang")
      .parquet(s"file:$landing")
    val docs = spark.read.parquet(s"file:$landing")

    // ---- Stages R+F (d24, d27+d14): PII redaction fused with the learned
    // quality score and chargram junk gate over the REDACTED text — see
    // [[scrubbedQualityDocs]]. Downstream sees ONLY the redacted text —
    // every census hash below pins the placement. The surviving frame
    // carries its token array: ONE tokenize for the fluency bigrams, LSH
    // shingles, decontamination 5-grams, and packing token counts alike.
    val filt = scrubbedQualityDocs(docs).localCheckpoint(true)
    cuts += filt

    // ---- Stage F2 (d34): bigram-LM fluency filter — train the Laplace-
    // smoothed bigram model ON the quality survivors (shared token
    // array), score each survivor by its mean bigram probability, and
    // drop the least fluent (avg_p·V < FluencyFloor; bigram-less docs
    // pass — no evidence either way). Counts shuffle tokens, never text.
    val (uni, big, vocab) = fluencyModel(filt)
    val disfluent = disfluentIds(bigramPairs(filt), uni, big, vocab)
    // trained artifact: the stop-shingle set (see [[stopShingles]]) —
    // computed on the SAME quality-survivor frame the fluency model
    // trains on, so st19 can freeze it at corpus start. df counts ONE
    // representative per DISTINCT text: a text verbatim-duplicated across
    // >n/2 docs must not vote its own content shingles into the stop set
    // (exact dedup owns the copies; their near-dup VARIANTS must stay
    // bandable — left uncapped, a majority-duplicated template blinds the
    // LSH stage to every variant of itself)
    val stopKeep = filt.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    // The three expensive independent materializations off `filt` — the
    // fluency-survivor cut (surv0: the bigram⋈model join, the most
    // expensive pre-dedup computation), the one corpus shingling (shFull),
    // and the distinct-text count sizing the stop-set threshold — overlap
    // as concurrent driver jobs (the guide's idle-tail discipline; each is
    // read-only over the checkpointed filt, so order is immaterial and a
    // small core budget degrades to the sequential cost).
    //
    // surv0 materialized because the anti-join cascade below references
    // its survivor set once per stage — un-cut, every cascade consumer
    // re-ran the bigram join (Spark reuses exchanges opportunistically,
    // not whole subplans: measured 11.1× at x10 on the slope gate —
    // superlinear — against ~6× for the stages alone).
    // shFull materialized because the stop-set training and the banding
    // input both read this frame (shingledDocs's discipline, scoped to
    // x1); surv1 ⊆ filt and shingling is row-local, so restricting the
    // filt-wide frame equals shingling surv1 directly.
    val (surv0, shFull, nStopKeep) = Overlap.par3(
      () => filt.join(disfluent, Seq("doc_id"), "left_anti")
        .localCheckpoint(true),
      () => DedupQueries.shingleFrameFrom(
        filt.select(col("doc_id"), col("text"), col("t")))
        .localCheckpoint(true),
      () => stopKeep.count())
    cuts += surv0
    cuts += shFull

    // ---- Stage D1: exact dedup — keep the smallest doc_id per content
    // hash (d1's rule; partial-agg'd, shuffle carries one row per hash).
    val exactKeep = surv0
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val surv1 = surv0.join(exactKeep, Seq("doc_id"), "left_semi")

    // ---- Stage D2: MinHash-LSH near-dup removal (d13's banded pipeline
    // over the SURVIVOR corpus — shingling is row-local, so the subset run
    // equals the full run restricted to surviving pairs; d15's drop-id_b
    // rule). Shingles derive from the shared token array.
    val stop = stopShinglesFrom(
      shFull.join(stopKeep, Seq("doc_id"), "left_semi"), nStopKeep)
    // the CONTENT shingle array (stop set excluded) feeds the band build
    // AND both sides of the verification join
    val shingled = contentShingles(
      shFull.join(surv1.select("doc_id"), Seq("doc_id"), "left_semi"), stop)
      .localCheckpoint(true)
    cuts += shingled
    val lshLosers = DedupQueries.lshVerifiedPairsFrom(shingled)
      .filter(col("jaccard") >= 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    val surv2 = surv1.join(lshLosers, Seq("doc_id"), "left_anti")

    // ---- Stage D3: semantic dedup (d36) — bin survivor embeddings under
    // the corpus-trained memoized codebooks (flat k<=4 / IMI k>4 exactly as
    // d36; the oracle restates the flat chain, so the gate guard mirrors
    // d36's), pair within bins, drop the larger id of every >=0.25-cosine
    // pair. Documents without an embedding pass through.
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val k = VectorQueries.semK(emb.count())
    if (requireFlatOracle) require(k <= 4,
      s"x1 gate fixture outgrew the flat-k oracle: semK=$k > 4; " +
        "regenerate the oracle for the IMI path or shrink the fixture")
    val (books, kSide) = VectorQueries.semBinning(spark, sfDir, 2, k)
    val survEmb = emb.join(surv2.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val nrm = (c: Column) => sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    // materialized: BOTH sides of the within-bin pair join read the
    // assigned frame — un-cut, each side re-runs the whole argmax
    // assignment chain and the plan/codegen doubles for the stage
    val bins = VectorQueries.semAssignBins(survEmb, books, kSide)
      .select(col("vec_id"), col("embedding"), col("bin"),
        nrm(col("embedding")).as("nrm"))
      .localCheckpoint(true)
    cuts += bins
    val dotAB = aggregate(
      zip_with(col("emb_a"), col("emb_b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val semLosers = bins
      .select(col("bin"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      .join(bins.select(col("bin"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), "bin")
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim_dec",
        (dotAB / (col("nrm_a") * col("nrm_b"))).cast("decimal(20,6)"))
      .filter(col("sim_dec") >= 0.25)
      .select(col("id_b").as("doc_id")).distinct()
    val surv3 = surv2.join(semLosers, Seq("doc_id"), "left_anti")

    // ---- Stage D4: decontamination (d25) — 5-gram fingerprints from the
    // shared token array; docs 0 mod 40 are the held-out eval set (removed
    // from the corpus), and any training doc sharing >=3 distinct 5-grams
    // with eval is dropped as contaminated.
    val g5 = gram5(col("t"))
    // materialized: both the eval-side and the probe-side of the leak join
    // read this exploded+distinct frame
    val sh5 = surv3
      .select(col("doc_id"), explode(g5).as("g"))
      .select(col("doc_id"), h60(col("g")).as("h"))
      .distinct()
      .localCheckpoint(true)
    cuts += sh5
    val evalSh = sh5.filter(pmod(col("doc_id"), lit(40L)) === 0)
      .select(col("h")).distinct()
    val contaminated = sh5.filter(pmod(col("doc_id"), lit(40L)) =!= 0)
      .join(broadcast(evalSh), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("leaked"))
      .filter(col("leaked") >= 3)
      .select("doc_id")
    val surv4 = surv3
      .filter(pmod(col("doc_id"), lit(40L)) =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    surv4.select(col("doc_id"), col("text"), col("source"), col("t"))
  }

  /** x2: BPE-TOKENIZED CORPUS — the stage a real pretraining-data path
    * runs between decontamination and packing, composed onto the x1
    * survivor chain (the d39 tokenize-apply discipline, trained on and
    * applied to the CLEANED corpus rather than the raw table): train a
    * `budget`-merge BPE segmentation on the x1 survivors' redacted texts
    * (classic full-window trainer — the measured-optimal dispatch at gate
    * vocabularies, `TextQueries.IncrementalVocabThreshold`), then tokenize
    * every survivor under the trained segmentation and census the pieces
    * per d33 split: piece count, distinct piece vocabulary, summed piece
    * chars. The oracle restates x1's whole survivor chain (verbatim CTE
    * prefix) composed with d38's merge-round chain rebased onto `surv4` —
    * training on survivors is semantically load-bearing (a tokenizer
    * trained pre-cleaning learns merges from boilerplate/PII the corpus
    * no longer contains), so the oracle would catch an engine that trains
    * on the raw table.
    *
    * Scale shape: the survivor chain is x1's (localCheckpoint stage cuts);
    * BPE training cost is the d38 story (classic: per-round full-window
    * pass, job-overhead-bound at gate scale, dispatchable to the
    * incremental trainer past the measured vocab threshold); the apply is
    * one hash-join of corpus words against the trained segmentation
    * (words ⋈ seg, both ∝ vocabulary) followed by a 3-group aggregate.
    */
  def x2BpeTokenizedCorpus(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false, budget: Int = 10): DataFrame = {
    val cuts = scala.collection.mutable.Buffer.empty[DataFrame]
    val surv4 = x1Survivors(spark, sfDir, requireFlatOracle, cuts)
      .localCheckpoint(true)
    cuts.foreach(freeCut)
    val (_, seg, _) =
      TextQueries.bpeTrainClassicFrom(surv4.select(col("text")), budget)
    val b = pmod(h60(col("text")), lit(100L))
    val ctoks = surv4.select(
      when(b < 80, "train").when(b < 90, "valid").otherwise("test")
        .as("split"),
      explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    // surv4/seg are localCheckpointed leaves the result still reads — the
    // caller's action materializes them; blocks free when unreferenced
    // (the d28/d34 rule: never freeCut a frame the returned plan reads)
    ctoks.join(seg, ctoks("w") === seg("w_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_pieces"),
        countDistinct(col("sym")).as("n_distinct_pieces"),
        sum(length(col("sym")).cast("long")).as("sum_piece_chars"))
  }

  /** Pieces per packed sequence for [[x3PackedSequences]] — small enough
    * that the gate corpus yields many sequences per split (discriminative
    * boundary bookkeeping), large enough that most documents pack several
    * to a row; production uses the model's context length (2048/4096/8192)
    * through the same arithmetic.
    */
  private[graft] val X3SeqLen = 128L

  /** x3: SEQUENCE PACKING OF THE TOKENIZED CORPUS — the final stage of a
    * pretraining-data path: x2's BPE pieces, laid out per split as one
    * contiguous piece stream in doc_id order and cut into fixed-length
    * sequences of [[X3SeqLen]] pieces, with DOCUMENT-BOUNDARY bookkeeping
    * (where each document starts and ends in sequence space — the EOD/
    * attention-reset positions a trainer needs). A document's pieces
    * occupy positions [cum−n, cum) of its split's stream, so its start
    * sequence is (cum−n) div L and its end sequence (cum−1) div L; the
    * pack map is exactly that per-doc frame, and the gate output censuses
    * it per split: doc/piece/sequence totals, straddler count (documents
    * crossing a sequence boundary), the summed start/end sequence ids
    * (which pin EVERY document's placement — any off-by-one anywhere in
    * the running sum shifts them), boundary-aligned document ends, and
    * the tail sequence's length (every other sequence holds exactly L
    * pieces by construction, so per-sequence piece counts are pinned by
    * n_seqs + tot_pieces + last_seq_len).
    *
    * The running piece sum is the TWO-PASS DISTRIBUTED PREFIX-SUM of
    * [[packCensus]] (shard-local window + tiny offset aggregate — no
    * window partition ever exceeds [[PackShardW]] rows), because packing
    * is per SPLIT: a plain `sum OVER (PARTITION BY split ORDER BY
    * doc_id)` puts ~80% of a 10¹⁰-document corpus through ONE sort task
    * (the r14 finding, worse here — three strata, not #splits×#sources).
    * The arithmetic is identical, so the DuckDB oracle restates it as the
    * plain window unchanged.
    *
    * Scale shape: per-doc piece counts are one words⋈segmentation
    * broadcast hash-join + a doc-grouped count (pieces never materialize
    * as rows beyond the count); the prefix sum is two bounded windows +
    * one broadcast; the census is a 3-group aggregate. Nothing scales
    * superlinearly in corpus size.
    */
  def x3PackedSequences(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false, budget: Int = 10): DataFrame =
    packSeqCensus(x3Placed(spark, sfDir, requireFlatOracle, budget))

  /** x3's PLACEMENT frame — every surviving document's position in its
    * split's packed piece stream: (split, doc_id, n pieces, cum running
    * total, start_seq, end_seq). Factored out of [[x3PackedSequences]]
    * because this per-doc frame IS the pack map a trainer consumes —
    * [[x4PersistedPackMap]] persists it as the handoff artifact while x3
    * censuses it in-flight.
    */
  private[operators] def x3Placed(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false, budget: Int = 10): DataFrame = {
    val L = X3SeqLen
    val cuts = scala.collection.mutable.Buffer.empty[DataFrame]
    val surv4 = x1Survivors(spark, sfDir, requireFlatOracle, cuts)
      .localCheckpoint(true)
    cuts.foreach(freeCut)
    val (_, seg, _) =
      TextQueries.bpeTrainClassicFrom(surv4.select(col("text")), budget)
    val b = pmod(h60(col("text")), lit(100L))
    val dtoks = surv4.select(col("doc_id"),
      when(b < 80, "train").when(b < 90, "valid").otherwise("test")
        .as("split"),
      explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    // per-doc piece counts under the trained segmentation (docs whose text
    // tokenizes to nothing have no pieces and drop out, both engines)
    val dp = dtoks.join(seg, dtoks("w") === seg("w_id"))
      .groupBy("doc_id", "split").agg(count(lit(1)).as("n"))
    placeDocs(dp)
  }

  /** The packing PLACEMENT core: per-split running piece sum over a
    * (doc_id, split, n) frame via the two-pass distributed prefix sum
    * (packCensus's shards — no window partition ever exceeds
    * [[PackShardW]] rows), then each document's start/end sequence at
    * [[X3SeqLen]] pieces per sequence. Shared by [[x3Placed]] (batch
    * corpus) and the st19 freeze (streaming corpus) so the two packing
    * paths cannot drift.
    */
  private[operators] def placeDocs(dp: DataFrame): DataFrame = {
    val L = X3SeqLen
    val W = org.apache.spark.sql.expressions.Window
    val wLoc = W.partitionBy("split", "shard").orderBy("doc_id")
      .rowsBetween(W.unboundedPreceding, 0)
    val wOff = W.partitionBy("split").orderBy("shard")
      .rowsBetween(W.unboundedPreceding, -1)
    val sharded = dp.withColumn("shard", expr(s"doc_id div $PackShardW"))
    val offsets = sharded.groupBy("split", "shard")
      .agg(sum(col("n")).as("stot"))
      .withColumn("off", coalesce(sum(col("stot")).over(wOff), lit(0L)))
      .select("split", "shard", "off")
    sharded
      .withColumn("lcum", sum(col("n")).over(wLoc))
      .join(broadcast(offsets), Seq("split", "shard"))
      .withColumn("cum", col("lcum") + col("off"))
      .withColumn("start_seq", expr(s"(cum - n) div $L"))
      .withColumn("end_seq", expr(s"(cum - 1) div $L"))
  }

  /** x3's per-split census over a placement frame carrying (split, n, cum,
    * start_seq, end_seq) — shared by x3 (in-flight frame) and x4 (the
    * frame RECONSTRUCTED from the persisted artifact), so the two gates
    * census through identical arithmetic and x3's oracle restates both.
    */
  private[operators] def packSeqCensus(placed: DataFrame): DataFrame = {
    val L = X3SeqLen
    placed.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n")).as("tot_pieces"),
      expr(s"(max(cum) + $L - 1) div $L").as("n_seqs"),
      sum(when(col("end_seq") > col("start_seq"), 1L).otherwise(0L))
        .as("n_straddlers"),
      sum(col("start_seq")).as("sum_start_seq"),
      sum(col("end_seq")).as("sum_end_seq"),
      sum(when(expr(s"cum % $L") === 0, 1L).otherwise(0L))
        .as("n_aligned_ends"),
      expr(s"max(cum) - ((max(cum) + $L - 1) div $L - 1) * $L")
        .as("last_seq_len"))
  }

  /** x4: THE PERSISTED PACK MAP — x3 proves the packing arithmetic but
    * emits only a census; the artifact a TRAINER actually consumes is the
    * pack map itself: for every document, which sequence its pieces start
    * in, at what offset, and how many pieces it contributes — the frame
    * that turns a piece stream into attention-reset boundaries. x4 writes
    * exactly that, one row per surviving document — (doc_id, seq_id =
    * start sequence, start_pos = offset within it, n_pieces) — as a
    * SPLIT-PARTITIONED landing write under DYNAMIC partition overwrite
    * (the S2 discipline: re-running a cut replaces exactly the splits it
    * produces, never the table wholesale, so a re-run is idempotent and a
    * partial corpus refresh touches only its own splits). The gate output
    * censuses the PERSISTED artifact, not the in-flight frame: placement
    * (cum, start_seq, end_seq) is RECONSTRUCTED from the read-back columns
    * alone (cum = seq_id·L + start_pos + n_pieces), so the hash fails if
    * the write dropped a row, mangled a column, or the artifact under-
    * determines the placement. The oracle is x3's SQL verbatim — persisted
    * round-trip ≡ in-flight computation, the x1-snapshot/e32-index rule
    * applied to the trainer handoff.
    *
    * Scale shape: the artifact is one row per document (narrow: 4 ints + a
    * string), written split-partitioned in one pass — the write cost of
    * the pipeline's OUTPUT, not a new compute stage; re-reads prune to the
    * split a trainer asks for. Idempotency and file-level stability are
    * spec-pinned (`X4PackMapSpec`).
    */
  def x4PersistedPackMap(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false, budget: Int = 10): DataFrame = {
    val dir = x4WritePackMap(spark, sfDir, requireFlatOracle, budget)
    packSeqCensus(x4ReadPackMap(spark, dir))
  }

  /** Compute and land x4's pack map; returns the artifact directory. */
  private[operators] def x4WritePackMap(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false, budget: Int = 10): String = {
    val L = X3SeqLen
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val packMap = x3Placed(spark, sfDir, requireFlatOracle, budget)
      .select(col("split"), col("doc_id"),
        col("start_seq").as("seq_id"),
        expr(s"(cum - n) % $L").as("start_pos"),
        col("n").as("n_pieces"))
    val dir = new java.io.File(s"target/parity/x4-packmap-$sfTag")
      .getAbsoluteFile.toString
    // dynamic partition overwrite: only the split partitions THIS cut
    // produces are replaced. Requested per write via the writer option
    // (overrides the session conf) so no session-wide toggle can race a
    // concurrent Overlap chain (the u8 lesson).
    packMap.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("split")
      .parquet(s"file:$dir")
    dir
  }

  /** Read x4's persisted pack map back and RECONSTRUCT the placement frame
    * from the stored columns alone — the proof the artifact fully
    * determines every document's placement.
    */
  private[operators] def x4ReadPackMap(spark: SparkSession,
      dir: String): DataFrame = {
    val L = X3SeqLen
    spark.read.parquet(s"file:$dir")
      .withColumn("n", col("n_pieces"))
      .withColumn("cum",
        col("seq_id") * L + col("start_pos") + col("n_pieces"))
      .withColumn("start_seq", col("seq_id"))
      .withColumn("end_seq", expr(s"(cum - 1) div $L"))
  }

  /** st19: the STREAMING TWIN of [[x1CorpusPipeline]] — the same corpus
    * build run as a micro-batched recurring ingest (the pipeline-scope
    * analogue of the reference's hourly workflow loop,
    * `workflow.yaml:14-95` + `commands.sh:28-80`: each arrival is one
    * batch, each batch commits one snapshot version). The oracle is x1's
    * whole-chain DuckDB restatement, verbatim — streaming must equal batch.
    *
    * DECOMPOSITION — which stage runs where, and why that is exact:
    *
    *  - **Frozen at corpus start** (the trained-artifact discipline st18
    *    set for the semantic codebooks, extended to the d34 fluency LM):
    *    both models are pure aggregates of row-local survivor frames, so
    *    training them once over the full corpus and serving them to every
    *    batch yields bit-identical per-doc decisions to x1's in-chain
    *    training — and is the production shape (a corpus-adaptive model is
    *    only defined at corpus freeze; real pipelines train, freeze, then
    *    apply).
    *  - **Per batch, incremental** — all row-local stages (d24 redaction,
    *    d27+d14 quality/junk, frozen-LM d34 scoring) plus CANDIDATE
    *    DISCOVERY for the two pairwise dedup stages, the part that is
    *    quadratic-shaped and therefore the part worth streaming: LSH
    *    band-bucket collisions (d13) and same-bin membership (d36). Each
    *    batch pairs itself against (touched state ∪ itself) —
    *    batch×state + batch², NEVER state²: prior-prior pairs were
    *    discovered by the batch that completed the pair and are already
    *    in the pair log. State rows are NARROW (ids + pairing keys only;
    *    shingle arrays and embeddings never enter state — carrying them
    *    made every prior read ∝ corpus in heavy bytes, the r15 measured
    *    pathology), partition-keyed (band-hash / bin / gram-hash) with
    *    bucket counts FROZEN AT CORPUS START ∝ expected state size
    *    ([[stateBuckets]], the semK discipline), so a batch opens only
    *    the state files its own keys touch — the manifest path encodes
    *    the key and the touched/carried split is a string match (st18's
    *    discipline) — and the touched-file volume is ∝ the batch's key
    *    count, never ∝ corpus. The opened rows are then further pruned to
    *    the batch's exact key set by a broadcast semi-join (the d37/
    *    HashCensus probe shape), so the pair join's prior side is the
    *    matched keys alone. Decontamination (d25) keeps NO pair state at
    *    all — it is a membership test, not a pairwise relation, and
    *    logging (train, eval) gram matches multiplies every leaked gram
    *    by the eval docs holding it (measured 110M pair rows from a
    *    2.7M-row census at x10); the batch commits only its gram-census
    *    delta. All five state tables are APPEND-ONLY: a batch never
    *    rewrites a prior file, so every commit is (new delta files) +
    *    (full prior manifest carried by reference).
    *  - **At corpus freeze, linear** — exact-dedup min-per-hash,
    *    candidate VERIFICATION (exact Jaccard over shingles recomputed
    *    from the source corpus, exact cosine over the source embeddings —
    *    heavy bytes read once per corpus, ∝ candidates, instead of once
    *    per batch), the decontamination leak census (semi-joins against
    *    the eval-survivor gram set, no products), the anti-join cascade
    *    composing the four dedup stages, d33 split, d23 packing, and the
    *    census: one pass of hash-joins over the final snapshots.
    *    Deferring these is not a shortcut, it is the semantics: each
    *    stage's KILL SET is defined over the previous stage's survivors,
    *    and a doc's survivor status can change as later arrivals land (a
    *    smaller-id exact-twin arriving late re-kills differently), so
    *    flags can only be composed once arrivals stop. The candidate
    *    logs make that composition cheap.
    *
    * EXACTNESS of the restriction: every pairing key (band bucket, IMI/
    * flat bin, 5-gram hash) is a row-local function of one document, so
    * the pair log over ALL fluency survivors, restricted at read time to
    * both endpoints in stage k's survivor set, IS the pair set x1 computes
    * over that stage's survivors — no pair is missed (candidates don't
    * depend on the cohort) and none is added (both-endpoint filter).
    *
    * EXACTLY-ONCE under the micro-batch at-least-once replay: each state
    * table's commit is batchId-keyed (st15's mechanism) — a replayed batch
    * no-ops per table; a crash BETWEEN two tables' commits replays into
    * one no-op and one fresh commit. The one cross-table hazard — the
    * replay re-pairing batch docs against their own already-committed
    * state copies — is closed by construction: self-pairs fail id_a <
    * id_b, and duplicate discoveries of a real pair collapse in the
    * read-time distinct (the pair log is a SET; appends are idempotent
    * under distinct).
    *
    * Output: x1's per-split census columns with `n_commits` (the final
    * state version = number of micro-batches, proving one commit per
    * batch) in place of x1's `snapshot_version`.
    */
  /** Rows-per-bucket target for the partition key of an append-only
    * streaming state table. With buckets frozen at corpus start and scaled
    * to expected state size (below), a bucket holds ~this many rows for
    * the corpus's whole arrival history, so a batch's touched-bucket read
    * costs ≈ batchKeys × TargetStateBucketRows — batch-proportional (the
    * production regime is batchKeys ≪ bucket count: an hourly arrival is
    * a sliver of a year's corpus). The value balances the two real costs:
    * smaller buckets prune reads finer, but every batch COMMIT writes one
    * delta file per touched bucket, so bucket count is also the small-file
    * rate of the state table — 32k rows keeps state files in sane parquet
    * territory while the count still scales ∝ corpus (measured: a 1k
    * target at 10× gate scale put ~1.6k dirs under every gram commit and
    * file-op overhead dominated the whole pipeline).
    */
  private[operators] val TargetStateBucketRows = 32768L

  /** Partition-bucket count for a streaming state table expected to hold
    * ~`expectedRows` entries at corpus freeze — the semK discipline
    * (`VectorQueries.semK`) applied to the LSH/gram state tables: the
    * count is a FUNCTION OF EXPECTED STATE SIZE, frozen at corpus start so
    * every batch's partition values stay mutually consistent, and floored
    * at 16 so tiny corpora don't degenerate to one dir. A fixed constant
    * here (the r14 shape: 16 forever) means any non-trivial batch touches
    * every bucket and each per-batch prior read is ∝ corpus — O(batches ×
    * corpus) total I/O over an arrival history. Scaled, touched buckets ∝
    * the batch's own distinct keys.
    */
  private[operators] def stateBuckets(expectedRows: Long): Int =
    math.max(16, math.ceil(expectedRows.toDouble / TargetStateBucketRows).toInt)

  /** Latest-version manifest of a SnapshotLog state table ([] before the
    * first commit) — the full prior file list a batch carries forward by
    * reference on every append-only commit.
    */
  private[operators] def manifestOf(bs: SparkSession, path: String): Seq[String] =
    SnapshotLog.latestVersion(bs, path)
      .map(v => SnapshotLog.manifest(bs, path, v)).getOrElse(Nil)

  /** The subset of a manifest a batch actually opens: files whose
    * partition-keyed path (`_col=value` level, SnapshotLog's partitionBy
    * layout) matches one of the batch's touched segments. Pure string
    * matching over the manifest — the prune never lists or scans state.
    */
  private[operators] def touchedPrior(mf: Seq[String],
      segs: Set[String]): Seq[String] =
    mf.filter(f => segs.exists(f.contains))

  /** st19's frozen corpus-start fixtures, built idempotently (stamp-
    * guarded against the source table's on-disk state): the 4-way
    * range-split arrival files, the d34 fluency LM trained on the full
    * corpus's quality survivors, and the state-sizing stats (quality-
    * survivor count, distinct 5-gram row count) that freeze the LSH/gram
    * state bucket counts. Returns (splitDir, modelDir). These are
    * trained/derived artifacts that persist across runs in production —
    * the bench warms them alongside the codebook/code-table memos so the
    * timed st19 run measures the recurring pipeline, not the one-time
    * corpus-freeze training (the f8ab85d discipline).
    */
  /** Returns (splitDir, modelDir, alreadyWarm): `alreadyWarm` is true iff
    * BOTH stamp markers were valid on entry — i.e. this call rebuilt
    * nothing. The bench records it so a model-stamp bump (e.g. v3→v4) can
    * never silently bill a fixture retrain to a timed row again (the r15
    * x1 adjudication ask).
    */
  private[graft] def st19FrozenFixtures(spark: SparkSession,
      sfDir: String): (String, String, Boolean) = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")

    // ---- stream fixture: the corpus 4-way range-split by doc_id (st17/
    // st18's arrival shape — each file is one "hourly" delivery),
    // stamp-guarded so regeneration only happens when the source changed
    val splitDir = new java.io.File(s"target/parity/x1s-split-$sfTag")
      .getAbsoluteFile.toString
    val stamp = s"$sfDir|${RelationalQueries.sourceStamp(sfDir, "documents")}"
    val splitValid = docArrivals(spark, sfDir, 4, splitDir, stamp)

    // ---- frozen fluency LM: trained ONCE on the full corpus's quality
    // survivors (exactly x1's stage-F frame — same rows, same aggregates,
    // same model) and persisted as tables; each batch broadcast-joins
    // against them. Stamp-guarded like every trained artifact.
    val modelDir = new java.io.File(s"target/parity/x1s-model-$sfTag")
      .getAbsoluteFile.toString
    // v2: the marker guards the state-sizing stats file too
    // v3: + the frozen stop-shingle set
    // v4: stop df trained on DISTINCT texts (one vote per text)
    val modelValid = StampedArtifact.getOrBuild(modelDir, "._model_ok",
        s"v4|$stamp") {
      val filtFull = scrubbedQualityDocs(
        table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"), col("source")))
        .localCheckpoint(true)
      val (uniF, bigF, _) = fluencyModel(filtFull)
      uniF.write.mode("overwrite").parquet(s"file:$modelDir/uni")
      bigF.write.mode("overwrite").parquet(s"file:$modelDir/big")
      // frozen stop-shingle set (see [[stopShingles]]) — trained on the
      // same survivor frame as the LM (df over distinct texts); batches
      // band CONTENT shingles only
      import spark.implicits._
      stopShingles(filtFull).toSeq.toDF("s")
        .coalesce(1).write.mode("overwrite").parquet(s"file:$modelDir/stop")
      // state-sizing stats, frozen with the model: quality-survivor count
      // (an upper bound on every stage's survivors — the LSH state holds
      // 4 band entries per survivor) and the corpus's distinct 5-gram row
      // count (the gram state's size). Both are one aggregate over the
      // frame the LM training already materialized.
      val nQual = filtFull.count()
      val nGrams = filtFull
        .select(col("doc_id"), explode(gram5(col("t"))).as("g"))
        .select(col("doc_id"), h60(col("g")).as("h")).distinct().count()
      java.nio.file.Files.write(
        new java.io.File(modelDir, "._state_stats").toPath,
        s"$nQual|$nGrams".getBytes("UTF-8"))
      freeCut(filtFull)
    }
    (splitDir, modelDir, splitValid && modelValid)
  }

  /** The frozen state-sizing stats [[st19FrozenFixtures]] persisted:
    * (quality-survivor count, distinct 5-gram row count).
    */
  private[operators] def st19StateStats(modelDir: String): (Long, Long) = {
    val parts = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(modelDir, "._state_stats").toPath), "UTF-8").split('|')
    (parts(0).toLong, parts(1).toLong)
  }

  /** Frozen per-run context for the st19 stream: fixture dirs, trained
    * artifacts as plain rows, scaled state-bucket counts, and the state/
    * checkpoint locations. Built once per run ([[st19Config]]) and shared
    * by [[st19RunStream]], [[st19Freeze]], [[st19MaintainState]] and the
    * cold-restart spec.
    */
  private[operators] case class St19Config(sfDir: String, splitDir: String,
      modelDir: String, vocabV: Long, stopSh: Seq[String],
      bookRows: Seq[Seq[(Int, Seq[Double])]],
      kSide: Int, stateRoot: String, ckptDir: String, pbN: Int, gbN: Int,
      sbN: Int) {
    def docsPath: String = s"file:$stateRoot/docs"
    def lshPath: String = s"file:$stateRoot/lsh"
    def semPath: String = s"file:$stateRoot/sem"
    def gramsPath: String = s"file:$stateRoot/grams"
    def pairsPath: String = s"file:$stateRoot/pairs"
    def statePaths: Seq[String] =
      Seq(docsPath, lshPath, semPath, gramsPath, pairsPath)
  }

  /** Build the frozen st19 context. `stateTag` namespaces the state +
    * checkpoint dirs so a spec-driven run (cold restart, maintenance)
    * never clobbers the gate run's state.
    */
  private[operators] def st19Config(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false, stateTag: String = ""): St19Config = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_") + stateTag
    val (splitDir, modelDir, _) = st19FrozenFixtures(spark, sfDir)
    // frozen state-bucket counts, scaled to expected state size (the semK
    // discipline — see stateBuckets): LSH state holds 4 band entries per
    // survivor, gram state one row per distinct (doc, 5-gram)
    val (nQual, nGrams) = st19StateStats(modelDir)
    // The three independent frozen-artifact loads — the LM vocabulary
    // count, the stop-shingle collect (bounded rows, see [[stopShingles]]),
    // and the semantic-codebook resolve+collect (st18's pattern:
    // memo-trained once, carried to each micro-batch session as plain
    // rows) — overlap as concurrent driver jobs; all are read-only over
    // warm fixtures, and only one thread touches the codebook memo.
    val (vocabV, stopSh, (bookRows, kSide)) = Overlap.par3(
      () => spark.read.parquet(s"file:$modelDir/uni").count(),
      () => spark.read.parquet(s"file:$modelDir/stop")
        .collect().map(_.getString(0)).toSeq.sorted,
      () => {
        val emb = table(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val k = VectorQueries.semK(emb.count())
        if (requireFlatOracle) require(k <= 4,
          s"st19 gate fixture outgrew the flat-k oracle: semK=$k > 4; " +
            "regenerate the oracle for the IMI path or shrink the fixture")
        val (books, kSide) = VectorQueries.semBinning(spark, sfDir, 2, k)
        (books.map(_.collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq), kSide)
      })
    St19Config(sfDir, splitDir, modelDir, vocabV, stopSh, bookRows, kSide,
      new java.io.File(s"target/parity/x1s-state-$sfTag")
        .getAbsoluteFile.toString,
      new java.io.File(s"target/parity/x1s-ckpt-$sfTag")
        .getAbsoluteFile.toString,
      stateBuckets(nQual * 4), stateBuckets(nGrams), stateBuckets(nQual))
  }

  /** The declared schema of st19's document arrivals. */
  private val St19ArrivalSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
  }

  /** st19's document arrivals: the corpus range-split by doc_id into
    * `nFiles` files under `dir` (each file one "hourly" delivery), stamped.
    * Returns true when the split on disk was already valid.
    */
  private def docArrivals(spark: SparkSession, sfDir: String, nFiles: Int,
      dir: String, stamp: String): Boolean =
    MicroBatchJob.splitArrivals(table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source")), "doc_id", nFiles,
      dir, "._split_ok", stamp)

  def st19StreamingCorpusBuild(spark: SparkSession, sfDir: String,
      requireFlatOracle: Boolean = false): DataFrame = {
    val cfg = st19Config(spark, sfDir, requireFlatOracle)
    // per-run state tables + checkpoint
    MicroBatchJob.wipe(spark, s"file:${cfg.stateRoot}", s"file:${cfg.ckptDir}")
    st19RunStream(spark, cfg, cfg.splitDir)
    st19Freeze(spark, cfg)
  }

  /** Per-trigger execution millis of the most recent [[st19RunStream]]
    * call (from the query's own progress events) — lets the bench report
    * how much of st19's wall time is micro-batch WORK vs harness overhead
    * (stream startup, trigger scheduling, awaitTermination latency).
    */
  @volatile private[graft] var lastStreamBatchMillis: Seq[Long] = Nil

  /** Run the micro-batched ingest half of st19 over the CURRENT contents
    * of `arrivalDir`, resuming from `cfg.ckptDir`'s checkpoint when one
    * exists — the recurring half of the pipeline. Safe to call repeatedly
    * (including from a FRESH SparkSession after a crash/restart): the file
    * source's checkpoint skips already-processed arrivals, batchIds
    * continue monotonically, and every state commit is batchId-keyed, so
    * a replayed batch no-ops (the cold-restart spec drives exactly this).
    */
  /** The state root's layout stamp: bucket geometry is frozen INTO the
    * state files' partition paths (`_pb`/`_gb`/`_sb` values), so resuming
    * a checkpointed stream against state built under DIFFERENT bucket
    * counts (or an older partition layout) would silently miss prior
    * rows — the file-level prune probes paths the old layout never wrote,
    * and the row-level semi-join can't recover rows that were never
    * opened. [[st19RunStream]] stamps the state root on first run and
    * fails loudly on any mismatch: a layout change requires a state
    * rebuild, never a silent resume.
    */
  private[operators] def st19LayoutStamp(cfg: St19Config): String =
    // v2: narrow state schemas (lsh without shingle arrays, sem without
    // embeddings/norms) — resuming v1 state would read columns the new
    // layout never wrote
    // v3: band keys computed over CONTENT shingles (stop set excluded) —
    // v2 state's bkeys came from a different signature function. The
    // stamp binds the stop set's CONTENT (not just the schema version):
    // persisted lsh-state bkeys are a function of the frozen stop set, so
    // a retrained model (corpus regenerated → new stop set) must refuse
    // to resume against state banded under the old one — bucket counts
    // alone can collide across retrains (both floor at 16 on small state).
    s"v3|pb=${cfg.pbN}|gb=${cfg.gbN}|sb=${cfg.sbN}|stop=${stopSetHash(cfg.stopSh)}"

  /** Stable 16-hex digest of a frozen stop-shingle set (order-insensitive:
    * the set is persisted and reloaded sorted).
    */
  private[operators] def stopSetHash(stop: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(stop.sorted.mkString("\u0000").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  private[operators] def st19RunStream(spark: SparkSession, cfg: St19Config,
      arrivalDir: String): Unit = {
    val expected = st19LayoutStamp(cfg)
    val stampPath =
      new org.apache.hadoop.fs.Path(s"file:${cfg.stateRoot}/._layout")
    val sfs = stampPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (sfs.exists(stampPath)) {
      val in = sfs.open(stampPath)
      val cur =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(cur == expected,
        s"st19 state at ${cfg.stateRoot} was built under layout '$cur' " +
          s"but this run derives '$expected' — resuming would silently " +
          "miss prior state rows; wipe and rebuild the state")
    } else {
      val out = sfs.create(stampPath, false)
      try out.write(expected.getBytes("UTF-8")) finally out.close()
    }
    val modelDir = cfg.modelDir
    val vocabV = cfg.vocabV
    val stopSh = cfg.stopSh
    val bookRows = cfg.bookRows
    val kSide = cfg.kSide
    val sfDir = cfg.sfDir
    val pbN = cfg.pbN
    val gbN = cfg.gbN
    val sbN = cfg.sbN
    val ckptDir = cfg.ckptDir
    val docsPath = cfg.docsPath
    val lshPath = cfg.lshPath
    val semPath = cfg.semPath
    val gramsPath = cfg.gramsPath
    val pairsPath = cfg.pairsPath

    // per-batch shuffle width: 8 is right at gate scale (micro-batches of
    // a few hundred rows — task overhead dominates), but the per-batch
    // LM-bigram join is a real shuffle at larger corpora and starves at 8
    // (measured: ~30 s/batch at x10 on 32 cores). Scale with the frozen
    // per-batch volume (corpus/4 arrivals), capped at the local core
    // budget; frozen stats keep it deterministic per corpus. (AQE is off
    // on the batch session — MicroBatchJob.run — so this explicit
    // width is the one partitioning the per-batch shuffles get.)
    val shufN = {
      val (nQual, _) = st19StateStats(cfg.modelDir)
      math.max(8, math.min(32, (nQual / 2000L).toInt))
    }
    val q = MicroBatchJob.run(spark, arrivalDir, St19ArrivalSchema, ckptDir,
        shufN) { (bs, batch, batchId) =>
        val key = Some(s"batch-$batchId")

        // row-local scrub + filters, then frozen-LM fluency scoring: the
        // per-batch half of stages R/F/F2 (model frozen => per-doc
        // decisions identical to x1's in-chain training). The batch is
        // one arrival FILE — a single input split, which would run the
        // scrub (the regex-heavy, ~ms/doc stage) on one core; repartition
        // first so it uses the session's full width (measured: 22 s → 2 s
        // per batch at x10 on 32 cores). Round-robin is safe: everything
        // downstream is set-based.
        val bq = scrubbedQualityDocs(
          batch.select(col("doc_id"), col("text"), col("source"))
            .repartition(shufN))
        val uniM = bs.read.parquet(s"file:$modelDir/uni")
        val bigM = bs.read.parquet(s"file:$modelDir/big")
        val vocabM = bs.range(1).select(lit(vocabV).as("v"))
        val disfl = disfluentIds(bigramPairs(bq), uniM, bigM, vocabM)
        val bsurv = bq.join(disfl, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)

        // Sections (a)-(d) below are mutually independent given bsurv —
        // they read the checkpointed survivor frame and commit to FOUR
        // DIFFERENT state tables. Running them as concurrent driver jobs
        // (the guide's overlap-independent-jobs discipline: actions are
        // only sequential because the driver calls them sequentially, and
        // each section's tail tasks leave most cores idle) cuts per-batch
        // wall without changing any commit's content: one keyed commit per
        // table per batch exactly as before, and a crash that lands
        // between/among them replays into per-table no-ops identically
        // whether the commits raced or ran in order. Section (e) consumes
        // (b)/(c)'s pair FRAMES (checkpointed entries + prior state files,
        // never the new commits), so it runs after they return.
        // (a) per-doc scalars — everything the corpus-freeze composition
        // needs (hash, census h60, token count); text never enters state
        val secA = () => {
          val docsDelta = bsurv.select(col("doc_id"), col("source"),
            md5(col("text")).as("text_hash"), h60(col("text")).as("h60"),
            size(col("t")).as("n"))
          SnapshotLog.commit(bs, docsPath, docsDelta, manifestOf(bs, docsPath),
            commitKey = key)
          ()
        }

        // (b) LSH index entries + incremental CANDIDATE discovery: batch
        // bands against the prior state pruned TWICE — touched band-hash
        // partitions at the FILE level (bucket count frozen ∝ corpus, so
        // touched buckets ∝ the batch's own keys), then a broadcast
        // semi-join on the batch's bkey set at the ROW level (the
        // d37/HashCensus probe discipline) so the pair join's prior side
        // holds exactly the matched keys. Exact: a prior row whose bkey no
        // batch row shares cannot complete any (band_idx, bkey) pair, and
        // prior×prior pairs are excluded by construction.
        //
        // State rows are NARROW — (doc_id, band_idx, bkey), three longs.
        // Carrying the shingle ARRAYS here (the pre-r15 shape) made every
        // prior read ∝ corpus in heavy bytes regardless of key pruning
        // (a parquet scan decodes whole column chunks before any join
        // drops rows — measured: the per-batch pair phase grew
        // 6→18→36→61 s over 4 batches at x10). The exact-Jaccard
        // verification that needed them is DEFERRED to corpus freeze
        // ([[st19Freeze]]), where candidate endpoints' shingles are
        // recomputed from the source corpus ONCE — identical pairs, same
        // oracle; heavy bytes are read once per corpus, not once per
        // batch.
        // CONTENT shingles only — the frozen stop set excluded, exactly
        // as x1's stage D2 (a stop-heavy doc generates no band entries)
        val secB = () => {
          val sh = contentShingles(DedupQueries.shingleFrameFrom(
            bsurv.select(col("doc_id"), col("text"), col("t"))), stopSh)
          val entries = DedupQueries.minhashBandsFrom(sh)
            .select(col("doc_id"), posexplode(array(
              col("band0"), col("band1"), col("band2"), col("band3")))
              .as(Seq("band_idx", "bkey")))
            .withColumn("pb",
              pmod(xxhash64(col("bkey")), lit(pbN.toLong)).cast("int"))
            .localCheckpoint(true)
          val lshMf = manifestOf(bs, lshPath)
          val touchedPb = entries.select(col("pb")).distinct()
            .collect().map(_.getInt(0)).toSet
          val lshPriorFiles = touchedPrior(lshMf,
            touchedPb.map(b => s"/_pb=$b/"))
          val lshPrior =
            if (lshPriorFiles.isEmpty) entries.filter(lit(false))
            else bs.read.parquet(lshPriorFiles: _*)
              .select(col("doc_id"), col("band_idx"), col("bkey"),
                col("pb").cast("int").as("pb"))
              .join(broadcast(entries.select("bkey").distinct()),
                Seq("bkey"), "left_semi")
          val uL = lshPrior.withColumn("src", lit(0))
            .unionByName(entries.withColumn("src", lit(1)))
          val lshPairs = uL
            .select(col("band_idx"), col("bkey"), col("doc_id").as("id_a"),
              col("src").as("src_a"))
            .join(uL.select(col("band_idx"), col("bkey"),
              col("doc_id").as("id_b"), col("src").as("src_b")),
              Seq("band_idx", "bkey"))
            .filter(col("id_a") < col("id_b") &&
              (col("src_a") + col("src_b") > 0))
            .select(col("id_a"), col("id_b")).distinct()
            .select(lit("lsh").as("kind"), col("id_a"), col("id_b"))
          SnapshotLog.commit(bs, lshPath, entries, lshMf,
            commitKey = key, partitionBy = Some("pb"))
          (lshPairs, entries)
        }

        // (c) semantic index entries + incremental same-bin cosine pairs
        // (frozen codebooks; st18's touched-bin discipline, append-only).
        // Storage partitioning is DECOUPLED from pairing granularity: bin
        // count is semantically load-bearing (∝ corpus via semK, it bounds
        // Σ|bin|²) and at 100× scale would mean thousands of partition
        // dirs per delta commit — so state dirs key on a BUCKET of bin
        // (`sb`, stateBuckets-scaled like pb/gb), the file prune matches
        // touched sb dirs, and the row-level semi-join on the batch's
        // exact bin set restores bin-precision before the pair join.
        val secC = () => {
          val bemb = bs.read.parquet(s"$sfDir/embeddings.parquet")
            .select(col("vec_id"), col("embedding"))
            .join(bsurv.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi")
          val batchBooks = {
            import bs.implicits._
            bookRows.map(_.toDF("centroid_id", "c"))
          }
          // Narrow here too — (vec_id, bin): embeddings and norms never
          // enter state, the same-bin COSINE verification defers to corpus
          // freeze (candidates join the source embeddings table once; the
          // pre-r15 state carried 64-float vectors per row and re-read them
          // every batch).
          val asg = VectorQueries.semAssignBins(bemb, batchBooks, kSide)
            .select(col("vec_id"), col("bin"))
            .withColumn("sb", pmod(col("bin"), lit(sbN.toLong)).cast("int"))
            .localCheckpoint(true)
          val semMf = manifestOf(bs, semPath)
          val touchedSb = asg.select(col("sb")).distinct()
            .collect().map(_.getInt(0)).toSet
          val semPriorFiles = touchedPrior(semMf,
            touchedSb.map(b => s"/_sb=$b/"))
          val semPrior =
            if (semPriorFiles.isEmpty) asg.drop("sb").filter(lit(false))
            else bs.read.parquet(semPriorFiles: _*)
              .select(col("vec_id"), col("bin").cast("int").as("bin"))
              .join(broadcast(asg.select("bin").distinct()),
                Seq("bin"), "left_semi")
          val uS = semPrior.withColumn("src", lit(0))
            .unionByName(asg.drop("sb").withColumn("src", lit(1)))
          val semPairs = uS
            .select(col("bin"), col("vec_id").as("id_a"),
              col("src").as("src_a"))
            .join(uS.select(col("bin"), col("vec_id").as("id_b"),
              col("src").as("src_b")), "bin")
            .filter(col("id_a") < col("id_b") &&
              (col("src_a") + col("src_b") > 0))
            .select(col("id_a"), col("id_b")).distinct()
            .select(lit("sem").as("kind"), col("id_a"), col("id_b"))
          SnapshotLog.commit(bs, semPath, asg, semMf,
            commitKey = key, partitionBy = Some("sb"))
          (semPairs, asg)
        }

        // (d) 5-gram CENSUS state — one row per distinct (doc, gram-hash)
        // of this batch's survivors, gram-hash-bucketed for maintenance
        // and for the freeze's pruned read. NO per-batch pair discovery
        // here: decontamination is not a pairwise relation but a
        // membership test ("does this train doc share ≥3 distinct grams
        // with the surviving eval set"), so materializing (train, eval)
        // gram MATCH pairs multiplies every leaked gram by |eval docs
        // holding it| — measured 110M pair rows at x10 from a 2.7M-row
        // census, the join-output explosion that dominated both the
        // per-batch pair phase and the freeze. The freeze computes the
        // leak census directly from this state with semi-joins
        // (intermediates ∝ matched gram rows, never products).
        val secD = () => {
          val g = bsurv
            .select(col("doc_id"), explode(gram5(col("t"))).as("g"))
            .select(col("doc_id"), h60(col("g")).as("h"))
            .distinct()
            .withColumn("gb", pmod(col("h"), lit(gbN.toLong)).cast("int"))
            .localCheckpoint(true)
          val gramsMf = manifestOf(bs, gramsPath)
          SnapshotLog.commit(bs, gramsPath, g, gramsMf,
            commitKey = key, partitionBy = Some("gb"))
          g
        }

        // overlap (a)-(d); each runs its own chain of driver actions, the
        // scheduler backfills tail idle; failures rethrow so the stream
        // sees the batch fail exactly as in the sequential shape
        val (_, (lshPairs, entries), (semPairs, asg), g) =
          graft.operators.Overlap.par4(secA, secB, secC, secD)

        // (e) the pair LOG — one append of the batch's LSH/semantic
        // candidates, kind-partitioned so the freeze-time composition
        // prunes to one kind per read
        val pairsDelta = lshPairs.unionByName(semPairs)
        SnapshotLog.commit(bs, pairsPath, pairsDelta, manifestOf(bs, pairsPath),
          commitKey = key, partitionBy = Some("kind"))
        // all five state commits are durable now; the batch's checkpointed
        // scratch frames are dead — free their blocks eagerly so a
        // long-lived stream doesn't accrete dead block-manager entries
        // across micro-batches (x1's freeCut discipline, per batch)
        Seq(bsurv, entries, asg, g).foreach(freeCut)
    }
    lastStreamBatchMillis = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L))
  }

  /** The corpus-freeze half of st19: compose the stage kill-sets (x1's
    * anti-join cascade, each restricted to both-endpoints-surviving) over
    * the FINAL state snapshots, then split/pack/census — all linear
    * hash-joins. Pure function of the committed state, so maintenance
    * (compaction/retention) and cold restarts are proven invisible by
    * re-freezing and comparing the census.
    */
  private[operators] def st19Freeze(spark: SparkSession,
      cfg: St19Config, checkTorn: Boolean = true,
      phaseTimer: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    val docsPath = cfg.docsPath
    val pairsPath = cfg.pairsPath
    val vDocs = SnapshotLog.latestVersion(spark, docsPath)
      .getOrElse(sys.error("st19: no docs state committed"))
    val vPairs = SnapshotLog.latestVersion(spark, pairsPath)
      .getOrElse(sys.error("st19: no pair state committed"))
    val vGrams = SnapshotLog.latestVersion(spark, cfg.gramsPath)
      .getOrElse(sys.error("st19: no gram state committed"))
    // the lockstep check holds while only the stream commits (one keyed
    // commit per table per batch); maintenance legitimately de-locksteps
    // versions (compaction bumps, retention drops), so its re-freeze
    // passes checkTorn = false
    if (checkTorn) require(vDocs == vPairs && vDocs == vGrams,
      s"st19: torn state — docs v$vDocs vs pairs v$vPairs vs grams v$vGrams")
    val docsS = SnapshotLog.read(spark, docsPath, vDocs)
    val pairManifest = SnapshotLog.manifest(spark, pairsPath, vPairs)
    val pairsS =
      if (pairManifest.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("kind",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("id_a",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("id_b",
              org.apache.spark.sql.types.LongType))))
      else spark.read.parquet(pairManifest: _*)

    def bothIn(pairs: DataFrame, surv: DataFrame): DataFrame =
      pairs
        .join(surv.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
        .join(surv.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")

    // Stage frames are lineage-CUT (x1's localCheckpoint discipline): the
    // shingle recompute feeds TWO join branches and every survivor frame
    // feeds the next stage AND a candidate filter — uncut, each consumer
    // re-runs the whole upstream cascade (measured: an uncut freeze
    // re-paid the corpus scrub per branch, 245 s vs ~40 s at x10). All
    // cut frames are freed before the tiny census frame returns.
    val cuts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // Each cut is an EAGER materialization (localCheckpoint(true)), so the
    // cut points are the freeze's phase boundaries — the optional
    // phaseTimer sees (label, wall seconds) per phase, the instrument
    // behind the x100 freeze-decade decomposition (phases are 5-60 s,
    // short enough to certify individually on a host whose healthy
    // windows are thinner than the whole freeze).
    def cutL(label: String, df: DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val c = df.localCheckpoint(true); cuts += c
      phaseTimer(label, (System.nanoTime() - t0) / 1e9)
      c
    }

    val exactKeep = docsS
      .groupBy("text_hash").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val surv1 = cutL("exact_dedup",
      docsS.join(exactKeep, Seq("doc_id"), "left_semi"))

    // The pair log holds band-collision CANDIDATES (the per-batch state is
    // narrow — see st19RunStream (b)); the exact-Jaccard verification runs
    // HERE, once per corpus: candidate endpoints' shingles are recomputed
    // from the source corpus through the same scrub+tokenize+shingle chain
    // the batches ran (all deterministic functions of the text, so the
    // arrays are identical) and only candidate pairs pay the array
    // intersect/union. Heavy bytes: one corpus scan at freeze, ∝ corpus —
    // not ∝ batches × corpus as when state carried the arrays.
    val lshCand = cutL("lsh_candidates",
      bothIn(pairsS.filter(col("kind") === "lsh"), surv1)
      .select("id_a", "id_b").distinct())
    val candEnds = lshCand.select(col("id_a").as("doc_id"))
      .unionByName(lshCand.select(col("id_b").as("doc_id"))).distinct()
    val candSh = cutL("candidate_shingles", contentShingles(DedupQueries.shingleFrameFrom(
      scrubbedQualityDocs(
        table(spark, cfg.sfDir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
          .join(candEnds, Seq("doc_id"), "left_semi")
          // the source table can be a handful of input splits — spread
          // the regex-heavy scrub across the session's full width
          .repartition(spark.sessionState.conf.numShufflePartitions))
        .select(col("doc_id"), col("text"), col("t"))), cfg.stopSh))
    val lshLosers = lshCand
      .join(candSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
        "id_a")
      .join(candSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .withColumn("jaccard",
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
          .cast("decimal(10,6)").cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    val surv2 = cutL("lsh_verify",
      surv1.join(lshLosers, Seq("doc_id"), "left_anti"))

    // Same deferral for the semantic stage: candidates are same-bin pairs
    // (bins from the frozen codebooks); the cosine verify joins the SOURCE
    // embeddings table once — vectors never lived in state. The fetch is
    // semi-restricted to candidate ENDPOINTS before norms are computed and
    // then cut, so the table is scanned once and norm'd only for the ids
    // the verify will touch (the candSh discipline).
    val semCand = cutL("sem_candidates",
      bothIn(pairsS.filter(col("kind") === "sem"), surv2)
      .select("id_a", "id_b").distinct())
    val semEnds = semCand.select(col("id_a").as("vec_id"))
      .unionByName(semCand.select(col("id_b").as("vec_id"))).distinct()
    val nrmE = (c: Column) => sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val candEmb = cutL("candidate_embeddings",
      table(spark, cfg.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .join(semEnds, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding"),
        nrmE(col("embedding")).as("nrm")))
    val dotAB = aggregate(
      zip_with(col("emb_a"), col("emb_b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val semLosers = semCand
      .join(candEmb.select(col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a")), "id_a")
      .join(candEmb.select(col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), "id_b")
      .withColumn("sim_dec",
        (dotAB / (col("nrm_a") * col("nrm_b"))).cast("decimal(20,6)"))
      .filter(col("sim_dec") >= 0.25)
      .select(col("id_b").as("doc_id")).distinct()
    val surv3 = cutL("sem_verify",
      surv2.join(semLosers, Seq("doc_id"), "left_anti"))
    // Decontamination from the gram CENSUS state, not a pair log: leaked
    // gram hashes = eval-survivor grams (a distinct SET), each surviving
    // train doc counts its distinct grams in that set. Plan shape matters
    // more here than anywhere else in the freeze — the census is the
    // LARGEST state table, and the r19 phase instrument measured two wrong
    // shapes before this one: (1) cutting the survivor-restricted census
    // (localCheckpoint of corpus × grams/doc rows) cost 101.8 s of a 226 s
    // x100 freeze, 60× across the x10→x100 decade while every other phase
    // stayed ≤ 7.8×; (2) uncut branch-local scans re-executed the whole
    // decon once per packCensus consumer AND sort-merge-shuffled the full
    // census against the stats-less survivor frame — 302 s. The shape that
    // scales: the probe scan filters by the BROADCAST eval set FIRST (the
    // selective predicate — shuffle carries only LEAKED gram instances,
    // never the census), survivor semi-joins apply to the already-small
    // leaked/eval sides, and the resulting per-doc leak counts — a tiny
    // frame — are the only thing cut, so downstream multi-consumers replay
    // nothing. (At corpora where the eval gram set outgrows a broadcast,
    // the same plan runs with the h-equi-join shuffled — cost ∝ census,
    // once, with no materialization; the broadcast is the gate-scale
    // fast path, not a correctness dependency.)
    val gramsRaw = spark.read
      .parquet(SnapshotLog.manifest(spark, cfg.gramsPath, vGrams): _*)
      .select(col("doc_id"), col("h"))
    val surv3Ids = surv3.select("doc_id")
    val evalH = gramsRaw.filter(pmod(col("doc_id"), lit(40L)) === 0)
      .join(surv3Ids, Seq("doc_id"), "left_semi")
      .select("h").distinct()
    val contaminated = cutL("decon_leak_counts",
      gramsRaw.filter(pmod(col("doc_id"), lit(40L)) =!= 0)
        .join(broadcast(evalH), Seq("h"), "left_semi")
        .join(surv3Ids, Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("leaked"))
        .filter(col("leaked") >= 3)
        .select("doc_id"))
    val surv4 = surv3
      .filter(pmod(col("doc_id"), lit(40L)) =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")

    // x3's SEQUENCE-CUT bookkeeping over the frozen corpus — the freeze
    // hands a trainer sequence boundaries, not just token totals, so the
    // streaming build's output is trainer-ready like the batch path's
    // (x3 ≡ this, pinned by the shared oracle CTEs). State is NARROW by
    // design (no text), so the survivor text re-derives from the source
    // corpus through the same deterministic scrub chain the batches ran —
    // one linear corpus scan, the freeze's contract class ("at corpus
    // freeze, linear"); the BPE tokenizer trains on exactly that frozen
    // survivor corpus (x2's discipline: the tokenizer is a corpus-freeze
    // artifact), and placement is placeDocs' sharded prefix sum.
    val surv4Ids = surv4.select("doc_id")
    // The two post-surv4 chains are independent until the final join —
    // (A) the x3-shape sequence bookkeeping (survivor-text rescan + BPE
    // train + placement census, a long sequential chain of driver
    // actions) and (B) the per-split doc/char census over surv4 — so they
    // overlap as concurrent driver jobs (the guide's idle-tail discipline,
    // r21's "not yet optimized" item 2). Thread notes: only chain (A)
    // appends to `cuts` / calls phaseTimer, chain (B) touches neither, and
    // both are read-only over the checkpointed stage frames with no
    // session-conf toggles (the ConcurrentMutationSpec discipline).
    val (x3c, censusBase) = Overlap.par2(
      () => {
        val survText = cutL("pack_survivor_text",
          scrubbedQualityDocs(
            table(spark, cfg.sfDir, "documents")
              .select(col("doc_id"), col("text"), col("source"))
              .join(surv4Ids, Seq("doc_id"), "left_semi")
              .repartition(spark.sessionState.conf.numShufflePartitions))
            .select(col("doc_id"), col("text")))
        val (_, seg, _) =
          TextQueries.bpeTrainClassicFrom(survText.select(col("text")), 10)
        val segC = cutL("bpe_train_seg", seg)
        val bT = pmod(h60(col("text")), lit(100L))
        val dtoks = survText.select(col("doc_id"),
          when(bT < 80, "train").when(bT < 90, "valid").otherwise("test")
            .as("split"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)
        val dp = dtoks.join(segC, dtoks("w") === segC("w_id"))
          .groupBy("doc_id", "split").agg(count(lit(1)).as("n"))
        packSeqCensus(placeDocs(dp))
          .withColumnRenamed("n_docs", "n_packed_docs")
          .localCheckpoint(true)
      },
      () => {
        val b = pmod(col("h60"), lit(100L))
        packCensus(surv4.withColumn("split",
            when(b < 80, "train").when(b < 90, "valid").otherwise("test")))
          .withColumn("n_commits", lit(vDocs))
          .localCheckpoint(true)
      })
    // materialize the (tiny) joined census eagerly so every cut frame
    // above can be freed before returning — callers get a 3-row
    // checkpointed frame, not a plan over freed blocks
    val tC = System.nanoTime()
    val census = censusBase
      .join(x3c, Seq("split"))
      .localCheckpoint(true)
    phaseTimer("decon_pack_census", (System.nanoTime() - tC) / 1e9)
    freeCut(x3c); freeCut(censusBase)
    cuts.foreach(freeCut)
    census
  }

  /** State-table MAINTENANCE for a recurring st19 stream (the missing
    * month-scale story: each batch appends one commit + small delta files
    * per state table, so a year of hourly arrivals accretes thousands of
    * manifest versions and tiny files without bound). Applies the e23
    * discipline — per-partition compaction, where only over-threshold
    * partitions rewrite and untouched buckets keep their files' physical
    * identity — and the c4 discipline — version retention past a horizon,
    * with the orphan vacuum reclaiming the small files only the dropped
    * versions referenced — to all five state paths. Invisible to the
    * pipeline by construction: the head version's ROW SET is unchanged,
    * so a re-freeze produces the identical census (spec-pinned).
    */
  private[operators] def st19MaintainState(spark: SparkSession,
      cfg: St19Config, keepVersions: Int = 1,
      maxFilesPerPartition: Int = 1,
      reclaimOlderThanMillis: Long = 60 * 60 * 1000L): Unit = {
    val partCols: Map[String, Option[String]] = Map(
      cfg.docsPath -> None, cfg.lshPath -> Some("pb"),
      cfg.semPath -> Some("sb"), cfg.gramsPath -> Some("gb"),
      cfg.pairsPath -> Some("kind"))
    cfg.statePaths.foreach { p =>
      SnapshotLog.compact(spark, p, partCols(p), maxFilesPerPartition)
      // retention only drops manifests whose commit keys survive in a
      // kept manifest (SnapshotLog's guard) — so even when compact()
      // no-ops above, a keyed batch manifest can never be retained away
      // without its replay key being carried forward first
      SnapshotLog.retainVersions(spark, p, keepVersions,
        reclaimOlderThanMillis)
    }
  }

  /** st19's ingest half from scratch over an `nBatches`-way equal arrival
    * split of the corpus (stamped fixture), in the `-flat<nBatches>` state
    * namespace. Returns that namespace's config.
    */
  private def st19FlatStream(spark: SparkSession, sfDir: String,
      nBatches: Int): St19Config = {
    val cfg = st19Config(spark, sfDir, stateTag = s"-flat$nBatches")
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val dir = new java.io.File(s"target/parity/x1s-split$nBatches-$sfTag")
      .getAbsoluteFile.toString
    docArrivals(spark, sfDir, nBatches, dir,
      s"$sfDir|$nBatches|${RelationalQueries.sourceStamp(sfDir, "documents")}")
    MicroBatchJob.wipe(spark, s"file:${cfg.stateRoot}", s"file:${cfg.ckptDir}")
    st19RunStream(spark, cfg, dir)
    cfg
  }

  /** st19 PER-BATCH FLATNESS instrument (ScaleSlope's harness): run the
    * ingest half alone over an `nBatches`-way equal-size range split of
    * `sfDir`'s documents in a fresh state namespace, and return per-batch
    * wall seconds from the stream's own progress events. With state reads
    * batch-proportional (touched-bucket prune + key-set semi-join), equal-
    * size batches must cost ~flat seconds regardless of how much state has
    * accreted — a rising trend over a LONG arrival history is exactly the
    * hidden O(state)-per-batch term the r15 4-batch gate run could not
    * distinguish from host noise. The fixture is stamp-guarded; state and
    * checkpoint are wiped per call (the measurement is the replay itself).
    */
  /** Run st19's ingest half over an `nBatches`-way equal arrival split of
    * the corpus and return (per-batch trigger seconds, freeze seconds) —
    * the instrument behind the ScaleSlope flatness sections: equal batches
    * whose per-batch cost does not TREND as state accretes are the
    * batch-proportional-state-reads claim measured, and the separately
    * timed corpus-freeze pass (the linear hash-join composition) completes
    * the decomposition of a full st19 run's wall time into
    * fixtures (stamp-warmed, untimed) + Σ batches + freeze.
    */
  private[graft] def st19BatchFlatness(spark: SparkSession, sfDir: String,
      nBatches: Int): (Seq[Double], Double) = {
    val cfg = st19FlatStream(spark, sfDir, nBatches)
    val t0 = System.nanoTime()
    st19Freeze(spark, cfg).write.format("noop").mode("overwrite").save()
    val freezeSec = (System.nanoTime() - t0) / 1e9
    (lastStreamBatchMillis.map(_ / 1000.0), freezeSec)
  }

  /** The freeze-certification split of [[st19BatchFlatness]]: build the
    * post-stream state UNTIMED (the stream half's decade is already
    * adjudicated on canary-cancelling windows; a dirty host during the
    * build is harmless), so a caller can then time [[st19FreezeOnly]]
    * alone inside an insisted-healthy window — the r18 gap was exactly
    * that the freeze's 417 s x100 sample shared its window with the
    * stream and a 0.55→1.29 canary swing.
    */
  private[graft] def st19BuildFlatState(spark: SparkSession, sfDir: String,
      nBatches: Int): Unit = {
    val cfg = st19FlatStream(spark, sfDir, nBatches)
    // A production long-arrival deployment runs [[st19MaintainState]] on a
    // cadence (St19RestartMaintenanceSpec proves it leaves the census
    // unchanged); the certification state gets one post-build pass so the
    // timed freeze reads a MAINTAINED log — without it the 8-batch x100
    // build accretes ~218k tiny state files (gb-buckets × writers ×
    // batches) and the freeze's census scans measure file-open syscalls,
    // not the operator (r19 phase instrument: 207 s of decon at x100,
    // ~100 s per census scan). Zero reclaim horizon is safe: this thread
    // is the table's only writer.
    st19MaintainState(spark, cfg, keepVersions = 1,
      maxFilesPerPartition = 1, reclaimOlderThanMillis = 0L)
  }

  /** Time st19's freeze pass alone over state a prior
    * [[st19BuildFlatState]] call left behind (same stateTag namespace).
    * One rep = one full freeze composition (exact/LSH/semantic dedup +
    * decontamination + pack census over the accreted state tables).
    */
  private[graft] def st19FreezeOnly(spark: SparkSession, sfDir: String,
      nBatches: Int): Double = {
    val cfg = st19Config(spark, sfDir, stateTag = s"-flat$nBatches")
    require(SnapshotLog.latestVersion(spark, cfg.docsPath).nonEmpty,
      "st19FreezeOnly: no state — run st19BuildFlatState first")
    val t0 = System.nanoTime()
    // checkTorn=false: the build's post-stream maintenance legitimately
    // de-locksteps the state tables' version numbers (the re-freeze rule)
    st19Freeze(spark, cfg, checkTorn = false)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** [[st19FreezeOnly]] with per-phase wall seconds: each phase is one
    * eager cut of the freeze composition (5-60 s even at x100), so on a
    * host whose healthy windows are thinner than the whole freeze the
    * DECOMPOSITION is still certifiable phase by phase — the `onPhase`
    * callback runs between phases (e.g. a canary probe) and the returned
    * labels carry which phases a flap landed on.
    */
  private[graft] def st19FreezePhases(spark: SparkSession, sfDir: String,
      nBatches: Int,
      onPhase: (String, Double) => Unit): Unit = {
    val cfg = st19Config(spark, sfDir, stateTag = s"-flat$nBatches")
    require(SnapshotLog.latestVersion(spark, cfg.docsPath).nonEmpty,
      "st19FreezePhases: no state — run st19BuildFlatState first")
    st19Freeze(spark, cfg, checkTorn = false, phaseTimer = onPhase)
      .write.format("noop").mode("overwrite").save()
  }
}
