package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for LLM training-data pipelines
  * over the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All of these are pure column expressions over codegen'd built-ins — no
  * UDFs — so they stay inside whole-stage codegen and scale linearly: at
  * 100 TB each is a single scan with only the final (tiny) aggregate or the
  * dedup groupBy shuffling, and the dedup shuffle keys on a 128-bit hash,
  * not the document body (bytes shuffled ≈ 40 B/doc, not the text).
  */
object TextQueries {

  import RelationalQueries.table

  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** d1: exact deduplication — group on md5(text) (shuffles the 32-char hash,
    * never the document body), keep the lowest doc_id as the canonical
    * representative. The survivors list of an exact-dedup pass.
    */
  def d1DedupExact(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** d2: per-document text statistics — token count, character classes,
    * punctuation/whitespace ratios, average token length. The feature vector
    * behind quality filtering.
    */
  def d2TextStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.cclass
    val t = table(spark, sfDir, "documents")
    t.select(
      col("doc_id"),
      length(col("text")).as("len"),
      size(tokens(col("text"))).as("n_tokens"),
      // single-pass bitmap counts; == length(regexp_replace(text,'[^..]',''))
      cclass(col("text"), "count", ".!?,;:").as("punct_cnt"),
      cclass(col("text"), "count", "aeiou").as("vowel_cnt"),
      (length(col("text")).cast("double") / size(tokens(col("text"))))
        .as("chars_per_token"))
  }

  /** d3: heuristic quality score — length band, stopword presence, token
    * shape; documents scoring 0 are the junk-filter rejects.
    */
  def d3QualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val t = table(spark, sfDir, "documents")
    val nTok = size(tokens(col("text")))
    val theCnt = size(regexp_extract_all(col("text"), lit("\\bthe\\b"), lit(0)))
    t.select(
      col("doc_id"),
      (when(col("n_chars").between(50, 10000), 1).otherwise(0) +
        when(nTok >= 10, 1).otherwise(0) +
        when(theCnt > 0, 1).otherwise(0)).as("quality_score"),
      theCnt.as("stop_the_cnt"))
  }

  /** d4: stopword-profile language scoring — per-language marker-word hit
    * counts (the n-gram-free core of fasttext-style langid); the argmax with
    * a fixed tie order picks the language. Markers chosen from the synthetic
    * corpus vocabulary; real deployments swap in real stopword lists.
    */
  def d4LangScore(spark: SparkSession, sfDir: String): DataFrame = {
    def hits(pat: String) =
      size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
    val en = hits("\\b(the|and|of)\\b")
    val fn = hits("\\b(fast|slow|small)\\b")
    val dt = hits("\\b(data|table|row)\\b")
    table(spark, sfDir, "documents").select(
      col("doc_id"), col("lang"),
      en.as("score_stop"), fn.as("score_adj"), dt.as("score_data"),
      when(en >= fn && en >= dt, "stopword")
        .when(fn >= dt, "adjective").otherwise("dataword").as("profile"))
  }

  /** d5: order-insensitive document fingerprint — md5 over the sorted token
    * bag. Near-dup detection for word-reordered copies; the cheap SQL-exact
    * sibling of MinHash (which needs a custom Aggregator — see SURVEY §2.2
    * UDAF note).
    */
  def d5Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents").select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(tokens(col("text"))))).as("bow_fingerprint"))

  /** d14: char-trigram language ID — occurrence counts of per-language
    * character-trigram profiles (the n-gram core of fasttext-style langid;
    * d4 is the word-level sibling). Occurrences are counted with literal
    * `replace` length deltas — no regex, stays in whole-stage codegen, and
    * both engines share non-overlapping left-to-right replace semantics so
    * the counts are oracle-exact. Single scan, zero shuffle.
    */
  def d14LangIdChargram(spark: SparkSession, sfDir: String): DataFrame = {
    val low = lower(col("text"))
    def occ(pat: String): Column =
      ((length(low) - length(replace(low, lit(pat), lit("")))) / lit(pat.length))
        .cast("long")
    def profile(pats: Seq[String]): Column =
      pats.map(occ).reduce(_ + _)
    val en = profile(Seq("the", "and", "ing"))
    val dt = profile(Seq("dat", "tab", "row"))
    val aj = profile(Seq("fas", "slo", "sma"))
    table(spark, sfDir, "documents").select(
      col("doc_id"), col("lang"),
      en.as("tri_en"), dt.as("tri_data"), aj.as("tri_adj"),
      when(en >= dt && en >= aj, "english")
        .when(dt >= aj, "dataish").otherwise("adjish").as("tri_profile"))
  }

  /** d16: character-entropy quality score — Shannon entropy of the per-doc
    * character distribution (low entropy = repetitive/junk text, a standard
    * pretraining quality filter). Each p·log2(p) term rounds through
    * DECIMAL(20,6) before the exact decimal sum, so the engines' (≤ ulp)
    * transcendental differences can't reach the result. One explode + two
    * aggregations, all map-side combinable.
    */
  def d16CharEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val cc = table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    cc.withColumn("n", sum(col("c")).over(w).cast("double"))
      .withColumn("term",
        ((col("c") / col("n")) * log2(col("c") / col("n")))
          .cast("decimal(20,6)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("distinct_chars"),
        (-sum(col("term"))).cast("double").as("char_entropy"))
  }

  /** d17: shingling as a custom GENERATOR (`graft_shingles`, the UDTF
    * extension surface) — streams (pos, shingle) rows without materializing
    * the per-document shingle array the column form builds. First three
    * shingles per document, proving emission order, dedup-keeping-first,
    * and the short-document fallback.
    */
  def d17ShingleUdtf(spark: SparkSession, sfDir: String): DataFrame = {
    table(spark, sfDir, "documents").createOrReplaceTempView("d17_docs")
    spark.sql(
      """SELECT doc_id, s.pos, s.shingle
        |FROM d17_docs
        |LATERAL VIEW graft_shingles(text) s AS pos, shingle
        |WHERE s.pos < 3""".stripMargin)
  }

  /** d18: deterministic hash sampling — content-keyed systematic sampling
    * (`h60(text) mod 100 < rate`), the reproducible corpus subsampling
    * every training pipeline needs: re-runs, engines, and partitionings all
    * select the same documents, unlike `TABLESAMPLE`/`rand()`. Reported as
    * per-source totals at two rates (stratification = the same predicate
    * under a groupBy).
    */
  def d18HashSample(spark: SparkSession, sfDir: String): DataFrame = {
    val b = pmod(graft.functions.GraftFunctions.h60(col("text")), lit(100L))
    table(spark, sfDir, "documents")
      .select(col("source"), b.as("b"))
      .groupBy("source")
      .agg(count(lit(1)).as("total"),
        sum(when(col("b") < 5, 1L).otherwise(0L)).as("sampled_5pct"),
        sum(when(col("b") < 20, 1L).otherwise(0L)).as("sampled_20pct"))
  }

  /** d33: DETERMINISTIC three-way corpus split — every document lands in
    * exactly one of train/valid/test (80/10/10) by the range its 60-bit
    * content hash falls in: the split a training run must be able to
    * reproduce byte-identically across reruns, engines, partitionings, and
    * corpus growth (a new document never moves an old one between splits —
    * assignment depends only on the document's own bytes, d18's systematic-
    * sampling property extended to a partition of the corpus). Per
    * source × split: count plus an id checksum, so the oracle fails if even
    * one document lands differently.
    *
    * Scale shape: one row-local codegen'd hash per document, then a
    * partial-agg'd count — no shuffle carries anything but
    * (source, split, partial aggregates).
    */
  def d33SplitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val b = pmod(graft.functions.GraftFunctions.h60(col("text")), lit(100L))
    table(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        when(b < 80, "train").when(b < 90, "valid").otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"))
  }

  /** d6: token-frequency corpus profile — the word-count of training-data
    * engineering: explode to tokens, count, keep the head. Shuffle carries
    * (token, partial count) pairs thanks to map-side partial aggregation.
    */
  def d6TokenFreq(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 10)

  /** d21: repetition-based quality filter — the Gopher/C4-style "repetitive
    * document" signals: distinct-token ratio and the fraction of all word
    * bigrams taken by the single most frequent bigram, composed with fixed
    * thresholds (5 ≤ tokens, distinct ratio ≥ 0.3, top-bigram fraction ≤
    * 0.2) into a keep verdict the oracle reproduces exactly (ratios round
    * through decimal before comparison).
    *
    * Everything is ROW-LOCAL array math — a document's repetition profile
    * never needs other documents, so there is no explode and no shuffle:
    * the top-bigram multiplicity is `array_max` over per-distinct-bigram
    * occurrence counts within the row's own array (≤ (n−1)² comparisons on
    * ≤100-token docs). Two staging projections keep the tokenize and the
    * bigram build out of lambda bodies — a lambda re-evaluates its outer
    * references per ELEMENT, and `InferFiltersFromGenerate` re-inlines
    * generated-array expressions below any staging Project, which is why
    * the explode-and-count formulation of this query ran the O(tokens²)
    * tokenize once per row per filter (measured 17 s → ~1 s at sf0.1).
    */
  def d21Repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("t"); val bg = col("bg")
    // guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark
    val bigrams = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
      .otherwise(array().cast("array<string>"))
    val topFrac = when(size(bg) > 0,
      (array_max(transform(array_distinct(bg),
        g => size(filter(bg, x => x === g)))).cast("double") / size(bg))
        .cast("decimal(10,6)"))
      .otherwise(lit(0).cast("decimal(10,6)"))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        size(t).cast("long").as("n_tokens"),
        (size(array_distinct(t)).cast("double") / size(t))
          .cast("decimal(10,6)").as("distinct_ratio_dec"),
        bigrams.as("bg"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_ratio_dec"),
        topFrac.as("top_bigram_frac_dec"))
      .select(col("doc_id"), col("n_tokens"),
        col("distinct_ratio_dec").cast("double").as("distinct_ratio"),
        col("top_bigram_frac_dec").cast("double").as("top_bigram_frac"),
        (col("n_tokens") >= 5 && col("distinct_ratio_dec") >= 0.3 &&
          col("top_bigram_frac_dec") <= 0.2).as("keep"))
  }

  /** d22: segment-level corpus deduplication (the CCNet/RefinedWeb paragraph
    * dedup, at fixed 10-token segment granularity since the synthetic corpus
    * has no paragraph breaks) — each document is cut into non-overlapping
    * 10-token windows, every window instance is hashed, and an instance is a
    * duplicate when its hash occurs ≥ 2 times corpus-wide. Reported per
    * document: segment count, duplicated-segment count, duplication ratio.
    *
    * Scale shape: tokens are staged as a real column (one tokenize per row),
    * the segment build is row-local array math, and the only shuffles carry
    * (60-bit hash) keys — first the global occurrence count (map-side
    * partial agg), then the hash-keyed join back and the doc_id re-agg.
    * Document bodies never shuffle; this is the same bytes-per-row budget
    * as d1/d13 and survives a 100-TB corpus.
    */
  def d22SegmentDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.h60
    val t = col("t")
    val segs = transform(
      sequence(lit(0), ceil(size(t).cast("double") / 10.0).cast("int") - 1),
      g => concat_ws(" ", slice(t, g * 10 + 1, lit(10))))
    val inst = table(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(segs).as("seg"))
      .select(col("doc_id"), h60(col("seg")).as("h"))
    val counts = inst.groupBy("h").agg(count(lit(1)).as("c"))
    inst.join(counts, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_segments"))
      .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
        (col("n_dup_segments").cast("double") / col("n_segments"))
          .cast("decimal(10,6)").cast("double").as("dup_ratio"))
  }

  /** d23: sequence packing — the pre-tokenization step that packs documents
    * into fixed token-budget bins (2048 here) for training-batch assembly.
    * Deterministic contiguous packing: within each source stratum, documents
    * are laid out in doc_id order and a document starts the bin its
    * exclusive prefix-sum of token counts falls into (documents may straddle
    * a boundary — the contiguous-layout convention, where the tokenizer
    * splits at the boundary). Reported per (source, bin): document count,
    * token total, id range, and fill ratio.
    *
    * Scale shape: the prefix sum is a window per SOURCE stratum, not a
    * global sort — strata are the parallel unit exactly like the per-shard
    * packing of a real pipeline (swap `source` for the file/partition id at
    * 100 TB and no single task ever sees more than a shard). The window
    * input is (source, doc_id, n) — 24 bytes/row, not the text.
    */
  def d23Packing(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n"))
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("bin", expr("(cum - n) div 2048"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("tot_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ratio",
        (col("tot_tokens").cast("double") / lit(2048.0))
          .cast("decimal(10,6)").cast("double"))
  }

  /** d24: PII detection + redaction — the scrub pass every training corpus
    * runs before the tokenizer: regex families for emails, phone numbers and
    * IPv4 addresses are counted and masked with typed placeholders. The
    * synthetic corpus carries no PII, so each document is deterministically
    * salted with one of each kind (derived from `doc_id`, identically on
    * both engines) and the redactor has real work to do; swap the salt for
    * the raw text in production.
    *
    * The patterns stay in the RE2 ∩ java.util.regex common subset (char
    * classes, bounded counts — no backrefs or lookaround) so Spark and the
    * oracle agree byte-for-byte. Row-local scan, zero shuffle; regexes are
    * the accepted cost of a scrub pass (three anchored-literal families,
    * not catastrophic-backtracking candidates).
    */
  /** d32: CROSS-SOURCE overlap matrix — for every source pair, how many
    * distinct 5-gram shingles they share: the corpus-provenance analytic
    * that tells a curation pipeline WHERE its duplication lives (mirror
    * sites, syndication, scraped re-posts) and therefore which cross-source
    * dedup passes are worth their cost. Same shingle→60-bit-hash reduction
    * as decontamination (d25), aggregated source-pairwise instead of
    * train-vs-eval.
    *
    * Scale shape: the distinct (source, hash) projection is one
    * partial-agg'd scan (only 60-bit hashes shuffle); the pair join is a
    * hash-equality join on the shingle hash whose output is bounded by
    * shared hashes × co-occurring source pairs — never documents², and no
    * text moves after the first scan.
    */
  def d32SourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.h60
    val t = col("t")
    val grams = when(size(t) >= 5,
      transform(sequence(lit(1), size(t) - 4),
        i => concat_ws(" ", slice(t, i, lit(5)))))
      .otherwise(array().cast("array<string>"))
    val srcHash = table(spark, sfDir, "documents")
      .select(col("source"), tokens(col("text")).as("t"))
      .select(col("source"), explode(grams).as("g"))
      .select(col("source"), h60(col("g")).as("h"))
      .distinct()
    srcHash.as("a")
      .join(srcHash.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_shingles"))
  }

  /** d30: CANONICALIZATION dedup — exact dedup (d1) is defeated by
    * formatting noise (case, punctuation, whitespace), the most common
    * near-dup class in scraped corpora; the standard counter is hashing a
    * canonical form instead: lowercase, strip non-alphanumerics, collapse
    * whitespace runs, trim. Per source: how many documents, how many
    * distinct canonical forms, and the gap = duplicates that exact
    * content-hashing misses but canonical hashing catches.
    *
    * Scale shape: canonicalization is a row-local codegen'd expression
    * chain; only the 128-bit canonical hash shuffles for the distinct
    * count (d1's discipline — bodies never move).
    */
  def d30CanonicalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""), "\\s+", " "))
    table(spark, sfDir, "documents")
      .select(col("source"), md5(canon).as("h"), md5(col("text")).as("raw_h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("n_exact_forms"),
        countDistinct(col("h")).as("n_canon_forms"))
      .withColumn("n_caught_by_canon",
        col("n_exact_forms") - col("n_canon_forms"))
  }

  /** d37: INCREMENTAL CORPUS DEDUP AGAINST A PRIOR SNAPSHOT — the
    * cross-cut hygiene op every recurring training-data pipeline runs:
    * when a new batch of documents arrives, drop the ones already in the
    * corpus (by d30's canonical hash) and commit only the survivors as a
    * new snapshot that carries the prior cut's files BY REFERENCE
    * ([[graft.sources.SnapshotLog]] — so "the corpus as of v2" is prior ∪
    * kept-new, reproducible forever, and the commit's write cost is
    * ∝ the kept batch, never the corpus). Batch-internal duplicates keep
    * their smallest doc_id. Output per source: v2 census + how many new
    * docs were kept vs dropped — which hash-pins the canonicalization,
    * the anti-join, the within-batch keep rule, and the snapshot
    * carry-forward at once.
    *
    * Scale shape: the dedup is one anti-join of the BATCH against the
    * prior cut's HASH CENSUS ([[graft.sources.HashCensus]] — the bucketed
    * side table maintained per commit), so the probe reads one narrow
    * pre-bucketed column and shuffles only the batch; the prior cut's
    * DATA files are never re-scanned ([[D37CensusSpec]] pins that at the
    * plan level). The within-batch winner is a partial-agg'd min, and the
    * snapshot read back is manifest-pruned to exactly v2's files.
    */
  /** (doc_id, source, h): the corpus under d30's canonical hash — the
    * frame d37 splits into prior cut and incoming batch. Package-visible
    * so [[D37CensusSpec]] can rebuild the exact probe plan.
    */
  private[operators] def d37CanonDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val canon = md5(trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""), "\\s+", " ")))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), canon.as("h"))
  }

  /** The census table name d37 maintains for `sfDir`. */
  private[operators] def d37CensusName(sfDir: String): String =
    "incdedup_census_" + sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replace(".", "_")

  def d37IncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.{HashCensus, SnapshotLog}
    val docs = d37CanonDocs(spark, sfDir)
    val prior = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)

    val dir = new java.io.File(s"target/parity/incdedup-" +
      sfDir.replaceAll("[^A-Za-z0-9.]+", "_")).getAbsoluteFile
    MicroBatchJob.wipe(spark, s"file:$dir")
    val census = d37CensusName(sfDir)
    HashCensus.drop(spark, census) // fresh run: snapshot dir was wiped too
    val path = s"file:$dir"
    val v1 = SnapshotLog.commit(spark, path, prior, Nil)
    // census bootstrap from the v1 CUT (not the source table): the prior
    // cut is whatever v1 says it is — the reproducibility contract. This
    // one-time cost ∝ prior; every later batch pays ∝ census, and its
    // maintenance ∝ kept rows.
    HashCensus.append(spark, census,
      SnapshotLog.read(spark, path, v1).select("h").distinct())
    val kept = batch.join(HashCensus.probe(spark, census), Seq("h"), "left_anti")
      .groupBy("h").agg(min(struct(col("doc_id"), col("source"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.source").as("source"), col("h"))
    val v2 = SnapshotLog.commit(spark, path, kept,
      SnapshotLog.manifest(spark, path, v1))
    // per-commit census maintenance: the kept batch's hashes are disjoint
    // from the census by construction (they survived the anti-join), so
    // append-only keeps the census the exact distinct hash set of v2
    HashCensus.append(spark, census, kept.select("h"))

    val nBatch = batch.groupBy("source").agg(count(lit(1)).as("n_batch"))
    SnapshotLog.read(spark, path, v2)
      .withColumn("is_new", pmod(col("doc_id"), lit(5)) === 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_v2"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new_kept"))
      .join(nBatch, "source")
      .select(col("source"), col("n_docs_v2"), col("n_new_kept"),
        (col("n_batch") - col("n_new_kept")).as("n_new_dropped"))
  }

  def d24PiiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+1-555-[0-9]{4}"
    val ip = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val salted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      lit(" call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), salted.as("raw"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(email), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(phone), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("raw"), lit(ip), lit(0))).as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), phone, "<PHONE>"),
            email, "<EMAIL>"),
          ip, "<IP>").as("redacted"))
  }

  /** d25: benchmark decontamination — flag training documents sharing any
    * 5-token shingle with a held-out eval set (the n-gram-overlap test-set
    * leak check run before every pretraining job; eval membership here is
    * `doc_id % 40 = 0` standing in for the benchmark corpus). Reported per
    * contaminated train doc: distinct leaked shingles and distinct eval
    * docs hit.
    *
    * Scale shape: both sides reduce to DISTINCT (doc, shingle-hash) pairs
    * before the join, so the shuffle carries 60-bit keys — never text — and
    * the eval side of a real run (a few thousand benchmark docs) broadcasts.
    * The contaminated-pair set is bounded by eval size × band width, the
    * same bounded-candidate argument as d13.
    */
  def d25Decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.h60
    val t = col("t")
    val grams = when(size(t) >= 5,
      transform(sequence(lit(1), size(t) - 4),
        i => concat_ws(" ", slice(t, i, lit(5)))))
      .otherwise(array().cast("array<string>"))
    val shingled = table(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), h60(col("g")).as("h"))
      .distinct()
    val eval_ = shingled.filter(col("doc_id") % 40 === 0)
      .select(col("doc_id").as("eval_id"), col("h"))
    val train = shingled.filter(col("doc_id") % 40 =!= 0)
    train.join(broadcast(eval_), "h")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("leaked_shingles"),
        countDistinct(col("eval_id")).as("eval_docs_hit"))
  }

  /** d26: domain temperature-resampling — the multilingual/multi-source
    * mixture rebalance (alpha = 0.5 sampling): each source keeps documents
    * at a rate ∝ sqrt(smallest-source share), flattening the domain
    * distribution without upsampling. The keep decision reuses d18's
    * content-keyed h60 systematic sampler, so the selected subset is
    * reproducible across runs, engines, and partitionings.
    *
    * Determinism of the rate itself: `floor(100·sqrt(min_cnt/cnt))` uses
    * only IEEE-exact ops (divide, sqrt, multiply are correctly rounded;
    * inputs are exact integers), so both engines compute the identical
    * integer threshold. Per-source counts are one tiny partial-agg pass
    * broadcast back; the sampling scan is shuffle-free.
    */
  def d26DomainMix(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.h60
    val docs = table(spark, sfDir, "documents")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("total"))
    val minCnt = counts.agg(min(col("total")).as("min_total"))
    val rated = counts.crossJoin(broadcast(minCnt))
      .select(col("source"), col("total"),
        floor(lit(100.0) *
          sqrt(col("min_total").cast("double") / col("total").cast("double")))
          .cast("int").as("keep_pct"))
    docs.select(col("source"),
        pmod(h60(col("text")), lit(100L)).as("b"))
      .join(broadcast(rated), "source")
      .groupBy("source", "total", "keep_pct")
      .agg(sum(when(col("b") < col("keep_pct"), 1L).otherwise(0L)).as("kept"))
      .select(col("source"), col("total"), col("keep_pct"), col("kept"))
  }

  /** d27: quality-classifier inference — the learned half of quality
    * filtering (d3 is the heuristic half): a logistic-regression scorer over
    * d2's feature vector with frozen weights, evaluated as one codegen'd
    * column expression per row. The margin (logit) is reported rather than
    * the sigmoid so the oracle comparison is pure IEEE arithmetic — each
    * weight·feature product and the left-to-right sum are correctly-rounded
    * doubles over exact integer features, hence bit-identical across
    * engines; `exp` carries no such guarantee. Classifier inference at
    * 100 TB is exactly this shape: a broadcast-free, shuffle-free scan.
    */
  def d27QualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.cclass
    val t = table(spark, sfDir, "documents")
    val nTok = size(tokens(col("text")))
    t.select(col("doc_id"),
        length(col("text")).as("len"), nTok.as("n_tokens"),
        cclass(col("text"), "count", ".!?,;:").as("punct_cnt"),
        cclass(col("text"), "count", "aeiou").as("vowel_cnt"))
      .select(col("doc_id"),
        (lit(-2.0) + lit(0.004) * col("len") - lit(0.05) * col("n_tokens") +
          lit(0.02) * col("vowel_cnt") - lit(0.8) * col("punct_cnt"))
          .as("logit"))
      .select(col("doc_id"), col("logit"), (col("logit") > 0.0).as("keep"))
  }

  /** d28: TF-IDF keyword extraction — top-3 terms per document by
    * tf·ln(N/df), the classic corpus-statistics scorer (keyword tagging,
    * topic hints, retrieval features for a training corpus).
    *
    * Scale shape: explode → (doc, term) partial-agg'd count (the shuffle
    * carries tokens + counts, never document bodies), document frequencies
    * are a second partial-agg'd count over DISTINCT (doc, term) rows — tf's
    * output, no re-scan — and the corpus size joins in as a broadcast
    * 1-row aggregate (no driver collect). The final per-doc top-k windows
    * on doc_id (high cardinality). Scores round through DECIMAL(20,6)
    * before ranking so sub-ulp `ln` differences between engines cannot
    * reorder; ties break on the term itself.
    */
  /** d35: CROSS-DOCUMENT SEGMENT DEDUP REWRITE — the C4 recipe's removal
    * half (d22 measures corpus-wide segment duplication; this REMOVES it):
    * every 10-token segment that occurs anywhere else in the corpus is
    * dropped from all but its first occurrence — first = smallest
    * (doc_id, position), a total order, so the rewrite is deterministic —
    * and each document's text is rebuilt from its surviving segments in
    * position order. Returned per doc: total/kept segment counts and the
    * md5 of the rebuilt text, which pins the reconstruction (segment
    * selection AND ordering) through the oracle hash, not just the counts.
    *
    * Scale shape: one explode scan (the shuffle carries segments+positions,
    * bodies never move as wholes), winner selection is a partial-agg'd
    * `min(struct(doc_id, pos))` per segment — no window over the corpus —
    * and the rebuild groups by doc_id (high cardinality). Boilerplate-heavy
    * segments (the skew risk: a footer shared by 10^6 docs) cost one
    * min-struct aggregation row each, not a join explosion, because the
    * winner join carries only (segment, winner) back to instances.
    */
  def d35SegmentRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("t")
    val segs = transform(
      sequence(lit(0), ceil(size(t).cast("double") / 10.0).cast("int") - 1),
      g => concat_ws(" ", slice(t, g * 10 + 1, lit(10))))
    val inst = table(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(segs).as(Seq("g", "seg")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winners = inst.groupBy("seg")
      .agg(min(struct(col("doc_id"), col("g"))).as("w"))
    val kept = inst.join(winners, "seg")
      .filter(col("doc_id") === col("w.doc_id") && col("g") === col("w.g"))
    val totals = inst.groupBy("doc_id").agg(count(lit(1)).as("n_segments"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("g"), col("seg")))).as("ks"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(size(col("ks")), lit(0)).cast("long").as("n_kept"),
        md5(concat_ws(" ",
          transform(coalesce(col("ks"),
            array().cast("array<struct<g:int,seg:string>>")),
            x => x.getField("seg")))).as("text_md5"))
  }

  /** d34: BIGRAM-LM FLUENCY SCORING — the language-model quality filter of
    * a pretraining pipeline (the CCNet/Gopher recipe: score each document
    * by how predictable its text is under a corpus-trained n-gram model;
    * gibberish, boilerplate and wrong-language text score low). Model:
    * add-one-smoothed bigram conditional P(w|prev) = (B(prev,w)+1) /
    * (U(prev)+V) with B/U/V trained on the corpus itself; a document's
    * score is the arithmetic mean of its bigram probabilities.
    *
    * Determinism discipline (the d27/d28 rule): every probability is one
    * IEEE division of two exact integers — correctly rounded, hence
    * bit-identical across engines — then rounded through DECIMAL(20,10);
    * the per-doc sum of decimals is exact, and the final mean is again one
    * exact-over-exact double division. No `ln`/`exp` anywhere (the
    * arithmetic-mean score ranks fluency the same direction as perplexity
    * without transcendental functions the oracle cannot reproduce
    * bit-exactly).
    *
    * Scale shape: training is two partial-agg'd explode scans (unigram and
    * bigram counts — the shuffle carries tokens+counts, never text);
    * scoring joins the per-doc bigram stream with the count tables on
    * their natural keys (equi-joins, AQE-splittable if a stop-bigram
    * skews), and the vocabulary size rides in as a broadcast 1-row
    * aggregate. The bigram stream persists so training and scoring share
    * one tokenize/explode pass (the d28 lesson). Nothing is ever
    * collected; the model IS a DataFrame.
    */
  def d34BigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val toksDf = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    // (prev, w) pairs per doc: zip t[0..n-2] with t[1..n-1]; docs with <2
    // tokens have no bigrams and drop out (mirrored in the oracle)
    val pairs = toksDf
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("prev"), col("bg.1").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("uc"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = pairs.groupBy("prev", "w").agg(count(lit(1)).as("bc"))
    pairs
      .join(big, Seq("prev", "w"))
      .join(uni.withColumnRenamed("w", "prev").withColumnRenamed("uc", "pc"),
        Seq("prev"))
      .crossJoin(broadcast(vocab))
      .withColumn("pr",
        ((col("bc") + 1).cast("double") / (col("pc") + col("v")).cast("double"))
          .cast("decimal(20,10)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("pr")).cast("double") / count(lit(1))).as("avg_p"))
  }

  def d28Tfidf(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    // tf feeds BOTH the join and dfreq below; without a persist the
    // tokenize/explode/partial-agg lineage — the query's dominant cost —
    // executes twice. The cached frame is (doc_id, term, count), far smaller
    // than the corpus (no bodies), and spills to disk if memory is tight.
    // Lifetime: the returned plan still references this frame, so it cannot
    // unpersist here — the gate mains (Bench/Verify) clearCache after each
    // query's action, which is what bounds residue across the 151-query run
    // (same for d34's pairs and d35's inst).
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_dec").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_dec",
        (col("tf") * log(col("n_docs").cast("double") / col("df")))
          .cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        col("score_dec").cast("double").as("tfidf"))
  }

  /** d38: BPE-MERGE TRAINING — the canonical missing text-analysis op for
    * an LLM pipeline (d10 counted "BPE-ish" token classes; this trains
    * ACTUAL merges): start from each distinct word as its character
    * sequence, then `budget` rounds of (1) count adjacent symbol pairs
    * frequency-weighted by word count, (2) pick the top pair (count desc,
    * then pair lexicographic — fully deterministic), (3) re-segment every
    * word by GREEDY leftmost non-overlapping application of the merge.
    * Output: the merge trajectory — per step, the merged pair, its count,
    * and the post-merge corpus census (freq-weighted token count + symbol
    * vocabulary size), which hash-pins the pair statistics, the argmax
    * tie-break, and the greedy re-segmentation at every round at once.
    *
    * Greedy leftmost application is the subtle half and it is RELATIONAL,
    * not a fold: for a ≠ b every match (sym=a, next=b) is provably
    * non-overlapping, and for a = b (a run of the same symbol) greedy
    * pairing takes the even offsets within each maximal run — computed
    * with the gaps-and-islands trick (pos − row_number per (word, sym)
    * identifies runs). The DuckDB oracle restates the identical windowed
    * formulation round by round, so both engines walk the same merge
    * sequence or the hash check fails.
    *
    * Scale shape: after the one corpus-wide token count, EVERY round works
    * on the distinct-word vocabulary (Zipf-bounded, orders below corpus
    * size) — BPE training cost is ∝ vocabulary, not corpus, which is why
    * real tokenizers train on word counts. Rounds iterate as d19-rule
    * driver loops (localCheckpoint truncates lineage; the per-round driver
    * collect is ONE argmax row + one stats row, bounded). Windows
    * partition by word — high cardinality, no skew.
    */
  def d38BpeMerges(spark: SparkSession, sfDir: String,
      budget: Int = 10): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, sfDir, budget)._1
      .toDF("step", "a", "b", "cnt", "n_tokens", "n_vocab")
  }

  /** The d38 trainer, returning the merge trajectory, the FINAL per-word
    * segmentation frame (w_id, freq, pos, sym) — d39 tokenizes the corpus
    * with it — and the per-round AFFECTED-WORD counts (the incremental-
    * maintenance contract `D38IncrementalSpec` pins).
    *
    * INCREMENTAL DESIGN (round 11 trained over the full vocabulary every
    * round; a 32k-merge budget made that ~64k full-vocab window passes):
    * after ONE corpus-wide window builds the per-word adjacent-pair index,
    * every round touches only the words that CONTAIN the merged pair —
    *   - the argmax reads DRIVER-HELD pair totals (the same kind of
    *     aggregate statistic the old trainer collected once per round as
    *     its argmax row, held across rounds) — zero Spark jobs to pick a
    *     merge; the maps are bounded by the distinct-pair / symbol
    *     vocabulary, never corpus rows;
    *   - the greedy-leftmost rewrite (identical gaps-and-islands windows)
    *     runs over the affected words ONLY;
    *   - pair totals, the per-symbol row counts (distinct-vocab census),
    *     the weighted token count, and the affected-word count all update
    *     from ONE small tagged delta collect per round (the affected
    *     words' old contributions subtracted, their new ones added);
    *   - the full `seg`/index frames are refreshed by a broadcast
    *     anti-join + union (narrow — no shuffle or sort ever touches the
    *     unaffected vocabulary again).
    * Per-round cost is therefore ∝ words-containing-the-pair (Zipf head
    * early, tail fast), not ∝ vocabulary: four bounded Spark jobs
    * (affected ids, rewrite, new-pair index, delta collect) plus two
    * narrow frame refreshes.
    */
  /** Vocabulary size above which [[bpeTrainIncremental]] pays off. The
    * r14 ScaleSlope crossover section MEASURED the two paths on
    * vocabulary-scaled corpora (budget 50, min-over-rounds stats in
    * `target/scaleslope.json` `d38_crossover`) and the classic path won
    * at EVERY measured point — vocab 3.1k: 51 vs 332 s; 9.6k: 31 vs 61 s;
    * 49.6k: 38 vs 119 s; 116k: 47 vs 306 s. Two reasons, both visible in
    * the data: (a) classic's per-round cost at these sizes is
    * job-overhead-bound, nearly FLAT in vocabulary (30-51 s across a 37×
    * vocab range — the full-segmentation window is still a handful of
    * tasks at 116k words), while incremental runs more jobs per round;
    * (b) the hash-remapped fixtures are pair-homogeneous — every replica
    * word contains the same hot pairs, so affected-words ≈ 4% of vocab
    * EVERY round (`aff_counts` barely decay) and the "touch only affected
    * words" saving cannot materialize. Incremental wins only where both
    * reverse: vocabulary large enough that a full window dwarfs a few
    * bounded jobs (≥ millions of word types) AND Zipfian pair
    * concentration so aff collapses after the head rounds — real-corpus
    * BPE at production vocab budgets, not any corpus this gate can
    * generate. The threshold is set past the measured range accordingly;
    * the spec (`D38IncrementalSpec`) keeps both paths pinned identical so
    * dispatch is a pure cost choice.
    */
  private[graft] val IncrementalVocabThreshold = 1000000L

  private[graft] def bpeTrain(spark: SparkSession, sfDir: String, budget: Int,
      forceIncremental: Option[Boolean] = None)
      : (Seq[(Int, String, String, Long, Long, Long)],
         org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val nWords = table(spark, sfDir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0).select("w").distinct().count()
    if (forceIncremental.getOrElse(nWords >= IncrementalVocabThreshold))
      bpeTrainIncremental(spark, sfDir, budget)
    else bpeTrainClassic(spark, sfDir, budget)
  }

  /** The classic trainer: one full-vocabulary window pass per round —
    * optimal below [[IncrementalVocabThreshold]] where the whole
    * segmentation frame is a few tasks. Returns no affected counts (every
    * round touches every word by construction).
    */
  private def bpeTrainClassic(spark: SparkSession, sfDir: String, budget: Int)
      : (Seq[(Int, String, String, Long, Long, Long)],
         org.apache.spark.sql.DataFrame, Seq[Long]) =
    bpeTrainClassicFrom(
      table(spark, sfDir, "documents").select(col("text")), budget)

  /** [[bpeTrainClassic]] over an arbitrary corpus frame (one `text`
    * column) instead of the sfDir documents table — x2 trains its
    * tokenizer on the CLEANED survivor corpus through this entry; the
    * sfDir path above is the d38/d39 raw-table case.
    */
  private[operators] def bpeTrainClassicFrom(
      docs: org.apache.spark.sql.DataFrame, budget: Int)
      : (Seq[(Int, String, String, Long, Long, Long)],
         org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val W = org.apache.spark.sql.expressions.Window
    val wWin = W.partitionBy("w_id").orderBy("pos")
    val words = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    var seg = words
      .select(col("w").as("w_id"), col("freq"),
        posexplode(split(col("w"), "")).as(Seq("pos0", "sym")))
      .select(col("w_id"), col("freq"), (col("pos0") + 1).as("pos"), col("sym"))
      .localCheckpoint(true)
    // ONE windowed pass per round yields every per-round statistic at once:
    // each seg row contributes exactly one (sym, next-or-null) group, so
    // over the grouped totals the best merge is the argmax of the non-null
    // groups, the freq-weighted token count is Σ cnt over ALL groups, and
    // the symbol vocabulary is the distinct `a` values. The historical
    // shape ran three full passes per round (argmax limit-1, rewrite,
    // stats aggregate) — at gate scale each action costs more in driver
    // plan/codegen time than in execution (measured: 88 jobs summing
    // 2.4 s inside a 6 s wall), so collapsing argmax+stats into the one
    // pair pass removes a third of the passes AND a third of the per-round
    // plan/compile work. The collect is bounded by the DISTINCT-PAIR
    // vocabulary (never corpus rows) — the same driver-held-pair-totals
    // discipline [[bpeTrainIncremental]] already pins; above
    // [[IncrementalVocabThreshold]] dispatch leaves this path entirely.
    def pairTotals(s: org.apache.spark.sql.DataFrame)
        : Array[org.apache.spark.sql.Row] =
      s.withColumn("nxt", lead(col("sym"), 1).over(wWin))
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .collect()
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long, Long)]()
    var step = 1
    var exhausted = false
    var pt = pairTotals(seg)
    while (step <= budget && !exhausted) {
      // a word fully reduced to one token contributes only a null-next
      // group: a small vocabulary can run out of adjacent pairs before the
      // merge budget — stop training cleanly. Argmax order matches the
      // historical orderBy(cnt desc, a asc, b asc) exactly: Spark string
      // sort is UTF-8 binary collation, which [[utf8Compare]] mirrors.
      val cand = pt.filter(!_.isNullAt(1))
      if (cand.isEmpty) exhausted = true
      else {
      val best = cand.reduceLeft { (x, y) =>
        val c = java.lang.Long.compare(y.getLong(2), x.getLong(2))
        val ca = if (c != 0) c else utf8Compare(x.getString(0), y.getString(0))
        val cb = if (ca != 0) ca else utf8Compare(x.getString(1), y.getString(1))
        if (c > 0 || (c == 0 && (ca > 0 || (ca == 0 && cb > 0)))) y else x
      }
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      val marked = seg
        .withColumn("nxt", lead(col("sym"), 1).over(wWin))
        .withColumn("grp", col("pos") - row_number().over(
          W.partitionBy("w_id", "sym").orderBy("pos")))
        .withColumn("mtch",
          col("sym") === a && col("nxt").isNotNull && col("nxt") === b)
        .withColumn("runoff", row_number().over(
          W.partitionBy("w_id", "sym", "grp").orderBy("pos")) - 1)
        .withColumn("active",
          col("mtch") && (lit(a != b) || pmod(col("runoff"), lit(2)) === 0))
        .withColumn("pactive", lag(col("active"), 1).over(wWin))
      seg = marked.filter(!coalesce(col("pactive"), lit(false)))
        .select(col("w_id"), col("freq"),
          row_number().over(wWin).as("pos"),
          when(col("active"), lit(a + b)).otherwise(col("sym")).as("sym"))
        .localCheckpoint(true)
      pt = pairTotals(seg)
      // post-merge census from the same totals: exact integer sums, so the
      // values are identical to the aggregate they replace
      val nt = pt.iterator.map(_.getLong(2)).sum
      val nv = pt.iterator.map(_.getString(0)).toSet.size.toLong
      out += ((step, a, b, cnt, nt, nv))
      step += 1
      }
    }
    (out.toSeq, seg, Seq.empty)
  }

  /** Unsigned lexicographic compare of two strings' UTF-8 encodings — the
    * binary collation Spark and DuckDB sort strings by. Agrees with
    * `String.compareTo` on BMP-only text; differs (correctly) when
    * supplementary characters meet BMP chars above U+E000.
    */
  private[operators] def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private def bpeTrainIncremental(spark: SparkSession, sfDir: String, budget: Int)
      : (Seq[(Int, String, String, Long, Long, Long)],
         org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val W = org.apache.spark.sql.expressions.Window
    val wWin = W.partitionBy("w_id").orderBy("pos")
    val words = table(spark, sfDir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val seg0 = words
      .select(col("w").as("w_id"), col("freq"),
        posexplode(split(col("w"), "")).as(Seq("pos0", "sym")))
      .select(col("w_id"), col("freq"), (col("pos0") + 1).as("pos"), col("sym"))
    // per-word adjacent-pair index (w_id, freq, a, b, n): the ONE
    // corpus-wide window; delta-maintained from here on
    def pairsOf(s: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = s
      .withColumn("nxt", lead(col("sym"), 1).over(wWin))
      .filter(col("nxt").isNotNull)
      .groupBy(col("w_id"), col("freq"), col("sym").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("n"))
    // ONE fused state frame carries both the segmentation rows
    // (kind='seg': c1=sym, v=pos) and the pair-index rows (kind='idx':
    // c1=a, c2=b, v=n) so each round refreshes/checkpoints a single frame
    def fuse(seg: org.apache.spark.sql.DataFrame,
        idx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      seg.select(lit("seg").as("kind"), col("w_id"), col("freq"),
          col("sym").as("c1"), lit("").as("c2"), col("pos").cast("long").as("v"))
        .unionAll(idx.select(lit("idx").as("kind"), col("w_id"), col("freq"),
          col("a").as("c1"), col("b").as("c2"), col("n").as("v")))
    def segOf(state: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      state.filter(col("kind") === "seg")
        .select(col("w_id"), col("freq"), col("v").cast("int").as("pos"),
          col("c1").as("sym"))
    def idxOf(state: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      state.filter(col("kind") === "idx")
        .select(col("w_id"), col("freq"), col("c1").as("a"), col("c2").as("b"),
          col("v").as("n"))
    var state = fuse(seg0, pairsOf(seg0)).coalesce(8).localCheckpoint(true)

    // Driver-held TRAINING STATISTICS (pair totals, per-symbol row counts,
    // weighted token count) — the same kind of aggregate the old trainer
    // collected once per round as its argmax row, held across rounds so a
    // round needs NO Spark job to pick its merge. Bounded by the distinct
    // adjacent-pair / symbol vocabulary (never corpus rows); delta-updated
    // from the affected words' old-vs-new contributions, which arrive in
    // ONE small tagged collect per round.
    val totals = scala.collection.mutable.Map[(String, String), Long]()
    val symRefs = scala.collection.mutable.Map[String, Long]()
    var nTokens = 0L
    state.groupBy("kind", "c1", "c2")
      .agg(sum(col("freq") * col("v")).as("fv"), count(lit(1)).as("nr"),
        sum(col("freq")).as("fs"))
      .collect().foreach { r =>
        if (r.getString(0) == "idx")
          totals((r.getString(1), r.getString(2))) = r.getLong(3)
        else {
          symRefs(r.getString(1)) = symRefs.getOrElse(r.getString(1), 0L) + r.getLong(4)
          nTokens += r.getLong(5)
        }
      }

    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long, Long)]()
    val affCounts = scala.collection.mutable.ArrayBuffer[Long]()
    var step = 1
    var exhausted = false
    while (step <= budget && !exhausted) {
      // argmax from the driver-held totals: (count desc, pair lexicographic
      // asc) — identical tie order to the old relational orderBy. The
      // lexicographic leg compares UTF-8 BYTES unsigned, not JVM chars:
      // Spark's string orderBy (and DuckDB's) use binary UTF-8 collation,
      // which diverges from UTF-16 code-unit compare on supplementary
      // characters — a JVM-ordered tie-break could pick a different merge
      // than the classic trainer on a non-BMP corpus.
      if (!totals.exists(_._2 > 0)) exhausted = true
      else {
      val ((a, b), cnt) = totals.iterator.filter(_._2 > 0)
        .reduceLeft { (x, y) =>
          val cmp =
            if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
            else {
              val ca = utf8Compare(x._1._1, y._1._1)
              if (ca != 0) ca else utf8Compare(x._1._2, y._1._2)
            }
          if (cmp <= 0) x else y
        }
      val affected = state.filter(col("kind") === "idx" &&
          col("c1") === a && col("c2") === b)
        .select("w_id").distinct().localCheckpoint(true)
      val segAff = segOf(state).join(broadcast(affected), "w_id")
      // the identical greedy-leftmost rewrite, over affected words ONLY
      val marked = segAff
        .withColumn("nxt", lead(col("sym"), 1).over(wWin))
        .withColumn("grp", col("pos") - row_number().over(
          W.partitionBy("w_id", "sym").orderBy("pos")))
        .withColumn("mtch",
          col("sym") === a && col("nxt").isNotNull && col("nxt") === b)
        .withColumn("runoff", row_number().over(
          W.partitionBy("w_id", "sym", "grp").orderBy("pos")) - 1)
        .withColumn("active",
          col("mtch") && (lit(a != b) || pmod(col("runoff"), lit(2)) === 0))
        .withColumn("pactive", lag(col("active"), 1).over(wWin))
      // eager: the rewrite feeds several delta branches plus the state
      // refresh — one checkpoint job beats re-running the window per
      // consumer branch (measured 46 s vs 64 s at budget=50)
      val newSegAff = marked.filter(!coalesce(col("pactive"), lit(false)))
        .select(col("w_id"), col("freq"),
          row_number().over(wWin).as("pos"),
          when(col("active"), lit(a + b)).otherwise(col("sym")).as("sym"))
        .localCheckpoint(true)
      val newIdx = pairsOf(newSegAff).localCheckpoint(true)
      // ONE tagged delta collect: pair-total deltas, symbol row deltas,
      // the weighted-token delta and the affected-word count, applied to
      // the driver statistics
      val oldIdxAff = idxOf(state).join(broadcast(affected), "w_id")
      val deltas =
        oldIdxAff.groupBy("a", "b")
          .agg((-sum(col("freq") * col("n"))).as("d"))
          .select(lit("pair").as("kind"), col("a").as("k1"), col("b").as("k2"), col("d"))
        .unionAll(newIdx.groupBy("a", "b")
          .agg(sum(col("freq") * col("n")).as("d"))
          .select(lit("pair").as("kind"), col("a").as("k1"), col("b").as("k2"), col("d")))
        .unionAll(segAff.groupBy("sym").agg((-count(lit(1))).as("d"))
          .select(lit("sym").as("kind"), col("sym").as("k1"), lit("").as("k2"), col("d")))
        .unionAll(newSegAff.groupBy("sym").agg(count(lit(1)).as("d"))
          .select(lit("sym").as("kind"), col("sym").as("k1"), lit("").as("k2"), col("d")))
        .unionAll(segAff.agg((-sum(col("freq"))).as("d"))
          .select(lit("tok").as("kind"), lit("").as("k1"), lit("").as("k2"), col("d")))
        .unionAll(newSegAff.agg(sum(col("freq")).as("d"))
          .select(lit("tok").as("kind"), lit("").as("k1"), lit("").as("k2"), col("d")))
        .unionAll(affected.agg(count(lit(1)).as("d"))
          .select(lit("aff").as("kind"), lit("").as("k1"), lit("").as("k2"), col("d")))
        .collect()
      var nAff = 0L
      deltas.foreach { r =>
        val d = if (r.isNullAt(3)) 0L else r.getLong(3)
        r.getString(0) match {
          case "pair" =>
            val k = (r.getString(1), r.getString(2))
            val nv = totals.getOrElse(k, 0L) + d
            if (nv > 0) totals(k) = nv else totals.remove(k)
          case "sym" =>
            val nv = symRefs.getOrElse(r.getString(1), 0L) + d
            if (nv > 0) symRefs(r.getString(1)) = nv else symRefs.remove(r.getString(1))
          case "tok" => nTokens += d
          case _ => nAff = d
        }
      }
      affCounts += nAff
      if (sys.env.contains("GRAFT_BPE_DEBUG"))
        System.err.println(f"[bpe-round] step=$step pair=($a,$b) cnt=$cnt " +
          f"aff=$nAff t=${System.nanoTime() / 1e9}%.1f")
      // Refresh the fused state: broadcast anti-join + union — narrow, no
      // shuffle or sort ever touches the unaffected vocabulary again. Two
      // traps here, both measured:
      //  - union CONCATENATES partition lists, so coalesce first or the
      //    frame gains partitions every round;
      //  - localCheckpoint PRESERVES the origin plan's size estimate, and
      //    each round's join estimation MULTIPLIES the children's BigInt
      //    sizes — the digit count doubles per round and by round ~26
      //    Catalyst stats estimation alone ran minutes per query (jstack:
      //    BigInteger.multiplyToomCook3 under SizeInBytesOnlyStats-
      //    PlanVisitor). Rebasing the checkpointed rows through an
      //    external-RDD leaf resets the estimate to a constant; every
      //    join in the loop carries an explicit broadcast hint, so the
      //    lost size information changes no plan.
      // unionByName, NOT positional union: the using-syntax anti-join
      // reorders `w_id` to the front of its output, and a positional union
      // would silently mash kind/w_id across the two sides (total row
      // count survives; every rewritten word's rows become unfindable)
      val refreshed = state.join(broadcast(affected), Seq("w_id"), "left_anti")
        .unionByName(fuse(newSegAff, newIdx))
        .coalesce(8).localCheckpoint(true)
      state = spark.createDataFrame(refreshed.rdd, refreshed.schema)
      out += ((step, a, b, cnt, nTokens, symRefs.size.toLong))
      step += 1
      }
    }
    (out.toSeq, segOf(state), affCounts.toSeq)
  }
  /** d39: BPE TOKENIZE-APPLY — the serving half of d38 (train → apply,
    * the text twin of e24 → e25): the corpus is re-tokenized with the
    * trained merges and censused per source. At-scale shape: training
    * already segmented every DISTINCT word, so application is one
    * broadcast join of the corpus token stream against the
    * vocabulary-sized segmentation table — the fan-out IS the
    * tokenization (each word token explodes into its pieces); no
    * per-document re-derivation, no corpus-side window. Output per
    * source: piece count, distinct piece vocabulary, and summed piece
    * chars (= total non-space chars, a conservation check the oracle
    * recomputes independently).
    */
  def d39BpeTokenize(spark: SparkSession, sfDir: String,
      budget: Int = 10): DataFrame = {
    // serving measures serving (the memoTrained rule): the trained
    // segmentation persists behind a corpus fingerprint; d38 itself stays
    // un-memoized because it IS the training demonstration
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val dir = new java.io.File(s"target/parity/trained-bpe$budget-$sfTag")
      .getAbsoluteFile
    // content fingerprint, cached per JVM behind a syscall-cheap sourceStamp
    // (the memoTrained rule): one xxhash corpus scan per on-disk state
    graft.sources.StampedArtifact.getOrBuild(dir.toString, "._trained_ok",
        s"$budget|${RelationalQueries.corpusFingerprint(
          spark, sfDir, "documents", "doc_id, text")}") {
      bpeTrain(spark, sfDir, budget)._2.write.mode("overwrite")
        .parquet(s"file:$dir")
    }
    val seg = spark.read.parquet(s"file:$dir")
    val ctoks = table(spark, sfDir, "documents")
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    ctoks.join(broadcast(seg.select(col("w_id").as("w"), col("sym"))), "w")
      .groupBy("source")
      .agg(count(lit(1)).as("n_pieces"),
        countDistinct(col("sym")).as("n_distinct_pieces"),
        sum(length(col("sym"))).as("sum_piece_chars"))
  }
}
