package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Near-duplicate detection + fingerprinting for training-data pipelines:
  * MinHash signatures, SimHash clustering, n-gram Jaccard, rolling hashes,
  * and binary (multimodal) column metadata.
  *
  * Cross-engine-deterministic hashing: every hash is derived from md5 hex
  * (first 15 hex digits parsed as a 60-bit int) — Spark `conv(substr(md5))`
  * and duckdb `CAST('0x'||substr(md5))` produce identical values, so the
  * whole MinHash/SimHash pipeline is oracle-checkable. xxhash64 would be
  * faster but is Spark-private; swapping the hash is a one-line change and
  * none of the pipeline shape depends on it.
  *
  * Scale design notes:
  *  - signatures/fingerprints are pure per-row column expressions — single
  *    scan, no shuffle, whole-stage codegen;
  *  - LSH banding turns the O(N^2) near-dup join into an equi-join keyed on
  *    (band, band-hash): shuffle is by bucket and cost is sum of squared
  *    bucket sizes. Pair enumeration is only ever done per-bucket;
  *  - the demo pair queries bound their candidate sets (adjacent ids /
  *    same-signature groups) so results stay O(N) at any scale factor.
  */
object DedupQueries {

  import RelationalQueries.table

  private val P = 1000000007L // modulus for permutation hashing

  /** 60-bit deterministic hash of a string, identical in duckdb: the custom
    * codegen expression [[graft.functions.Md5Prefix60]] (bit-identical to
    * `conv(substr(md5(c),1,15),16,10)`, ~2x cheaper per value — no hex
    * string / substring / radix-parse churn on the per-shingle hot path).
    */
  private def h60(c: Column): Column = graft.functions.GraftFunctions.h60(c)

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** Distinct word 3-gram shingles from a STAGED token-array column; docs
    * with <3 tokens fall back to the whole text as a single shingle.
    *
    * `t` must be a materialized column, not the tokenize expression: a
    * lambda body in `transform(sequence(...), i => ...slice(t, i, 3))`
    * re-evaluates its outer references per ELEMENT, so passing the split
    * expression directly turns one regex tokenize per document into one
    * per shingle — O(tokens²) work per doc (measured ~10× on the corpus
    * scan before staging).
    */
  private def shingles3(t: Column, text: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", slice(t, i, lit(3))))))
      .otherwise(array(text))

  /** [[shingledDocs]] generalized to ANY (doc_id, text, t) frame with a
    * PRE-STAGED token array `t` — the x1 pipeline shingles its FILTERED
    * survivor corpus (shingling is row-local, so shingling a subset equals
    * shingling all and keeping the subset's rows) and shares one tokenize
    * across its stages. No persist here; the caller owns the cache scope.
    */
  private[operators] def shingleFrameFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles3(col("t"), col("text")).as("sh"))

  private val shingleCache =
    new scala.collection.concurrent.TrieMap[String, DataFrame]

  /** CORPUS-CUT CACHE LIFETIME, as an operator contract rather than a
    * harness rule: the session-scoped per-corpus memos ([[shingledDocs]],
    * [[closureLabels]]) hold blocks for AT MOST ONE corpus cut — asking
    * for cut X first releases every other cut's persisted frames. In a
    * long-lived session working multiple corpus cuts (the 100 TB shape:
    * one driver, many snapshot/scale cuts), leaving prior cuts cached
    * evicts the ACTIVE cut's blocks instead — measured in the r18 slope
    * run: four scales' shingle caches held concurrently pushed the block
    * manager into eviction + recompute thrash and inflated d13's x100 rep
    * from its ~60 s steady to 192 s (SURVEY §8); the fix lived in the
    * ScaleSlope harness (`clearCache()` between scales) until this
    * promoted it into the operators themselves. Releasing a cut another
    * thread still computes over is safe (unpersist falls back to
    * recompute), so the eager release never changes results. Pinned by
    * `CacheLifetimeSpec`: after a second cut's request, the first cut's
    * frame reports no storage.
    */
  private def releaseOtherCuts[K](
      cache: scala.collection.concurrent.TrieMap[K, DataFrame],
      cutOf: K => String, active: String): Unit =
    cache.keys.filter(k => cutOf(k) != active).foreach { k =>
      cache.remove(k).foreach { df =>
        try if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
        catch { case NonFatal(_) => () }
      }
    }

  /** The corpus shingled once per session: (doc_id, sh) persisted
    * MEMORY_AND_DISK and shared by every consumer (d7 signatures, d9/d13
    * Jaccard verification, d12's exploded UDAF form). Shingling is the
    * expensive half of every near-dup operator — a regex tokenize plus one
    * string build per 3-gram — so at 100 TB you materialize it once (cache,
    * or a shingle table on disk) and fan out, instead of paying the scan
    * per operator and per self-join branch.
    *
    * A cached frame is only valid for the session that built it: if the
    * caller's session differs (harness stopped the first and started a new
    * one in the same JVM), the stale entry is unpersisted via its own
    * session when possible and rebuilt.
    */
  def shingledDocs(spark: SparkSession, sfDir: String): DataFrame = {
    releaseOtherCuts(shingleCache, identity[String], sfDir)
    releaseOtherCuts(ccCache, (k: (String, Double)) => k._1, sfDir)
    def build() = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), toks(col("text")).as("t"))
      .select(col("doc_id"), shingles3(col("t"), col("text")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    shingleCache.get(sfDir) match {
      case Some(df) if df.sparkSession eq spark => df
      case stale =>
        stale.foreach { df =>
          try if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
          catch { case NonFatal(_) => () }
        }
        val fresh = build()
        shingleCache.put(sfDir, fresh)
        fresh
    }
  }

  /** (a,b) parameters of the 8 minhash permutations h_i(x) = (a*x + b) mod P. */
  val MinhashPerms: Seq[(Int, Int)] =
    Seq((2, 7), (3, 11), (5, 13), (7, 17), (11, 19), (13, 23), (17, 29), (19, 31))

  /** d7: MinHash signatures (k=8) over word-3-gram shingles — the per-doc
    * half of MinHash-LSH dedup. Follows with band keys (4 bands x 2 rows):
    * docs sharing any band key are near-dup candidates.
    */
  def d7MinhashSig(spark: SparkSession, sfDir: String): DataFrame =
    minhashBandsFrom(shingledDocs(spark, sfDir))

  /** The signature+banding half of d7 over ANY (doc_id, sh) frame. */
  private[operators] def minhashBandsFrom(sh: DataFrame): DataFrame = {
    val hs = transform(col("sh"), s => h60(s))
    // Single fold computing all k minima in one pass: the md5 of each
    // shingle is evaluated ONCE (a per-sig-column formulation re-hashes the
    // whole shingle array k times — measured 8x slower at sf0.1).
    val permArr = array(MinhashPerms.map { case (a, b) =>
      struct(lit(a.toLong).as("a"), lit(b.toLong).as("b"))
    }: _*)
    val sigArr = aggregate(
      hs,
      array_repeat(lit(P), MinhashPerms.length),
      (acc, x) => zip_with(acc, permArr, (cur, p) =>
        least(cur, pmod(p.getField("a") * pmod(x, lit(P)) + p.getField("b"), lit(P)))))
    val withSig = sh
      .select(col("doc_id"), sigArr.as("sig"))
    val sigCols = (0 until MinhashPerms.length).map(i =>
      element_at(col("sig"), i + 1).as(s"sig$i"))
    withSig.select(col("doc_id") +: sigCols: _*)
      .select(col("doc_id"),
        col("sig0"), col("sig1"), col("sig2"), col("sig3"),
        col("sig4"), col("sig5"), col("sig6"), col("sig7"),
        concat_ws(":", col("sig0"), col("sig1")).as("band0"),
        concat_ws(":", col("sig2"), col("sig3")).as("band1"),
        concat_ws(":", col("sig4"), col("sig5")).as("band2"),
        concat_ws(":", col("sig6"), col("sig7")).as("band3"))
  }

  /** d13: the full MinHash-LSH near-dup pipeline — d7's signatures banded
    * (4 bands x 2 rows), candidate pairs from same-(band,key) buckets, then
    * exact shingle-Jaccard verification of each candidate. This is the
    * at-scale shape of near-dup dedup: the O(N^2) pair space never
    * materializes — the bucket equi-join's cost is the sum of squared
    * bucket sizes, and only candidates (a vanishing fraction of pairs) pay
    * the exact-Jaccard array intersection.
    */
  /** LSH candidate pairs (id_a < id_b, distinct): any two docs sharing at
    * least one (band, bucket). Shared by the symmetric (d13 Jaccard) and
    * asymmetric (d31 containment) verifiers.
    */
  private def lshCandidatePairs(spark: SparkSession, sfDir: String): DataFrame =
    lshCandidatePairsFrom(d7MinhashSig(spark, sfDir))

  /** Candidate generation over ANY banded-signature frame (d7's columns). */
  private[operators] def lshCandidatePairsFrom(sig: DataFrame): DataFrame = {
    val bands = sig.select(col("doc_id"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("band_idx", "bkey")))
    bands
      .select(col("band_idx"), col("bkey"), col("doc_id").as("id_a"))
      .join(bands.select(col("band_idx"), col("bkey"), col("doc_id").as("id_b")),
        Seq("band_idx", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  def d13LshPairs(spark: SparkSession, sfDir: String): DataFrame =
    lshVerifiedPairsFrom(shingledDocs(spark, sfDir))

  /** The full candidate→verify LSH pipeline over ANY (doc_id, sh) frame. */
  private[operators] def lshVerifiedPairsFrom(sh: DataFrame): DataFrame =
    lshCandidatePairsFrom(minhashBandsFrom(sh))
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
          .cast("decimal(10,6)").cast("double").as("jaccard"))

  /** d31: CONTAINMENT scoring — the ASYMMETRIC near-dup measure Jaccard
    * misses: |A∩B| / |A| is near 1 when A is (almost) a subset of B even
    * if B is far larger, which is exactly the quote/excerpt/boilerplate-
    * wrapper case a training-corpus cleaner must catch (the pair's Jaccard
    * can be arbitrarily low, so a d13-threshold pass keeps both copies).
    * Both directions are reported per LSH candidate pair.
    *
    * Scale shape: identical to d13 — candidates come from the banded
    * bucket join (never all pairs), shingle sets are computed once and
    * shared ([[shingledDocs]]), and the two ratios are row-local array math
    * on the already-joined pair.
    */
  def d31Containment(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingledDocs(spark, sfDir)
    lshCandidatePairs(spark, sfDir)
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / size(col("sh_a")))
          .cast("decimal(10,6)").cast("double").as("cont_a_in_b"),
        (col("inter").cast("double") / size(col("sh_b")))
          .cast("decimal(10,6)").cast("double").as("cont_b_in_a"))
  }

  /** d15: the end-to-end corpus-cleaning pass — exact dedup (keep the
    * lowest doc_id per content hash) composed with near-dup removal (drop
    * the higher id of every d13 LSH-verified pair with Jaccard >= 0.5),
    * reported as surviving-document counts per source. This is the full
    * "dedup the training corpus" operator; the removal policy is pairwise
    * and deterministic — [[d19ClusterDedup]] is the transitive-closure form
    * that merges chains into whole clusters.
    */
  def d15CorpusDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val exactKeep = docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val nearDupLosers = d13LshPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    exactKeep
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("survivors"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** Default SimHash width. Signature-space cardinality is 2^bits: cluster
    * tasks and candidate-pair cost both scale as N²/2^bits for a uniform
    * corpus, so pick bits ≈ log2(N / target_cluster_size) — 16 bits is
    * sized for the ~10⁵-doc test corpus; a 10¹⁰-doc corpus wants 32-64.
    */
  val SimhashBits = 16

  /** d19: connected-component near-dup CLUSTERS — the fixpoint closure of
    * d13's verified pair list (pairwise removal, d15, under-merges: if A~B
    * and B~C but A!~C, pairwise keeps A and C even though all three are one
    * duplicate cluster). Min-label propagation as iterated joins:
    * every vertex starts labeled with itself; each round labels flow across
    * edges and each vertex keeps the minimum seen; at fixpoint the label is
    * the component's minimum doc_id (the canonical representative).
    *
    * Scale shape: one hash-join + partial-aggregated min per round — no
    * driver-side graph, the convergence probe is a single `isEmpty` action.
    * Rounds = component diameter; LSH near-dup components are near-cliques
    * (diameter 1-2), so the loop converges in 2-3 rounds at any corpus
    * size. (Adversarial long chains want the large-star/small-star
    * variant — same join shape, alternating rules — which converges in
    * O(log N) rounds; not needed for near-dup graphs.) Each round's labels
    * persist and the previous round unpersists, so lineage stays O(1).
    */
  private val ccCache =
    new scala.collection.concurrent.TrieMap[(String, Double), DataFrame]

  /** The verified-pair closure labels, computed once per (session, corpus,
    * threshold) and shared by every cluster consumer (d19's summary, d20's
    * cleaning pass) — the labels frame stays persisted (the closure loop
    * leaves its fixpoint frame cached), so consumers fan out from one
    * materialization like [[shingledDocs]].
    */
  def closureLabels(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    releaseOtherCuts(shingleCache, identity[String], sfDir)
    releaseOtherCuts(ccCache, (k: (String, Double)) => k._1, sfDir)
    val key = (sfDir, threshold)
    ccCache.get(key) match {
      case Some(df) if df.sparkSession eq spark => df
      case stale =>
        stale.foreach { df =>
          try if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
          catch { case NonFatal(_) => () }
        }
        val good = d13LshPairs(spark, sfDir)
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"))
        val fresh = connectedComponents(good)
        ccCache.put(key, fresh)
        fresh
    }
  }

  def d19ClusterDedup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame =
    closureLabels(spark, sfDir, threshold)
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))

  /** d20: cluster-true corpus cleaning — d15 with the pairwise near-dup
    * removal upgraded to the d19 closure: exact dedup keeps the lowest
    * doc_id per content hash, then each near-dup CLUSTER (connected
    * component of verified pairs) keeps only its representative (minimum
    * doc_id), so a transitive chain A~B~C collapses to {A} instead of
    * pairwise's {A, C}. Survivor counts per source; the anti-join runs
    * against the bounded non-representative member set.
    */
  def d20ClusterClean(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val exactKeep = docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val clusterLosers = closureLabels(spark, sfDir, threshold)
      .filter(col("id") =!= col("label")) // everything but the representative
      .select(col("id").as("doc_id"))
    exactKeep
      .join(clusterLosers, Seq("doc_id"), "left_anti")
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("survivors"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** d29: QUALITY-KEEP representative selection — d20 keeps each near-dup
    * cluster's minimum doc_id, which is arbitrary; production corpus
    * cleaning keeps the BEST member (the longest / highest-quality copy of
    * a near-duplicated page, per the dedup literature's "keep the canonical
    * version" step). Per connected component: arg-max by n_chars with
    * doc_id as the deterministic tiebreak. Output is one row per cluster —
    * who represents it, how good the kept copy is, how many members it
    * shadows — the audit table a cleaning pipeline logs.
    *
    * Scale shape: clusters come from [[closureLabels]] (bucketed LSH pair
    * graph, min-label propagation — only ids shuffle); the quality join
    * touches ONLY clustered member ids (a tiny fraction of the corpus) and
    * joins against a column-pruned (doc_id, n_chars) projection, so the
    * selection adds one bounded join + one per-cluster window to the d19
    * cost, never a corpus-wide pass.
    */
  def d29ClusterKeepBest(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    val docs = table(spark, sfDir, "documents").select("doc_id", "n_chars")
    val members = closureLabels(spark, sfDir, threshold)
      .select(col("label").as("cluster_rep"), col("id").as("doc_id"))
      .join(docs, "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_rep")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    members
      .withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_rep"))
      .agg(
        max(when(col("rk") === 1, col("doc_id"))).as("kept_id"),
        max(when(col("rk") === 1, col("n_chars"))).as("kept_chars"),
        count(lit(1)).as("n_members"))
  }

  /** Min-label propagation to fixpoint over an undirected pair list
    * (id_a, id_b): returns (id, label) where label = the component's
    * minimum vertex id. One equi-join + partial-aggregated min per round;
    * the convergence probe is one `isEmpty` action; each round's frame is
    * `localCheckpoint`ed so the LOGICAL PLAN is truncated too — a persist
    * alone caches data but leaves the plan nesting one level per round,
    * and by ~10 rounds analysis/stringification of that tree is itself
    * exponential (driver OOM), independent of data size.
    *
    * Convergence is REQUIRED: plain min-label propagation needs ~diameter
    * rounds, so a long-chain graph can exhaust `maxIters` with labels only
    * partially propagated — silently returning those would split one true
    * component into several. If the fixpoint is not reached the call THROWS
    * rather than hand back wrong clusters; callers with legitimately
    * long-diameter graphs should raise `maxIters` (LSH near-dup graphs are
    * near-cliques and converge in a handful of rounds).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs.toDF("id_a", "id_b")
      .union(pairs.toDF("id_a", "id_b")
        .select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val next = labels.select("id", "label").union(msgs)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true) // materialize + truncate lineage
      converged = next
        .join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).isEmpty
      labels = next
      iters += 1
    }
    edges.unpersist()
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxIters rounds — " +
          "labels would be partially propagated (wrong clusters); raise maxIters")
    }
    labels
  }

  /** d8: SimHash (parameterized width, default [[SimhashBits]]) over the
    * distinct-token set, plus the cluster size of each signature value —
    * identical-simhash groups are near-dup clusters.
    *
    * Scale shape: cluster sizes come from `groupBy(simhash).count` — the
    * partial aggregate collapses each map task to ≤2^bits rows before the
    * shuffle, and only (signature, count) pairs move. The counts frame is
    * tiny (≤2^bits rows) so joining it back is a broadcast hash join: no
    * sort, no window, and no task ever holds more than its input split.
    * (A `Window.partitionBy(simhash)` formulation would instead shuffle
    * every ROW by a ≤2^bits-cardinality key — one task sorting N/2^bits
    * rows, which dies at 100 TB.)
    */
  def d8Simhash(spark: SparkSession, sfDir: String,
      bits: Int = SimhashBits): DataFrame = {
    val hs = transform(array_distinct(toks(col("text"))), t => h60(t))
    // all `bits` signed bit-counts in ONE fold over the token hashes (a
    // per-bit-column formulation re-hashes the token array `bits` times)
    val masks = array((0 until bits).map(j => lit(1L << j)): _*)
    val sums = aggregate(hs, array_repeat(lit(0L), bits),
      (acc, x) => zip_with(acc, masks, (a, m) =>
        a + when(x.bitwiseAND(m) === 0L, lit(-1L)).otherwise(lit(1L))))
    val sim = (0 until bits).map(j =>
      when(element_at(col("bs"), j + 1) > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    val docs = table(spark, sfDir, "documents")
      .select(col("doc_id"), sums.as("bs"))
      .select(col("doc_id"), sim.as("simhash"))
    val sizes = docs.groupBy("simhash")
      .agg(count(lit(1)).as("cluster_size"))
    docs.join(broadcast(sizes), "simhash")
      .select("doc_id", "simhash", "cluster_size")
  }

  /** d9: exact n-gram Jaccard similarity over a bounded pair set (adjacent
    * doc ids) — the verification half of near-dup detection. At scale the
    * pair set comes from d7's LSH buckets instead; the measure is the same.
    */
  def d9NgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = shingledDocs(spark, sfDir)
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
          .cast("decimal(10,6)").cast("double").as("jaccard"))
  }

  /** d10: BPE-ish token classes — words / numbers / punctuation piece
    * counts per document (the shape of a byte-pair pre-tokenizer pass).
    * Counted by the single-pass [[graft.functions.CharClassCount]] bitmap
    * scan — run/char semantics identical to the regexes
    * `[a-z]+` / `[0-9]+` / `[^a-zA-Z0-9\s]` (the duckdb oracle keeps the
    * regex form), at a fraction of the regex engine's cost.
    */
  def d10TokenClasses(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.cclass
    table(spark, sfDir, "documents").select(
      col("doc_id"),
      cclass(lower(col("text")), "runs", "abcdefghijklmnopqrstuvwxyz").as("n_words"),
      cclass(col("text"), "runs", "0123456789").as("n_nums"),
      cclass(col("text"), "count_not",
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789" +
          " \t\n\u000b\f\r").as("n_punct")) // Java \s = [ \t\n\x0B\f\r]
  }

  /** d11: polynomial rolling hash over the character stream (mod P, base 31)
    * — the primitive behind content-defined chunking and Rabin fingerprints.
    */
  def d11RollingHash(spark: SparkSession, sfDir: String): DataFrame = {
    val chars = split(col("text"), "")
    val rolled = aggregate(chars, lit(0L),
      (acc, c) => pmod(acc * 31 + ascii(c), lit(P)))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), rolled.as("rolling_hash"))
  }

  /** m1: multimodal/binary column plumbing — documents as opaque binary
    * payloads with typed metadata (byte length, header bytes, content hash).
    * The decode step for real image/audio payloads plugs in at
    * [[graft.operators.MultimodalOps]]; this query verifies the binary
    * schema/metadata path end to end.
    */
  def m1BinaryMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val bin = encode(col("text"), "UTF-8")
    table(spark, sfDir, "documents").select(
      col("doc_id"),
      octet_length(col("text")).as("n_bytes"),
      substring(hex(bin), 1, 16).as("header_hex"),
      md5(col("text")).as("content_hash"))
  }

  /** d12: the MinHash signature computed through the typed `Aggregator` UDAF
    * ([[graft.functions.MinHashAgg]]) over EXPLODED shingle hashes — the
    * aggregation-shaped form of d7 (one row per shingle in, k-long signature
    * out, map-side combinable). Signatures are bit-identical to d7's.
    */
  def d12MinhashUdaf(spark: SparkSession, sfDir: String): DataFrame = {
    val udafCol = udaf(graft.functions.MinHashAgg.default,
      org.apache.spark.sql.Encoders.scalaLong)
    val exploded = shingledDocs(spark, sfDir)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), h60(col("s")).as("h"))
    val sigged = exploded.groupBy("doc_id").agg(udafCol(col("h")).as("sig"))
    sigged.select(col("doc_id") +:
      (0 until MinhashPerms.length).map(i =>
        element_at(col("sig"), i + 1).as(s"sig$i")): _*)
  }

  /** e5: embedding-cosine near-dup — the full banded-LSH dedup pipeline for
    * vectors, mirroring d13's shape for text: candidate pairs are vectors
    * sharing ANY (band, bucket) of the axis-sign family
    * ([[VectorQueries.axisBandBuckets]], bands OR'd via the distinct), then
    * each candidate pays one exact cosine and pairs at/above `threshold`
    * survive. The O(N²) pair space never materializes — candidate cost is
    * bands·Σ bucket² per band; see [[VectorQueries.LshBits]] for the
    * width-vs-corpus-size sizing rule.
    */
  def e5CosineNearDup(spark: SparkSession, sfDir: String,
      bits: Int = VectorQueries.LshBits, bands: Int = VectorQueries.LshBands,
      threshold: Double = 0.2): DataFrame = {
    val bk = VectorQueries.axisBandBuckets(spark, sfDir, bits, bands)
    val cand = bk.select(col("band_idx"), col("bucket"), col("vec_id").as("id_a"))
      .join(bk.select(col("band_idx"), col("bucket"), col("vec_id").as("id_b")),
        Seq("band_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val emb = table(spark, sfDir, "embeddings")
    val dotAB = aggregate(
      zip_with(col("emb_a"), col("emb_b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val norm = (c: Column) => sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .withColumn("sim_dec",
        (dotAB / (norm(col("emb_a")) * norm(col("emb_b")))).cast("decimal(20,6)"))
      .filter(col("sim_dec") >= threshold)
      .select(col("id_a"), col("id_b"),
        col("sim_dec").cast("double").as("cos_sim"))
  }

  /** e6: the full IVF query path — top-k neighbors for each query vector
    * searched ONLY within the query's probed (nearest) centroid bin:
    * codebook assignment (e4) partitions the corpus; the per-query scan
    * shrinks from N to N/C. Recall loss vs exact (e2) is the IVF tradeoff;
    * nprobe>1 recovers it by unioning more bins. One broadcast of the tiny
    * query set, candidate join keyed on centroid_id — no cartesian product.
    */
  def e6IvfSearch(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    def dotOf(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

    // assign every vector (corpus and queries alike) to its nearest centroid
    val assigned = VectorQueries.assignToCentroids(spark, sfDir, emb)

    val queries = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    assigned
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("centroid_id"))
      .join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dotOf(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** e16: the IVF recall-vs-cost CURVE — e6's probe search swept over
    * `nprobe` ∈ {1, 2, 4} (e6/e14 hardcode nprobe=1; production ANN tunes
    * recall with exactly this dial). A query's probed bins are the top-nprobe
    * centroids by its own assignment ranking; candidates are the union of
    * those bins — disjoint by construction (IVF assignment is a partition of
    * the corpus), so no cross-bin dedup is ever needed. Output per nprobe:
    * candidate count (the cost axis — pairs scored) and recall@k against the
    * exact brute-force top-k (e2), the quality axis. nprobe=C degenerates to
    * brute force; the curve is the evidence for choosing the operating point.
    *
    * Plan shape: ONE assignment scan serves both sides (queries keep ranks
    * 1..nprobe, corpus keeps rank 1); the (query × nprobe) probe table is a
    * few dozen rows broadcast into the candidate equi-join on centroid_id —
    * the sweep multiplies only the tiny probe side, never the corpus.
    */
  def e16NprobeRecall(spark: SparkSession, sfDir: String, k: Int = 3,
      nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    import spark.implicits._
    val emb = table(spark, sfDir, "embeddings")
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    def dotOf(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("a_sim").desc, col("centroid_id").asc)
    val ranked = emb.crossJoin(broadcast(cents))
      .withColumn("a_sim", dotOf(col("embedding"), col("c_emb")).cast("decimal(20,6)"))
      .withColumn("a_rk", row_number().over(wAssign))
    val assigned = ranked.filter(col("a_rk") === 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("centroid_id"))
    val probes = ranked.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"), col("a_rk"))
      .crossJoin(nprobes.toDF("nprobe"))
      .filter(col("a_rk") <= col("nprobe"))

    val cand = assigned.join(broadcast(probes), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec",
        dotOf(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("nprobe", "query_id")
      .orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    val topk = cand.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("nprobe", "query_id", "neighbor_id")
    val brute = VectorQueries.e2KnnBrute(spark, sfDir, k)
      .select("query_id", "neighbor_id")
    val hits = topk.join(brute, Seq("query_id", "neighbor_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("sum_hits"))
    // recall denominator derived from the probe table (queries x k), not
    // hardcoded — a non-default k or query set stays self-consistent (the
    // duckdb oracle only covers the default k=3 / nprobes={1,2,4} config)
    val qCounts = probes.groupBy("nprobe")
      .agg(countDistinct(col("query_id")).as("n_queries"))
    cand.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
      .join(hits, Seq("nprobe"), "left")
      .join(qCounts, Seq("nprobe"))
      .na.fill(0L, Seq("sum_hits"))
      .select(col("nprobe"), col("n_candidates"), col("sum_hits"),
        (col("sum_hits").cast("double") /
          (col("n_queries") * lit(k)).cast("double")).as("avg_recall"))
  }

  /** e4: IVF(-flat) assignment — vectors binned to their nearest centroid
    * from a fixed codebook (vec_id < 4 as demo centroids; real deployments
    * train the codebook). The partition step of IVF ANN search: at query
    * time only the probed centroid's bin is scanned. Broadcast codebook,
    * single pass, no shuffle beyond the final tiny aggregate.
    */
  def e4IvfAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val dotCol = aggregate(
      zip_with(col("embedding"), col("c_emb"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim_dec").desc, col("centroid_id").asc)
    emb.crossJoin(broadcast(cents))
      .withColumn("sim_dec", dotCol.cast("decimal(20,6)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("centroid_id"),
        col("sim_dec").cast("double").as("centroid_sim"))
  }

  /** st18: STREAMING SEMANTIC DEDUP — [[d36SemanticDedup]]'s pairwise rule
    * computed INCREMENTALLY over a micro-batched vector stream: state is a
    * bin-partitioned table of every arrived vector with a `kept` flag, and
    * each batch (1) assigns its vectors to trained bins, (2) forms
    * same-bin pairs against state AND within itself, and (3) rewrites ONLY
    * the bins the batch touches, flipping `kept` to false for any vector
    * (stored or incoming) similar to a smaller-id vector. The d36 rule —
    * removed iff similar to ANY smaller-id bin-mate, kept or not — is
    * prefix-decomposable and ORDER-INDEPENDENT: prior-prior pair effects
    * are already in the flags and never change, so any batch partitioning
    * and any arrival order converge to the batch answer. The oracle states
    * that equivalence in the strongest form: d36's full-corpus SQL,
    * verbatim.
    *
    * Scale shape: per batch, pair cost is |batch|·|touched bins' state| +
    * |batch|² (never state²; prior-prior pairs are excluded), and the
    * state rewrite is ONE batchId-keyed [[graft.sources.SnapshotLog]]
    * commit of exactly the touched bins — untouched bins are carried by
    * reference (the manifest path encodes each file's bin, so the
    * touched/carried split is a string match, and the prior-state read
    * opens only touched files). Exactly-once under the micro-batch
    * at-least-once replay: a replayed batchId no-ops on its live commit
    * key, and a mid-commit crash leaves an orphan, never a torn state
    * (st15's mechanism; [[St18ReplaySpec]] proves it by replaying). The
    * gate run uses a fresh checkpoint + state dir per run.
    */
  def st18StreamingSemanticDedup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.25, iters: Int = 2,
      requireFlatOracle: Boolean = false): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // the same 4-file range-split fixture st17 streams (shared memo)
    val (splitDir, nVecs) = VectorQueries.embSplitFixture(emb, sfDir)
    val stateDir = new java.io.File(s"target/parity/semdedup-state-$sfTag")
      .getAbsoluteFile.toString
    val ckptDir = new java.io.File(s"target/parity/semdedup-ckpt-$sfTag")
      .getAbsoluteFile.toString
    MicroBatchJob.wipe(spark, s"file:$stateDir", s"file:$ckptDir")

    // trained binning codebooks (flat at gate scale, IMI beyond — the same
    // corpus-scaled cell count as d36, via the shared semBinning helper),
    // computed ONCE and carried as plain rows so each micro-batch rebuilds
    // the tiny frames on its own session (no cross-session plan mixing, no
    // per-batch re-training)
    val k = VectorQueries.semK(nVecs)
    // same flat-oracle growth guard as d36: the gate restates flat k=4
    if (requireFlatOracle) require(k <= 4,
      s"st18 gate fixture outgrew the flat-k oracle: semK=$k > 4 " +
        s"(corpus > ${4 * VectorQueries.SemTargetBin} vectors)")
    val (books, kSide) = VectorQueries.semBinning(spark, sfDir, iters, k)
    val bookRows = books.map(_.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq)
    val normOf = (c: Column) => sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val dotAB = aggregate(
      zip_with(col("emb_a"), col("emb_b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

    MicroBatchJob.run(spark, splitDir, VectorQueries.EmbeddingArrivalSchema,
        ckptDir, 8) { (bs, batch, batchId) =>
        import bs.implicits._
        val batchBooks = bookRows.map(_.toDF("centroid_id", "c"))
        val asgB = VectorQueries.semAssignBins(
            batch.select(col("vec_id"), col("embedding")), batchBooks, kSide)
          .select(col("vec_id"), col("embedding"), col("bin"),
            normOf(col("embedding")).as("nrm"),
            lit(true).as("kept"), lit(1).as("src"))
        val statePath = s"file:$stateDir"
        val priorManifest = graft.sources.SnapshotLog
          .latestVersion(bs, statePath)
          .map(v => graft.sources.SnapshotLog.manifest(bs, statePath, v))
          .getOrElse(Nil)
        val touched = asgB.select(col("bin")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        // the manifest PATH carries each state file's bin (commit's
        // partitionBy layout), so touched-vs-carried splits on a string
        // match over the manifest — O(files), no data scan, and the prior
        // read opens ONLY the touched bins' files
        val touchedSeg = touched.map(b => s"/_bin=$b/").toSet
        val (touchedFiles, carriedFiles) = priorManifest
          .partition(f => touchedSeg.exists(f.contains))
        val prior =
          if (touchedFiles.isEmpty) asgB.filter(lit(false))
          else bs.read.parquet(touchedFiles: _*)
            .select(col("vec_id"), col("embedding"),
              col("bin").cast("int").as("bin"), col("nrm"), col("kept"),
              lit(0).as("src"))
        // all same-bin pairs EXCEPT prior-prior (their effects are already
        // in the flags); u is localCheckpointed because pairs and the new
        // state both consume it
        val u = prior.unionByName(asgB).localCheckpoint(true)
        val pairs = u.select(col("bin"), col("vec_id").as("id_a"),
            col("embedding").as("emb_a"), col("nrm").as("nrm_a"),
            col("src").as("src_a"))
          .join(u.select(col("bin"), col("vec_id").as("id_b"),
            col("embedding").as("emb_b"), col("nrm").as("nrm_b"),
            col("src").as("src_b")), "bin")
          .filter(col("id_a") < col("id_b") &&
            (col("src_a") + col("src_b") > 0))
          .withColumn("sim_dec",
            (dotAB / (col("nrm_a") * col("nrm_b"))).cast("decimal(20,6)"))
          .filter(col("sim_dec") >= threshold)
        val doomed = pairs.select(col("bin"), col("id_b").as("vec_id")).distinct()
        val newState = u
          .join(doomed.withColumn("rm", lit(1)), Seq("bin", "vec_id"), "left")
          .select(col("vec_id"), col("embedding"), col("nrm"),
            (col("kept") && col("rm").isNull).as("kept"), col("bin"))
        // ONE atomic, batchId-keyed SnapshotLog commit per batch: the
        // touched bins' rewritten state is the commit's new data (bin in
        // the file path via partitionBy), untouched bins ride along BY
        // REFERENCE. Batch delivery is at-least-once — a post-crash replay
        // of this batchId finds its key live and no-ops, and a crash
        // mid-commit leaves only an unreferenced orphan dir, never a
        // half-rewritten state (st15's exactly-once mechanism, as the
        // scaladoc promised).
        graft.sources.SnapshotLog.commit(bs, statePath,
          newState.repartition(col("bin")), carriedFiles,
          commitKey = Some(s"batch-$batchId"), partitionBy = Some("bin"))
        ()
    }

    val head = graft.sources.SnapshotLog
      .latestVersion(spark, s"file:$stateDir")
      .getOrElse(sys.error("st18: no state version committed"))
    graft.sources.SnapshotLog.read(spark, s"file:$stateDir", head)
      .groupBy(col("bin").cast("int").as("bin"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("kept"), col("vec_id"))).as("sum_survivor_ids"))
  }

  /** d36: SEMANTIC DEDUP (the SemDeDup recipe) — near-duplicate removal in
    * EMBEDDING space, with trained k-means clusters bounding the quadratic
    * term: vectors are binned by the trained coarse codebook
    * ([[VectorQueries.kmeansCentroids]], the e15 Lloyd chain), pairwise
    * cosine runs ONLY within a bin, and a vector is removed when it is
    * cosine-similar (>= `threshold`, decimal-rounded) to any SMALLER-id
    * vector in its bin — d15's pairwise keep-first rule, lifted from
    * token space to embedding space. Output per bin: census + removal
    * stats + survivor id-sum, which hash-pins the trained assignment, the
    * pair classification, and the keep rule at once.
    *
    * Scale shape (why this survives 100 TB where all-pairs cosine cannot):
    * candidate cost is Σ_bins |bin|² — and the cluster count REALLY scales
    * with the corpus: k = max(4, N / [[VectorQueries.SemTargetBin]]), so
    * |bin| stays ~constant and the quadratic term is a LINEAR total
    * (measured, not argued: d36 is in the ScaleSlope x10 gate). Binning is
    * [[VectorQueries.semBinning]] — flat trained k-means at gate scale
    * (k = 4, the oracled path), an inverted multi-index (two half-vector
    * codebooks of ceil(sqrt(k)) cells) beyond it, so training/assignment
    * stays N·sqrt(k) instead of the N·k flat Lloyd that would itself go
    * quadratic as k tracks N. The bin self-join shuffles on the bin key;
    * removal is a partial-agg'd min-partner exists, never a window over
    * the corpus.
    */
  def d36SemanticDedup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.25, iters: Int = 2,
      forceK: Option[Int] = None,
      requireFlatOracle: Boolean = false): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val norm = (c: Column) => sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    // forceK exists for d40: the IMI (k > 4) binning oracled AT GATE SCALE
    // instead of trusting the slope run's timing alone
    val k = forceK.getOrElse(VectorQueries.semK(emb.count()))
    // The gate's DuckDB oracle restates the FLAT k=4 chain; a fixture that
    // grows past 4*SemTargetBin vectors would silently flip this side to
    // the IMI path and fail as an inscrutable hash mismatch. Fail with the
    // cause instead (ScaleSlope's big replica corpora pass false here —
    // k > 4 is exactly what they measure).
    if (requireFlatOracle) require(k <= 4,
      s"d36 gate fixture outgrew the flat-k oracle: semK=$k > 4 " +
        s"(corpus > ${4 * VectorQueries.SemTargetBin} vectors); " +
        "regenerate the oracle for the IMI path or shrink the fixture")
    val (books, kSide) = VectorQueries.semBinning(spark, sfDir, iters, k)
    // per-VECTOR norms ride the bin rows, so each pair evaluates one dot,
    // not dot + two 64-dim norm reductions — same IEEE expression per
    // vector (sqrt of the double sum), hence bit-identical sim_dec, at a
    // third of the per-pair HOF work; at Σ|bin|² pairs that is the
    // dominant cost of the whole query
    val bins = VectorQueries.semAssignBins(emb, books, kSide)
      .select(col("vec_id"), col("embedding"), col("bin"),
        norm(col("embedding")).as("nrm"))
    val dotAB = aggregate(
      zip_with(col("emb_a"), col("emb_b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    // within-bin pairs, one direction (a < b): b is the removal candidate
    val dupPairs = bins
      .select(col("bin"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      .join(bins.select(col("bin"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), "bin")
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim_dec",
        (dotAB / (col("nrm_a") * col("nrm_b"))).cast("decimal(20,6)"))
      .filter(col("sim_dec") >= threshold)
    val removed = dupPairs.select(col("bin"), col("id_b").as("vec_id")).distinct()
    bins.select(col("bin"), col("vec_id"))
      .join(removed.withColumn("rm", lit(1)), Seq("bin", "vec_id"), "left")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("rm").isNull, col("vec_id"))).as("sum_survivor_ids"))
  }
}
