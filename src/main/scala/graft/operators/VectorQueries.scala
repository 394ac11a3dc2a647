package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * FP determinism contract with the duckdb oracle: both engines fold the
  * array sequentially left-to-right in DOUBLE (Spark `aggregate` /
  * duckdb `list_aggregate 'sum'`), so intermediate doubles are bit-identical;
  * ranking keys round through DECIMAL before comparison so the (measure-zero)
  * tie-at-boundary case is the only possible divergence.
  *
  * Scale design: brute-force top-k is a cartesian join — correct baseline,
  * O(Q×N). The scale path (e3) buckets by an LSH-style signature first so
  * candidates shrink to matching buckets; at 100 TB the bucket join replaces
  * the cartesian product with a key-equality shuffle join.
  */
object VectorQueries {

  import RelationalQueries.table
  import graft.sources.{SnapshotLog, StampedArtifact}

  /** Sequential double fold of sum(f(x)) over an array column — mirrors
    * duckdb `list_aggregate(list_transform(...), 'sum')` exactly.
    */
  private def foldSum(arr: Column, f: Column => Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + f(x.cast("double")))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** e1: per-vector norms and moments — the sanity/profiling pass before any
    * similarity work (detects unnormalized or degenerate vectors).
    */
  def e1Norms(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings").select(
      col("vec_id"), col("label"),
      size(col("embedding")).as("dim"),
      sqrt(foldSum(col("embedding"), x => x * x)).as("l2_norm"),
      (foldSum(col("embedding"), identity) / size(col("embedding"))).as("mean_val"))

  /** e2: brute-force cosine top-k — exact ANN baseline. Query set = vec_id <
    * 10; candidates = all vectors (self excluded). Broadcast the small query
    * side; rank by decimal-rounded similarity with vec_id tiebreak.
    */
  def e2KnnBrute(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")).filter(col("query_id") < 10)
    val sim = dot(col("q_emb"), col("embedding")) /
      (sqrt(foldSum(col("q_emb"), x => x * x)) *
        sqrt(foldSum(col("embedding"), x => x * x)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", sim.cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("cos_sim"))
  }

  /** e3: LSH-bucketed near-neighbor candidates — the scale path. Signature =
    * sign bits of the first `bits` dimensions (a fixed random-hyperplane
    * family degenerates to axis planes for unit-normed synthetic data; real
    * deployments use seeded random projections). Same-bucket pairs are the
    * candidate set: the cartesian product becomes an equi-join on the
    * signature, which shuffles by bucket and scales as sum of squared bucket
    * sizes, not N².
    */
  /** e7: recall@k of the IVF probe search (e6) against the exact
    * brute-force top-k (e2) — the quality metric every ANN deployment
    * tracks. Pure composition of the two search paths plus a semi-join per
    * query; both inputs are deterministic, so recall is oracle-exact.
    */
  def e7IvfRecall(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val brute = e2KnnBrute(spark, sfDir, k)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = DedupQueries.e6IvfSearch(spark, sfDir, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = brute.join(ivf, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    brute.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("query_id"), col("hits"),
        (col("hits") / lit(k.toDouble)).as(s"recall_at_$k"))
  }

  /** e9: cross-modal join — documents to their embedding rows (the
    * text-plus-vector shape of a multimodal training table), aggregated per
    * language: row counts and the exact-decimal mean L2 norm. One
    * broadcast-able equi-join (embeddings side pruned to (vec_id, norm)
    * before joining — at 100 TB you never shuffle the vectors to join on
    * the key).
    */
  def e9TextVectorJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val norms = table(spark, sfDir, "embeddings").select(
      col("vec_id"),
      sqrt(foldSum(col("embedding"), x => x * x))
        .cast("decimal(20,6)").as("norm_dec"))
    table(spark, sfDir, "documents").select(col("doc_id"), col("lang"))
      .join(norms, col("doc_id") === col("vec_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        (sum(col("norm_dec")).cast("double") / count(lit(1))).as("avg_l2"))
  }

  /** Default LSH signature geometry for the embedding family (e3/e5/e8):
    * `LshBands` independent bands of `LshBits` sign bits each, AND within a
    * band, OR across bands — the same banded construction as the MinHash
    * pipeline (d13).
    *
    * Cost model (the reason fixed-width signatures don't scale): per band,
    * same-bucket pair enumeration costs Σ bucket² ≈ N²/2^bits for
    * near-uniform signatures, so total candidate cost ≈ bands·N²/2^bits —
    * QUADRATIC for any fixed bits. Sub-quadratic requires the signature
    * width to grow with the corpus: bits ≈ log2(N / target_bucket_size),
    * i.e. +1 bit per corpus doubling. Bands then buy back the recall the
    * wider AND-signature costs: P(candidate | per-bit agreement s) =
    * 1 − (1 − s^bits)^bands. The demo geometry (8 × 2 = 16 planes) is
    * sized for the ~10³-vector test table; a 10⁹-vector corpus wants
    * ~24-30 bits × 4-8 bands.
    */
  val LshBits = 8
  val LshBands = 2

  /** (vec_id, band_idx, bucket) rows for the axis-sign plane family: band
    * `b`'s signature is the sign bits of dimensions [b·bits, (b+1)·bits).
    * One scan, one Generate (posexplode) — `bands` rows per vector, no
    * shuffle; every downstream consumer joins on (band_idx, bucket).
    */
  def axisBandBuckets(spark: SparkSession, sfDir: String, bits: Int,
      bands: Int): DataFrame = {
    def bandSig(b: Int): Column = (0 until bits).map(i =>
      when(col("embedding").getItem(b * bits + i) >= 0, lit("1"))
        .otherwise(lit("0")))
      .reduce((x, y) => concat(x, y))
    table(spark, sfDir, "embeddings").select(col("vec_id"),
      posexplode(array((0 until bands).map(bandSig): _*))
        .as(Seq("band_idx", "bucket")))
  }

  /** e8: random-hyperplane LSH with a SEEDED projection family — the
    * production form of e3 (whose axis-sign family is the degenerate
    * special case). Plane coefficients are pseudo-random but
    * engine-reproducible: w[p][i] = (h60("plane:p:i") mod 2001 - 1000) /
    * 1000, so the duckdb oracle builds the identical family from the same
    * md5 arithmetic. Signature bit p = sign of the (sequential-fold, hence
    * bit-identical) dot product with plane p; band b owns planes
    * [b·bits, (b+1)·bits). Output: per-(band, bucket) candidate stats as
    * in e3. One scan; the planes are plan-time constants (broadcast-free).
    * See [[LshBits]] for the bands/bits cost model.
    */
  def e8LshProjections(spark: SparkSession, sfDir: String,
      bits: Int = LshBits, bands: Int = LshBands): DataFrame = {
    def w(p: Int, i: Int): Column =
      ((graft.functions.GraftFunctions.h60(lit(s"plane:$p:$i")) % 2001L) - 1000L)
        .cast("double") / 1000.0
    // dim is fixed by the dataset contract (64 floats). Each plane is a
    // CONSTANT-FOLDED array literal (h60-of-literal is foldable), and the
    // dot is a left fold over zip_with — numerically identical to the
    // oracle's unrolled left-to-right sum (0.0 + t0 == t0), but the
    // expression tree stays O(planes), not O(planes×dims), keeping codegen
    // compile time and method size sane as the signature widens.
    val dims = 64
    def bit(p: Int): Column = {
      val plane = array((0 until dims).map(i => w(p, i)): _*)
      val dot = aggregate(
        zip_with(col("embedding"), plane, (x, wv) => x.cast("double") * wv),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, lit("1")).otherwise(lit("0"))
    }
    def bandSig(b: Int): Column =
      (0 until bits).map(i => bit(b * bits + i)).reduce((x, y) => concat(x, y))
    val bk = table(spark, sfDir, "embeddings").select(col("vec_id"),
      posexplode(array((0 until bands).map(bandSig): _*))
        .as(Seq("band_idx", "bucket")))
    val a = bk.select(col("band_idx"), col("bucket"), col("vec_id").as("id_a"))
    val b = bk.select(col("band_idx"), col("bucket"), col("vec_id").as("id_b"))
    a.join(b, Seq("band_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("band_idx", "bucket")
      .agg(count(lit(1)).as("candidate_pairs"),
        min(col("id_a")).as("min_id"), max(col("id_b")).as("max_id"))
  }

  /** e10: int8 scalar-quantized (SQ8) ANN with ASYMMETRIC distance — the
    * memory-compression path: per-dimension affine quantization maps each
    * float to a code in 0..255 (4× smaller vectors; at 100 TB the
    * difference between an in-memory corpus and a spilling one), queries
    * stay full-precision, and scores are computed query-float ×
    * reconstructed-corpus-value (asymmetric distance — quantization error
    * enters once, not twice).
    *
    * Pipeline: one explode+groupBy pass builds per-dim (min, max) — 64
    * rows, partial-aggregated; the single stats row broadcasts; codes are
    * `floor((x−mn)/(mx−mn)·255)` (floor, not round — round ties break
    * differently across engines); reconstruction is `mn + code·span/255`.
    * All arithmetic is order-pinned so the duckdb oracle is bit-identical.
    * Scoring/ranking mirrors e2 (decimal-rounded, id tiebreak).
    */
  def e10SqKnn(spark: SparkSession, sfDir: String, k: Int = 3,
      dims: Int = 64): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val stats = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .agg(map_from_entries(collect_list(
        struct(col("pos"), struct(col("mn"), col("mx"))))).as("m"))
      .select(
        transform(sequence(lit(0), lit(dims - 1)),
          i => element_at(col("m"), i).getField("mn")).as("mins"),
        transform(sequence(lit(0), lit(dims - 1)),
          i => element_at(col("m"), i).getField("mx")).as("maxs"))

    val idx = sequence(lit(1), lit(dims))
    val codeArr = transform(idx, i => {
      val x = element_at(col("embedding"), i).cast("double")
      val mn = element_at(col("mins"), i)
      val span = element_at(col("maxs"), i) - mn
      when(span === 0.0, lit(0L)).otherwise(floor((x - mn) / span * 255.0))
    })
    val codes = emb.crossJoin(broadcast(stats))
      .select(col("vec_id").as("neighbor_id"), codeArr.as("code"))

    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val score = aggregate(idx, lit(0.0), (acc, i) => {
      val mn = element_at(col("mins"), i)
      val span = element_at(col("maxs"), i) - mn
      val recon = mn + element_at(col("code"), i) * span / 255.0
      acc + element_at(col("q_emb"), i).cast("double") * recon
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    codes.crossJoin(broadcast(queries)).crossJoin(broadcast(stats))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", score.cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("sq_sim"))
  }

  /** e11: product quantization + asymmetric distance computation (ADC) —
    * the other half of the standard IVF-PQ recipe (e4/e6 are the IVF half).
    * The vector splits into M=8 subvectors of 8 dims; each subvector is
    * coded as the id of its nearest sub-centroid from a K=4 demo codebook
    * (vec_id 0..3, like e4's demo centroids; production trains k-means per
    * subspace) — 8 bytes per vector instead of 256. At query time nothing
    * is dequantized per pair: the query's M×K table of sub-dot-products is
    * computed once and scoring is M table lookups per candidate (the ADC
    * trick that makes PQ search memory-bound, not FLOP-bound).
    *
    * Determinism: every sub-dot rounds through DECIMAL(20,6) BEFORE the
    * argmax (code assignment) and before the final sum, so code ties break
    * identically (lowest centroid id) and the score sum is exact decimal
    * arithmetic in both engines.
    */
  private[operators] val PqM = 8; private val PqSub = 8; private val PqK = 4

  /** The K demo sub-codebooks as one broadcastable row (c0..c3 arrays). */
  private def pqCents(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < PqK)
      .agg(map_from_entries(collect_list(struct(
        col("vec_id").cast("int").as("k"), col("embedding").as("v")))).as("cm"))
      .select((0 until PqK).map(c => element_at(col("cm"), c).as(s"c$c")): _*)

  // Sub-dot of dims [m*sub+1, m*sub+sub] as a fold: seeding at 0.0 makes
  // the FP sum bit-identical to the unrolled left-to-right form
  // (0.0 + t1 == t1), so the decimal cast — and the oracle — see exactly
  // the values the element_at-unrolled version produced, at ~1/4 the
  // expression nodes (the e8 trick applied per subspace).
  private def pqSdec(a: Column, b: Column, m: Int): Column =
    aggregate(
      zip_with(slice(a, m * PqSub + 1, PqSub), slice(b, m * PqSub + 1, PqSub),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v).cast("decimal(20,6)")

  // Every (m, c) sub-dot is STAGED as a real column before the argmax /
  // lookup consumes it. The when-chains reference each sub-dot up to four
  // times; inlined, that multiplies the ~25-node dot products into a
  // several-thousand-node tree whose per-run Janino compile dwarfs the
  // actual work (2 k vectors). Multi-referenced aliases survive
  // CollapseProject, so the staged form keeps the tree (and codegen) ~4x
  // smaller with bit-identical decimal semantics.
  private def pqSubDots(idCol: Column, idName: String, vec: Column)(
      df: DataFrame): DataFrame =
    df.select(idCol.as(idName) +:
      (for { m <- 0 until PqM; c <- 0 until PqK }
        yield pqSdec(vec, col(s"c$c"), m).as(s"s_${m}_$c")): _*)

  /** PQ codes for every vector: (neighbor_id, code[M]) — M sub-codebook
    * argmax ids, decimal-rounded before comparison so ties break identically
    * across engines (lowest centroid id).
    */
  private[operators] def pqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    def codeM(m: Int): Column = {
      val s = (0 until PqK).map(c => col(s"s_${m}_$c"))
      when(s(0) >= s(1) && s(0) >= s(2) && s(0) >= s(3), 0)
        .when(s(1) >= s(2) && s(1) >= s(3), 1)
        .when(s(2) >= s(3), 2)
        .otherwise(3)
    }
    pqSubDots(col("vec_id"), "neighbor_id", col("embedding"))(
      emb.crossJoin(broadcast(pqCents(emb))))
      .select(col("neighbor_id"),
        array((0 until PqM).map(codeM): _*).as("code"))
  }

  /** The query set's M×K ADC tables, staged once per query row (10 rows):
    * (query_id, q_m_c...).
    */
  private[operators] def pqQueryTable(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    pqSubDots(col("vec_id"), "query_id", col("embedding"))(
      emb.filter(col("vec_id") < 10).crossJoin(broadcast(pqCents(emb))))
      .select(col("query_id") +:
        (for { m <- 0 until PqM; c <- 0 until PqK }
          yield col(s"s_${m}_$c").as(s"q_${m}_$c")): _*)
  }

  /** ADC score: M table lookups against the staged query table. */
  private[operators] def pqScoreDec: Column = (0 until PqM).map { m =>
    when(element_at(col("code"), m + 1) === 0, col(s"q_${m}_0"))
      .when(element_at(col("code"), m + 1) === 1, col(s"q_${m}_1"))
      .when(element_at(col("code"), m + 1) === 2, col(s"q_${m}_2"))
      .otherwise(col(s"q_${m}_3"))
  }.reduce(_ + _)

  def e11PqAdc(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    pqCodes(spark, sfDir).crossJoin(broadcast(pqQueryTable(spark, sfDir)))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", pqScoreDec.cast("decimal(24,6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("pq_sim"))
  }

  /** e14: IVF-PQ — the two halves composed into the standard 100 TB ANN
    * recipe: IVF's coarse codebook (e4's assignment) prunes each query's
    * candidate set to its probed bin (N/C vectors, nprobe=1 here like e6),
    * and inside the bin candidates are scored from their 8-byte PQ codes
    * via the ADC table (e11) — no full vector is touched after indexing.
    * At 10⁹ vectors this is what fits in memory: the bin join replaces
    * e11's corpus-wide cross join, and the compressed codes replace the
    * raw embeddings. Chain e13's exact re-rank on top for serving.
    *
    * Plan shape: assignment and codes are single broadcast-codebook scans;
    * the candidate generation is an equi-join on centroid_id with the tiny
    * query side broadcast — no cartesian product anywhere.
    */
  def e14IvfPq(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val asg = graft.operators.DedupQueries.e4IvfAssign(spark, sfDir)
      .select(col("vec_id"), col("centroid_id"))
    // query side: only the query vectors' assignments broadcast (bounded by
    // the query set, never the corpus); candidate side: codes ⋈ assignment is
    // N-row ⋈ N-row on vec_id — a co-partitioned shuffle hash join, because
    // broadcasting the corpus-wide assignment table fails at 10⁹ vectors.
    val queries = pqQueryTable(spark, sfDir)
      .join(broadcast(asg.filter(col("vec_id") < 10)
        .withColumnRenamed("vec_id", "query_id")), "query_id")
    val cands = pqCodes(spark, sfDir)
      .join(asg.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    cands.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", pqScoreDec.cast("decimal(24,6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivfpq_sim"))
  }

  /** e13: two-stage ANN — PQ-ADC shortlist, exact re-rank (the standard
    * IVF-PQ serving recipe: approximate distances prune N down to a
    * per-query shortlist, exact arithmetic fixes the final order). Stage 1
    * reuses e11's ADC scoring with a wider k (shortlist=10); stage 2 fetches
    * the true vectors for ONLY those candidates and re-scores with e2's
    * exact decimal-rounded cosine.
    *
    * Scale shape: the re-rank join touches `shortlist` rows per query —
    * the query side (queries × shortlist pairs) broadcasts and the vector
    * fetch is one hash-join probe of the embeddings scan; exact FLOPs are
    * Q·shortlist·d instead of Q·N·d. Recall is whatever stage 1 delivers
    * (e12 measures it); the re-rank can only improve the ordering.
    */
  def e13PqRefine(spark: SparkSession, sfDir: String, shortlist: Int = 10,
      k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val cand = e11PqAdc(spark, sfDir, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")).filter(col("query_id") < 10)
    val sim = dot(col("q_emb"), col("embedding")) /
      (sqrt(foldSum(col("q_emb"), x => x * x)) *
        sqrt(foldSum(col("embedding"), x => x * x)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(cand.join(broadcast(queries), "query_id")), "neighbor_id")
      .withColumn("sim_dec", sim.cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("refined_sim"))
  }

  /** e15: k-means codebook TRAINING (Lloyd iterations) — the piece e4/e6/
    * e11 take as given ("production trains the codebook"): starting from
    * the demo seeds (vec_id < K), alternate assignment (argmax decimal-
    * rounded dot, ties to lowest centroid — e4's rule) and update (per-bin
    * per-dimension mean, exact-decimal sums cast to double before the
    * IEEE division) for `iters` rounds, then report the final bins and
    * centroid norms. Spherical k-means on the dot metric, matching how the
    * trained codebook is consumed by the IVF queries.
    *
    * Scale shape per iteration: one broadcast-codebook assignment scan
    * (no shuffle) and one partial-agg'd (centroid, dim) mean — the shuffle
    * carries K·d aggregate rows, never vectors. Iterations are a driver
    * loop over DataFrames like d19's label propagation; plans stay O(1)
    * per round because each round's centroids collapse to a broadcast
    * relation. Determinism: sums are exact decimal (order-independent),
    * means divide as doubles (one correctly-rounded IEEE op in both
    * engines), assignment ranks round through DECIMAL(20,6).
    *
    * Split as [[kmeansCentroids]] (the trained codebook, consumed by e17's
    * trained-index search) + [[e15Kmeans]] (bin stats + norms, the gate
    * diagnostic view of the same training run).
    */
  /** Decimal-rounded dot of the embedding against a trained (double) centroid
    * array column `c` — the assignment metric shared by e15/e17.
    */
  private def trainedDotDec: Column = aggregate(
    zip_with(col("embedding"), col("c"), (x, y) => x.cast("double") * y),
    lit(0.0), (acc, v) => acc + v).cast("decimal(20,6)")

  /** One nearest-trained-centroid assignment pass (broadcast codebook;
    * decimal argmax, ties to lowest centroid — e4's rule). The argmax is a
    * partial-aggregable `max(struct(sim, -centroid_id, payload))`, NOT a
    * sort-window: map-side combine reduces each vector to one row before
    * the shuffle, so the exchange carries N rows, never the K-scaled
    * candidate stream — the difference that matters once K is 64/256
    * (e27) or N is 10^9. The negated id makes struct-max break score ties
    * toward the LOWEST centroid, bit-identical to the window it replaces.
    */
  private[operators] def assignTrained(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("sim_dec", trainedDotDec)
      .groupBy("vec_id")
      .agg(max(struct(col("sim_dec"), (-col("centroid_id")).as("ncid"),
        col("embedding").as("e"))).as("w"))
      .select(col("vec_id"), col("w.e").as("embedding"),
        (-col("w.ncid")).as("centroid_id"))

  /** Memoized trained artifact: run `train` once per (name, input corpus,
    * params) and persist the tiny result table under `target/parity/`, so
    * the 8 gate queries that consume identical training (d36, st18, e17,
    * e24–e28) stop re-running Lloyd rounds per query — serving queries
    * measure SERVING, which is also the production shape (train once,
    * serve many). The stamp content-fingerprints the INPUT (row count +
    * xxhash64 of every (vec_id, embedding)) plus the training params, so a
    * fixture or parameter change retrains instead of serving a stale
    * codebook; the fingerprint scan is one linear pass over the corpus,
    * amortized across every consumer in the run.
    */
  /** Materialize every memo-trained artifact the serving queries read —
    * coarse/IMI k-means codebooks at each gate geometry, the PQ codebooks,
    * and the PQ code tables at K=4/64/256 — so a bench starting from a
    * cold `target/` measures SERVING, not whichever query alphabetically
    * sorts first paying the one-time training (after a wipe, r14's first
    * run billed K=256 training+encode to e31 — 23.8 s against a ~1 s warm
    * serving path, the exact conflation the code-table memo exists to
    * remove). In production these artifacts are trained once and persist
    * with the index; training cost stays measured where it is the subject
    * (d38 runs its trainer un-memoized; ScaleSlope measures trainer
    * scaling). No-ops when the memos are already valid.
    */
  def warmServingArtifacts(spark: SparkSession, sfDir: String): Unit = {
    val n = table(spark, sfDir, "embeddings").count()
    kmeansCentroids(spark, sfDir, 2, 4)
    kmeansCentroids(spark, sfDir, 2, 16)
    semBinning(spark, sfDir, 2, semK(n))
    Seq(PqK, 64, 256).foreach(k => pqCodes(spark, sfDir, 2, k))
  }

  private def memoTrained(spark: SparkSession, sfDir: String, name: String,
      params: String)(train: => DataFrame): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    // params belong in the DIRECTORY key, not just the stamp: consumers of
    // the same artifact family at different geometries (e25 K=4 / e27 K=64
    // / e31 K=256 all name "pqbooks"; d36 k=4 vs d41 k=16 both "kmeans")
    // would otherwise share one slot and re-train + overwrite it on every
    // alternation — every gate run paid every training again (measured:
    // e31 26 s/run instead of its ~2 s warm serving)
    val pTag = params.replaceAll("[^A-Za-z0-9.]+", "_")
    val dir = parityDir(s"trained-$name-$pTag-$sfTag")
    // content fingerprint, cached per JVM behind a syscall-cheap sourceStamp
    // so only the FIRST memo consumer per on-disk state pays the xxhash scan
    StampedArtifact.getOrBuild(dir, "._trained_ok",
        s"$params|${RelationalQueries.corpusFingerprint(
          spark, sfDir, "embeddings", "vec_id, embedding")}") {
      train.write.mode("overwrite").parquet(s"file:$dir")
    }
    spark.read.parquet(s"file:$dir")
  }

  /** The trained codebook itself — `iters` Lloyd rounds from the demo seeds,
    * returned as (centroid_id, c: array<double>). Shared by e15 (training
    * diagnostics) and e17 (trained-index search); see [[e15Kmeans]] for the
    * determinism and per-iteration scale contract. Memoized per corpus via
    * [[memoTrained]].
    */
  private[operators] def kmeansCentroids(spark: SparkSession, sfDir: String,
      iters: Int = 2, k: Int = 4): DataFrame =
    memoTrained(spark, sfDir, "kmeans", s"$iters|$k") {
      lloydTrain(
        table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding")),
        iters, k)
    }

  /** [[kmeansCentroids]] generalized to ANY (vec_id, embedding) frame —
    * the semantic-dedup IMI path trains it on half-vector slices; the
    * e15/e17 chain trains it on full embeddings. Identical math either
    * way (decimal-exact means, dot-argmax assignment, seeds = vec_id < k).
    */
  private[operators] def lloydTrain(emb: DataFrame, iters: Int, k: Int): DataFrame = {
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("centroid_id"),
        transform(col("embedding"), x => x.cast("double")).as("c"))
    for (_ <- 1 to iters) {
      cents = assignTrained(emb, cents)
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("centroid_id", "pos")
        .agg((sum(col("v").cast("double").cast("decimal(30,12)")).cast("double") /
          count(lit(1))).as("mean"))
        .groupBy("centroid_id")
        .agg(map_from_entries(collect_list(
          struct(col("pos"), col("mean")))).as("m"))
        // dims derives from the data itself: the (centroid, pos) rollup emits
        // exactly one map entry per dimension, so size(m) == len(embedding) —
        // a different-dimensional fixture reshapes instead of null-padding
        .select(col("centroid_id"),
          transform(sequence(lit(0), size(col("m")) - 1),
            i => element_at(col("m"), i)).as("c"))
        // d19's iterative-plan rule: truncate lineage each round (the K-row
        // centroid frame is tiny) so codegen stays O(1) per round and the
        // final assign + norm consumers don't recompute the whole chain
        .localCheckpoint(true)
    }
    cents
  }

  /** Target within-bin population for semantic dedup (d36/st18). The bin
    * count k = max(4, ceil(N / this)) SCALES WITH THE CORPUS — the SemDeDup
    * linearity claim made real: Σ|bin|² ≈ N·SemTargetBin stays linear in N
    * instead of N²/k with a fixed k. 128 keeps the gate corpora (≤512
    * vectors) at exactly k=4, so the flat-k-means oracle is unchanged while
    * every larger corpus gets proportionally more cells.
    */
  private[operators] val SemTargetBin = 128

  private[operators] def semK(n: Long): Int =
    math.max(4, math.ceil(n.toDouble / SemTargetBin).toInt)

  /** The semantic-dedup binning codebooks for corpus size `n`:
    *
    *  - k == 4 (gate scale): ONE flat Lloyd codebook — byte-identical to
    *    the historical d36 path, which the DuckDB oracle restates.
    *  - k > 4: an INVERTED MULTI-INDEX (Babenko & Lempitsky's IMI recipe):
    *    the vector splits into two halves, each half trains its OWN
    *    kSide = ceil(sqrt(k)) Lloyd codebook, and a vector's bin is the
    *    PAIR of half-cell ids (kSide² ≈ k cells). This is what lets bin
    *    count scale with the corpus without quadratic training: flat
    *    Lloyd assignment is N·k dots per round — with k ∝ N that is N²,
    *    the exact scale-killer bin scaling is meant to fix — while IMI
    *    trains and assigns in N·2·ceil(sqrt(k)) HALF-dots (same bytes per
    *    dot pair), i.e. O(N^1.5) worst-case and effectively linear at any
    *    practical sf. Near-duplicate vectors agree on both halves, so they
    *    still land in the same cell and the within-bin pairwise rule sees
    *    them.
    *
    * Returns the codebook frames (1 = flat, 2 = IMI halves) + kSide.
    */
  private[operators] def semBinning(spark: SparkSession, sfDir: String,
      iters: Int, k: Int): (Seq[DataFrame], Int) =
    if (k <= 4) (Seq(kmeansCentroids(spark, sfDir, iters, k)), k)
    else {
      val kSide = math.ceil(math.sqrt(k.toDouble)).toInt
      // floor-int left width + remainder right width, so an ODD dimension
      // keeps its last element (size/2 is a double Divide that slice would
      // truncate-cast, silently dropping element d for d = 2m+1 — and
      // breaking parity with the oracle's len(e)//2 + slice-to-len halves)
      val halfW = floor(size(col("embedding")) / 2).cast("int")
      val restW = size(col("embedding")) - halfW
      val emb = table(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val books = Seq(("semL", lit(1), halfW), ("semR", halfW + 1, restW)).map {
        case (name, start, len) =>
          memoTrained(spark, sfDir, name, s"$iters|$kSide") {
            lloydTrain(emb.select(col("vec_id"),
              slice(col("embedding"), start, len).as("embedding")),
              iters, kSide)
          }
      }
      (books, kSide)
    }

  /** Assign every vector to its semantic-dedup bin under `books` (from
    * [[semBinning]], or rebuilt from collected rows on a micro-batch
    * session). Flat: one broadcast argmax — exactly [[assignTrained]].
    * IMI: TWO chained broadcast argmaxes (left half then right half), each
    * the same partial-aggregable max-struct — no N×N join, no sort-window,
    * two linear shuffles of one row per vector.
    */
  private[operators] def semAssignBins(emb: DataFrame, books: Seq[DataFrame],
      kSide: Int): DataFrame = {
    def dotDec(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v).cast("decimal(20,6)")
    books match {
      case Seq(flat) =>
        assignTrained(emb, flat)
          .select(col("vec_id"), col("embedding"), col("centroid_id").as("bin"))
      case Seq(left, right) =>
        // same floor-int split as semBinning: odd dims keep the last
        // element in the RIGHT half instead of silently dropping it
        val halfW = floor(size(col("embedding")) / 2).cast("int")
        emb.select(col("vec_id"), col("embedding"),
            slice(col("embedding"), lit(1), halfW).as("h0"),
            slice(col("embedding"), halfW + 1,
              size(col("embedding")) - halfW).as("h1"))
          .crossJoin(broadcast(left))
          .withColumn("sim_dec", dotDec(col("h0"), col("c")))
          .groupBy("vec_id")
          .agg(max(struct(col("sim_dec"), (-col("centroid_id")).as("ncid"),
            col("embedding").as("e"), col("h1").as("h1"))).as("w"))
          .select(col("vec_id"), col("w.e").as("embedding"),
            col("w.h1").as("h1"), (-col("w.ncid")).as("c0"))
          .crossJoin(broadcast(right))
          .withColumn("sim_dec", dotDec(col("h1"), col("c")))
          .groupBy("vec_id")
          .agg(max(struct(col("sim_dec"), (-col("centroid_id")).as("ncid"),
            col("embedding").as("e"), col("c0").as("c0"))).as("w"))
          .select(col("vec_id"), col("w.e").as("embedding"),
            (col("w.c0") * kSide - col("w.ncid")).as("bin"))
      case _ => throw new IllegalArgumentException(
        s"semAssignBins: expected 1 or 2 codebooks, got ${books.size}")
    }
  }

  def e15Kmeans(spark: SparkSession, sfDir: String, iters: Int = 2,
      k: Int = 4): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = kmeansCentroids(spark, sfDir, iters, k)
    val norm = sqrt(aggregate(col("c"), lit(0.0), (acc, x) => acc + x * x))
    assignTrained(emb, cents)
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("vec_id")).as("sum_vec_ids"))
      .join(cents.select(col("centroid_id"),
        norm.cast("decimal(20,6)").cast("double").as("centroid_norm")),
        "centroid_id")
      .select(col("centroid_id"), col("n_assigned"), col("sum_vec_ids"),
        col("centroid_norm"))
  }

  /** Per-subspace Lloyd training — the PQ analogue of [[kmeansCentroids]]:
    * each vector splits into M=8 8-dim subvectors, and each subspace m
    * trains its OWN K=4 codebook (init = the demo seed vectors' m-th
    * slices, `iters` assign/update rounds, max-dot assignment with the
    * lowest-centroid tiebreak, decimal-rounded like every trainer here).
    * Returns (m, centroid_id, c: array<double>).
    *
    * Scale shape: the subspace explode multiplies rows by M but DIVIDES
    * width by M — bytes scanned per round are unchanged; each round is one
    * broadcast (M·K codebook rows) + a partial-agg'd (m, centroid, pos)
    * mean, and `localCheckpoint` truncates the iterative lineage per the
    * d19 rule.
    */
  private def assignSub(sub: DataFrame, cents: DataFrame): DataFrame = {
    val dot = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    // same partial-aggregable argmax as assignTrained: the shuffle carries
    // one row per (vec_id, m) subvector, not the M·K-scaled candidate
    // stream a sort-window would move — this is what keeps training cost
    // linear in N as K grows to production geometry (e27)
    sub.join(broadcast(cents), "m")
      .withColumn("sim_dec", dot)
      .groupBy("vec_id", "m")
      .agg(max(struct(col("sim_dec"), (-col("centroid_id")).as("ncid"),
        col("v").as("sv"))).as("w"))
      .select(col("vec_id"), col("m"), col("w.sv").as("v"),
        (-col("w.ncid")).as("centroid_id"))
  }

  /** (vec_id, m, v): every vector exploded into its M double-cast 8-dim
    * subspace slices — the relational form the whole trained-PQ family
    * works in.
    */
  private def subspaces(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      explode(transform(sequence(lit(0), lit(PqM - 1)), m =>
        struct(m.cast("int").as("m"),
          transform(slice(col("embedding"), m * PqSub + 1, lit(PqSub)),
            x => x.cast("double")).as("v")))).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.v").as("v"))

  /** `kCode` is the per-subspace codebook size K — PqK (=4) for the demo-
    * geometry queries, 64+ for production geometry (real PQ is K=256; the
    * relational ADC consumers are O(1) in K by construction, so the only
    * K-dependent costs are here in training: the assign join's broadcast
    * side is M·K rows and the update aggregates M·K·subdim cells).
    */
  private[operators] def pqTrainedCodebooks(spark: SparkSession, sfDir: String,
      iters: Int = 2, kCode: Int = PqK): DataFrame =
    memoTrained(spark, sfDir, "pqbooks", s"$iters|$kCode") {
      pqTrainedCodebooksUncached(spark, sfDir, iters, kCode)
    }

  /** The corpus PQ CODE TABLE (vec_id, m, centroid_id) — in production the
    * codes ARE the index (they persist next to the inverted lists, e18's
    * discipline), so serving queries must read them, not recompute them:
    * re-encoding is N·M·K sub-dots per run, 64× e25's encode work at K=256,
    * and r13's e31 benched 6.4 s of exactly that against a serving plan
    * that is O(1) in K (r13 wrong #3). Memoized per (corpus fingerprint,
    * iters, K) like the codebooks themselves; e24/e25/e26/e27/e28/e30/e31
    * all serve from this table, so their bench times measure the
    * broadcast-join + partial-agg serving path.
    */
  private[operators] def pqCodes(spark: SparkSession, sfDir: String,
      iters: Int = 2, kCode: Int = PqK): DataFrame =
    memoTrained(spark, sfDir, "pqcodes", s"$iters|$kCode") {
      val emb = table(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      assignSub(subspaces(emb), pqTrainedCodebooks(spark, sfDir, iters, kCode))
        .select(col("vec_id"), col("m"), col("centroid_id"))
    }

  private def pqTrainedCodebooksUncached(spark: SparkSession, sfDir: String,
      iters: Int, kCode: Int): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val sub = subspaces(emb)
    var cents = sub.filter(col("vec_id") < kCode)
      .select(col("m"), col("vec_id").cast("int").as("centroid_id"),
        col("v").as("c"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      cents = assignSub(sub, cents)
        .select(col("m"), col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("m", "centroid_id", "pos")
        .agg((sum(col("x").cast("decimal(30,12)")).cast("double") /
          count(lit(1))).as("mean"))
        .groupBy("m", "centroid_id")
        .agg(map_from_entries(collect_list(
          struct(col("pos"), col("mean")))).as("mm"))
        .select(col("m"), col("centroid_id"),
          transform(sequence(lit(0), size(col("mm")) - 1),
            i => element_at(col("mm"), i)).as("c"))
        .localCheckpoint(true)
    }
    cents
  }

  /** e24: TRAINED PQ CODEBOOKS — closes the last open training loop in the
    * ANN family (e15/e17 train the coarse IVF centroids; e11/e14's sub-
    * codebooks were demo seeds with "production trains k-means per
    * subspace" as prose — this is that training, oracled). Output = e15's
    * diagnostics per (subspace, centroid): assignment census + codebook
    * norms, which pins every trained value and every final assignment
    * through the hash.
    */
  def e24TrainedPq(spark: SparkSession, sfDir: String, iters: Int = 2): DataFrame = {
    val cents = pqTrainedCodebooks(spark, sfDir, iters)
    val norm = sqrt(aggregate(col("c"), lit(0.0), (acc, x) => acc + x * x))
    pqCodes(spark, sfDir, iters)
      .groupBy("m", "centroid_id")
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("vec_id")).as("sum_vec_ids"))
      .join(cents.select(col("m"), col("centroid_id"),
        norm.cast("decimal(20,6)").cast("double").as("centroid_norm")),
        Seq("m", "centroid_id"))
      .select(col("m"), col("centroid_id"), col("n_assigned"),
        col("sum_vec_ids"), col("centroid_norm"))
  }

  /** e25: ADC SEARCH OVER TRAINED CODEBOOKS — e24's per-subspace k-means
    * codebooks driving the full PQ search, in the RELATIONAL ADC
    * formulation: codes are (neighbor, m, code) rows, the query side is its
    * M×K sub-dot table as (query, m, code, qd) rows, and scoring is one
    * equi-join on (m, code) + a partial-aggregated sum per (query,
    * neighbor). Versus e11's staged-column unrolling this is the shape that
    * scales past demo K: the codebook never appears in expression trees
    * (codegen size is O(1) in K), the join build side is Q·M·K rows
    * (broadcastable for any real query batch), and the shuffle carries
    * partial score sums, never vectors. Exact decimal sub-dots make the
    * summed score bit-identical across engines and aggregation orders.
    */
  def e25TrainedPqSearch(spark: SparkSession, sfDir: String,
      k: Int = 3, iters: Int = 2, kCode: Int = PqK): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = pqTrainedCodebooks(spark, sfDir, iters, kCode)
    // serving reads the persisted code table — only the QUERY batch is
    // sub-sliced and encoded per run (Q·M rows), never the corpus
    val codes = pqCodes(spark, sfDir, iters, kCode)
      .select(col("vec_id").as("neighbor_id"), col("m"), col("centroid_id"))
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qdots = subspaces(emb.filter(col("vec_id") < 10))
      .join(broadcast(cents), "m")
      .select(col("vec_id").as("query_id"), col("m"), col("centroid_id"),
        dotc.as("qd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    codes.join(broadcast(qdots), Seq("m", "centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_sum").cast("double").as("tpq_sim"))
  }

  /** e27: PRODUCTION-GEOMETRY PQ — e25's trained ADC serving at K=64
    * sub-centroids per subspace (real PQ is K=256; the demo-geometry e24/
    * e25 train K=4). The point this query PROVES rather than argues: the
    * relational ADC is O(1) in K — codes are still one (neighbor, m, code)
    * row each, the query table grows only to Q·M·K broadcastable rows
    * (10·8·64 = 5120 here), and no expression tree anywhere enumerates K
    * (the column-unrolled alternative would blow codegen up 16×). Training
    * cost is the only K-scaled stage, bounded at M·K·subdim aggregate
    * cells per Lloyd round. Oracled with the same unrolled-CTE mirror as
    * e25 at K=64, so convergence of the bigger training is hash-pinned,
    * not assumed; serving-flat-in-K is adjudicated by this query's bench
    * time sitting next to e25's.
    */
  def e27PqK64(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2, kCode: Int = 64): DataFrame =
    e25TrainedPqSearch(spark, sfDir, k, iters, kCode)

  /** e31: THE REAL PQ GEOMETRY — e25's trained ADC serving at K=256
    * sub-centroids per subspace, the production codebook width (e27 proved
    * K=64). Nothing in the serving plan changes with K: codes stay one
    * (neighbor, m, code) row, the query table grows to Q·M·K = 10·8·256 =
    * 20480 broadcastable rows, and no expression enumerates K. With
    * codebooks memoized the K-scaled Lloyd training lands once at build
    * time; this query's bench time sitting next to e25's is the
    * serving-flat-in-K claim pinned at the geometry it was made for.
    */
  def e31PqK256(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2, kCode: Int = 256): DataFrame =
    e25TrainedPqSearch(spark, sfDir, k, iters, kCode)

  /** e26: FULLY-TRAINED IVF-PQ — the production composition with every
    * quantizer trained: e15's Lloyd rounds train the coarse centroids
    * (candidate pruning), e24's per-subspace Lloyd trains the fine
    * sub-codebooks (compressed scoring), and serving is e25's relational
    * ADC restricted to candidates sharing the query's coarse bin
    * (nprobe=1). e17 proved trained-coarse + demo-fine; this removes the
    * last demo seed from the serving path.
    *
    * Scale shape: both trainings are the bounded per-round scans their own
    * queries pin; serving joins codes → coarse bin (bin column rides the
    * code rows), then the broadcast query table join on (bin, m, code) +
    * partial-agg'd score sum — candidate volume ∝ nprobe/C of the corpus,
    * score shuffle carries partial sums only.
    */
  def e26TrainedIvfPqFull(spark: SparkSession, sfDir: String,
      k: Int = 3, iters: Int = 2): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val fine = pqTrainedCodebooks(spark, sfDir, iters)
    val coarse = assignTrained(emb, kmeansCentroids(spark, sfDir, iters))
      .select(col("vec_id"), col("centroid_id").as("bin"))
    val codes = pqCodes(spark, sfDir, iters)
      .select(col("vec_id").as("neighbor_id"), col("m"), col("centroid_id"))
      .join(coarse.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qdots = subspaces(emb.filter(col("vec_id") < 10))
      .join(broadcast(fine), "m")
      .select(col("vec_id").as("query_id"), col("m"), col("centroid_id"),
        dotc.as("qd"))
      .join(coarse.withColumnRenamed("vec_id", "query_id"), "query_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    codes.join(broadcast(qdots), Seq("bin", "m", "centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_sum").cast("double").as("fivfpq_sim"))
  }

  /** e32: PERSISTED IVF-PQ INDEX — the two persistence threads of the ANN
    * family tied together into the production artifact: e18 persists
    * inverted lists but stores RAW vectors; pqCodes persists the code
    * table but only as an in-session memo. A deployed IVF-PQ index is one
    * on-disk object — the inverted lists, partitioned by coarse bin, whose
    * entries are the M-byte PQ codes (32× smaller than the vectors here) —
    * and serving reads ONLY the probed bins' code partitions and scores
    * them by ADC. This operator materializes exactly that: (vec_id, m,
    * code) rows under trained coarse assignment, written
    * `partitionBy(bin)` once per corpus cut (stamp-guarded — the build is
    * st17's job class, not serving work), then e26's relational ADC
    * serving runs with the candidate read partition-pruned to the queries'
    * bins. The oracle is e26's fully-trained SQL verbatim: same math, same
    * rows — only the storage path differs, which is the claim.
    *
    * Scale shape: per-query serving I/O is nprobe/C of the CODE table
    * (M bytes/vector, not the vector itself) — the 100 TB ANN recipe's
    * denominator and numerator both improved: bin pruning divides by C,
    * PQ divides the bytes per entry; the ADC join build side stays Q·M·K
    * broadcast rows and the score shuffle carries partial sums only.
    */
  /** Build-once accessor for e32's on-disk IVF-PQ index (bin-partitioned
    * inverted lists of M-byte PQ codes under the trained coarse
    * assignment). Stamp-guarded per corpus cut — the build is st17's job
    * class; e32's serving and st22's streaming serving both read this one
    * artifact. Returns the index directory.
    */
  private[operators] def persistedIvfPqIndexDir(spark: SparkSession,
      sfDir: String, iters: Int): String = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val coarse = assignTrained(emb, kmeansCentroids(spark, sfDir, iters))
      .select(col("vec_id"), col("centroid_id").as("bin"))
    val indexDir = parityDir(s"e32-index-$sfTag")
    StampedArtifact.getOrBuild(indexDir, "._index_ok",
        s"$sfDir|$iters|" + RelationalQueries.sourceStamp(sfDir, "embeddings")) {
      pqCodes(spark, sfDir, iters)
        .select(col("vec_id"), col("m"), col("centroid_id").as("code"))
        .join(coarse, "vec_id")
        .write.mode("overwrite").partitionBy("bin")
        .parquet(s"file:$indexDir")
    }
    indexDir
  }

  def e32PersistedIvfPq(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val fine = pqTrainedCodebooks(spark, sfDir, iters)
    val coarse = assignTrained(emb, kmeansCentroids(spark, sfDir, iters))
      .select(col("vec_id"), col("centroid_id").as("bin"))
    val indexDir = persistedIvfPqIndexDir(spark, sfDir, iters)

    // query side: the M×K sub-dot ADC table + each query's own coarse bin
    // (nprobe=1, e26's geometry)
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qdots = subspaces(emb.filter(col("vec_id") < 10))
      .join(broadcast(fine), "m")
      .select(col("vec_id").as("query_id"), col("m"),
        col("centroid_id").as("code"), dotc.as("qd"))
      .join(coarse.withColumnRenamed("vec_id", "query_id"), "query_id")
    val probed = qdots.select(col("bin").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val idx = spark.read.option("basePath", s"file:$indexDir")
      .parquet(s"file:$indexDir")
      .filter(col("bin").cast("int").isin(probed: _*))
      .select(col("vec_id").as("neighbor_id"), col("m"), col("code"),
        col("bin").cast("long").as("bin"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    idx.join(broadcast(qdots), Seq("bin", "m", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_sum").cast("double").as("fivfpq_sim"))
  }

  /** e28: TRAINED NPROBE SERVING — the fully-trained IVF-PQ composition
    * (e26) with a TUNABLE probe set: each query scores candidates from its
    * `nprobe` nearest coarse centroids instead of only its own bin, the
    * production recall knob (e16 measured the nprobe-recall curve on the
    * demo-centroid IVF-flat; this puts the knob on the trained compressed
    * path). Probe selection is a Q·K broadcast ranking (decimal dot,
    * lowest-centroid ties); candidates come from the probe-set equi-join
    * on bin — never a cartesian — and scoring is the relational ADC
    * unchanged.
    *
    * Scale shape: candidate volume ∝ nprobe/C of the corpus per query —
    * the exact dial a deployment turns; the probe table is Q·nprobe rows
    * broadcast; the score shuffle still carries partial sums only.
    */
  def e28TrainedNprobe(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2, nprobe: Int = 2): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val fine = pqTrainedCodebooks(spark, sfDir, iters)
    val coarseCents = kmeansCentroids(spark, sfDir, iters)
    val coarse = assignTrained(emb, coarseCents)
      .select(col("vec_id"), col("centroid_id").as("bin"))
    val codes = pqCodes(spark, sfDir, iters)
      .select(col("vec_id").as("neighbor_id"), col("m"), col("centroid_id"))
      .join(coarse.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim_dec").desc, col("centroid_id").asc)
    val probes = emb.filter(col("vec_id") < 10)
      .crossJoin(broadcast(coarseCents))
      .withColumn("sim_dec", trainedDotDec)
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("bin"))
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qdots = subspaces(emb.filter(col("vec_id") < 10))
      .join(broadcast(fine), "m")
      .select(col("vec_id").as("query_id"), col("m"), col("centroid_id"),
        dotc.as("qd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    codes.join(broadcast(probes), "bin")
      .join(broadcast(qdots), Seq("query_id", "m", "centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_sum").cast("double").as("npq_sim"))
  }

  /** e29: RECALL ON THE TRAINED NPROBE PATH — e28 added the recall knob to
    * the fully-trained index; this measures what turning it buys. e16's
    * recall-vs-cost curve (nprobe ∈ {1,2,4}, recall@k against e2's exact
    * brute-force top-k) re-run over the TRAINED coarse quantizer: probed
    * bins come from [[kmeansCentroids]]' trained assignment (e28's
    * candidate generation), candidates are scored EXACT (IVF-flat) like
    * e16. Exact scoring is what makes the curve the knob's own signal:
    * hits = |brute-top-k ∩ candidate set| (an exact-scored candidate
    * superset can never lose a true neighbor), so recall is MONOTONE in
    * nprobe by construction and nprobe = #bins anchors at recall 1.0 —
    * the curve isolates candidate COVERAGE. The PQ-ADC ranking error on
    * top of coverage is a separate, orthogonal axis (e12's two-stage
    * refine exists exactly to absorb it; at gate geometry, K=4 codes are
    * deliberately coarse and would drown the coverage signal in
    * quantization noise).
    *
    * Plan shape: one trained-assignment scan serves corpus bins and query
    * probe ranks; the (query × nprobe) probe table is ≤ 30 rows broadcast
    * into the bin equi-join — the sweep multiplies only the probe side,
    * never the corpus. Ground truth is e2 (its own oracled query).
    */
  def e29TrainedNprobeRecall(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2, nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    import spark.implicits._
    val emb = table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val coarseCents = kmeansCentroids(spark, sfDir, iters)
    val assigned = assignTrained(emb, coarseCents)
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").as("bin"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim_dec").desc, col("centroid_id").asc)
    val probes = emb.filter(col("vec_id") < 10)
      .crossJoin(broadcast(coarseCents))
      .withColumn("sim_dec", trainedDotDec)
      .withColumn("rk", row_number().over(wp))
      .crossJoin(nprobes.toDF("nprobe"))
      .filter(col("rk") <= col("nprobe"))
      .select(col("nprobe"), col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("centroid_id").as("bin"))
    def dotOf(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def normOf(c: Column): Column = sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val cand = assigned.join(broadcast(probes), "bin")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", (dotOf(col("q_emb"), col("embedding")) /
        (normOf(col("q_emb")) * normOf(col("embedding"))))
        .cast("decimal(20,6)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("nprobe", "query_id")
      .orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    val topk = cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("nprobe", "query_id", "neighbor_id")
    val brute = e2KnnBrute(spark, sfDir, k).select("query_id", "neighbor_id")
    val hits = topk.join(brute, Seq("query_id", "neighbor_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("sum_hits"))
    // denominator from the probe table (queries × k), not hardcoded — a
    // non-default query set or k stays self-consistent (e16's rule)
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

  /** d41: IMI CO-BIN RECALL — the e29 measurement discipline applied to
    * semantic dedup's scale path. d40 proved the IMI (product of two
    * half-vector codebooks) binning COMPUTES correctly at k=16; this
    * measures what the half-vector relaxation COSTS the dedup: of the
    * near-dup pairs (cosine >= threshold) that the flat k-codebook co-bins
    * — the pairs flat-k SemDeDup would remove — what fraction does the IMI
    * binning also co-bin (and therefore also remove)? One row:
    * (n_flat_pairs, n_cobinned, cobin_recall).
    *
    * Scale shape: both binnings are broadcast argmax assignments (one
    * linear pass each, codebooks memoized); the pair space is the flat
    * WITHIN-BIN join (Σ|bin|², never N²); the IMI bins ride the pair rows
    * through two broadcast-sized joins. This is a diagnostic you could run
    * on a 100 TB corpus sample at the cost of one d36 pass.
    *
    * Measured on the gate fixture: ~0.20 at k=16 — the half-vector product
    * is a LOSSY relaxation on this corpus (near-isotropic synthetic
    * embeddings give weak half/full agreement; real text embeddings
    * cluster consistently in both halves and co-bin far higher). This
    * query exists precisely to measure that trade per-corpus before
    * choosing kSide / falling back to flat binning on a sample.
    */
  def d41ImiCobinRecall(spark: SparkSession, sfDir: String,
      threshold: Double = 0.25, iters: Int = 2, k: Int = 16): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val norm = (c: Column) => sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    // flat k=16 binning: the exact reference SemDeDup would use
    val flatBins = assignTrained(emb, kmeansCentroids(spark, sfDir, iters, k))
      .select(col("vec_id"), col("embedding"), col("centroid_id").as("bin"),
        norm(col("embedding")).as("nrm"))
    val dotAB = aggregate(
      zip_with(col("emb_a"), col("emb_b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val flatPairs = flatBins
      .select(col("bin"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      .join(flatBins.select(col("bin"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), "bin")
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim_dec",
        (dotAB / (col("nrm_a") * col("nrm_b"))).cast("decimal(20,6)"))
      .filter(col("sim_dec") >= threshold)
      .select("id_a", "id_b")
    // IMI binning at the same k (k=16 -> kSide=4 half-vector codebooks)
    val (books, kSide) = semBinning(spark, sfDir, iters, k)
    val imi = semAssignBins(emb, books, kSide)
      .select(col("vec_id"), col("bin"))
    flatPairs
      .join(imi.select(col("vec_id").as("id_a"), col("bin").as("ibin_a")), "id_a")
      .join(imi.select(col("vec_id").as("id_b"), col("bin").as("ibin_b")), "id_b")
      .agg(count(lit(1)).as("n_flat_pairs"),
        sum(when(col("ibin_a") === col("ibin_b"), 1L).otherwise(0L))
          .as("n_cobinned"))
      .select(col("n_flat_pairs"), col("n_cobinned"),
        (col("n_cobinned").cast("double") / col("n_flat_pairs"))
          .cast("decimal(10,6)").cast("double").as("cobin_recall"))
  }

  /** e30: TWO-STAGE REFINE ON THE TRAINED PATH — the partner measurement
    * to e29. e29 proved the nprobe knob delivers candidate COVERAGE; this
    * proves the PQ-ADC ranking noise on top of that coverage is
    * RECOVERABLE: e28's trained ADC scoring shortlists the top
    * `shortlist` candidates per query, the shortlist alone is re-ranked
    * by exact cosine (e12's refine recipe on the trained index), and both
    * stages' recall@k vs e2's brute top-k is reported side by side.
    * Refined recall ≥ ADC recall is PROVABLE (refined hits =
    * |brute ∩ shortlist| ⊇ |brute ∩ adc-top-k|, since any exact-scored
    * vector outranking a brute-top-k member is itself brute-top-k) — the
    * spec pins it; the gap between the rows is exactly what refinement
    * buys at production serving cost: exact distances on R candidates per
    * query instead of the whole probed set.
    *
    * Plan shape: e28's broadcast probe/ADC pipeline unchanged; the
    * shortlist (Q·R rows) broadcasts into one corpus equi-join for the
    * exact re-rank — refine cost is ∝ Q·R, independent of corpus size.
    */
  def e30TrainedRefine(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2, nprobe: Int = 2, shortlist: Int = 10): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val fine = pqTrainedCodebooks(spark, sfDir, iters)
    val coarseCents = kmeansCentroids(spark, sfDir, iters)
    val coarse = assignTrained(emb, coarseCents)
      .select(col("vec_id"), col("centroid_id").as("bin"))
    val codes = pqCodes(spark, sfDir, iters)
      .select(col("vec_id").as("neighbor_id"), col("m"), col("centroid_id"))
      .join(coarse.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim_dec").desc, col("centroid_id").asc)
    val probes = emb.filter(col("vec_id") < 10)
      .crossJoin(broadcast(coarseCents))
      .withColumn("sim_dec", trainedDotDec)
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("bin"))
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qdots = subspaces(emb.filter(col("vec_id") < 10))
      .join(broadcast(fine), "m")
      .select(col("vec_id").as("query_id"), col("m"), col("centroid_id"),
        dotc.as("qd"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    val short = codes.join(broadcast(probes), "bin")
      .join(broadcast(qdots), Seq("query_id", "m", "centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rk", row_number().over(wA))
      .filter(col("rk") <= shortlist)
    val adcTopk = short.filter(col("rk") <= k).select("query_id", "neighbor_id")
    def dotOf(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def normOf(c: Column): Column = sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    val refTopk = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"))
      .join(broadcast(short.select("query_id", "neighbor_id")), "neighbor_id")
      .join(broadcast(emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))),
        "query_id")
      .withColumn("sim_dec", (dotOf(col("q_emb"), col("n_emb")) /
        (normOf(col("q_emb")) * normOf(col("n_emb")))).cast("decimal(20,6)"))
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id")
    val brute = e2KnnBrute(spark, sfDir, k).select("query_id", "neighbor_id")
    val nQ = probes.agg(countDistinct(col("query_id"))).collect()(0).getLong(0)
    def stageRow(name: String, topk: DataFrame) =
      topk.join(brute, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("sum_hits"))
        .select(lit(name).as("stage"), col("sum_hits"),
          (col("sum_hits").cast("double") / (nQ * k)).as("avg_recall"))
    stageRow("adc", adcTopk).unionByName(stageRow("refined", refTopk))
  }

  /** e17: the CLOSED training loop — train (e15's Lloyd rounds) → index →
    * search, one oracled pipeline. e14 demonstrated the IVF-PQ plan shape on
    * the demo seeds; production indexes search the codebook k-means actually
    * produced, so here the coarse assignment runs against
    * [[kmeansCentroids]]' trained centroids and everything downstream is
    * e14's recipe unchanged: probed-bin equi-join candidate generation
    * (nprobe=1), 8-byte PQ codes, ADC table lookups, decimal-ranked top-k.
    *
    * Scale shape: training shuffles K·d aggregate rows per round
    * ([[e15Kmeans]]); the trained codebook is a K-row broadcast; assignment
    * is one scan; search is e14's shuffle-hash candidate join — no stage
    * grows with N beyond the linear scans.
    */
  def e17TrainedIvfPq(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val asg = assignTrained(emb, kmeansCentroids(spark, sfDir, iters))
      .select(col("vec_id"), col("centroid_id"))
    val queries = pqQueryTable(spark, sfDir)
      .join(broadcast(asg.filter(col("vec_id") < 10)
        .withColumnRenamed("vec_id", "query_id")), "query_id")
    val cands = pqCodes(spark, sfDir)
      .join(asg.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    cands.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", pqScoreDec.cast("decimal(24,6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("tivfpq_sim"))
  }

  /** e18: PERSISTED IVF index + partition-pruned serving — the storage side
    * of the ANN family. e6/e14/e17 rebuild their inverted lists in memory
    * on every run; a production index is built ONCE per corpus cut and
    * persisted, and a query then touches only its probed bins ON DISK.
    * Here the corpus assignment (e6's demo centroids, so the oracle is
    * e6's restatement verbatim — same result, persisted path) is written
    * as parquet PARTITIONED BY centroid_id — the on-disk form of IVF's
    * inverted lists — and the serving read carries a centroid_id partition
    * predicate: unprobed bins' directories are never listed, let alone
    * scanned (`PartitionFilters` pinned in `PlanShapeSpec`). At 100 TB the
    * build cost amortizes over every query; per-query serving I/O is
    * ∝ nprobe/C of the corpus plus a broadcast of the query rows.
    */
  def e18PersistedIvf(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val assigned = assignToCentroids(spark, sfDir, emb)

    val dir = new java.io.File(
      s"target/parity/ivf-index-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}")
      .getAbsoluteFile.toString
    assigned.write.mode("overwrite")
      .partitionBy("centroid_id").parquet(s"file:$dir")

    val queries = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    // nprobe=1 probe set: the distinct centroids the queries map to — a
    // tiny driver list that becomes the index read's partition predicate
    val bins = queries.select(col("centroid_id").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val idx = spark.read.option("basePath", s"file:$dir").parquet(s"file:$dir")
      .filter(col("centroid_id").cast("int").isin(bins: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").cast("long").as("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** The RAW inverted-list index row schema — what [[assignToCentroids]] /
    * [[assignTrained]] emit and every raw-index generation persists
    * (vec_id, embedding, centroid_id). Declared ONCE next to the writers
    * and shared by the geometry-only-generation serving fallbacks
    * ([[serveManifestFiles]]), so a schema change there cannot silently
    * leave the empty-generation path analyzing against a stale shape.
    */
  private[operators] val RawIndexRowSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("centroid_id",
        org.apache.spark.sql.types.LongType)))

  /** The COMPRESSED (PQ-code) index row schema — what [[ivfPqIndexRows]]
    * emits and every compressed generation persists (vec_id, m, code,
    * bin); shared with [[serveIvfPqGeneration]]'s empty-generation
    * fallback for the same no-drift reason as [[RawIndexRowSchema]].
    */
  private[operators] val PqIndexRowSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("m",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("bin",
        org.apache.spark.sql.types.LongType)))

  /** A demo-schema coarse codebook (centroid_id, c_emb: array<float>)
    * collected to the driver: its K rows in ascending centroid_id order,
    * plus the centroid_id column's type so assignment emits exactly that
    * type. A codebook is K rows, so collecting it costs one small job —
    * once per stream when a caller resolves it before `.start()`.
    */
  private[operators] final case class Codebook(
      centroids: Seq[(Long, Seq[java.lang.Float])],
      idType: org.apache.spark.sql.types.DataType)

  private[operators] def collectCodebook(cents: DataFrame): Codebook = {
    val idType = cents.schema("centroid_id").dataType
    require(cents.schema("c_emb").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }, s"codebook c_emb must be array<float>: ${cents.schema.simpleString}")
    Codebook(cents.select(col("centroid_id").cast("long"), col("c_emb"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[java.lang.Float](1)))
      .sortBy(_._1), idType)
  }

  /** The demo centroid set (vec_id < 4, the e4/e6/e18 family), collected. */
  private[operators] def demoCodebook(spark: SparkSession,
      sfDir: String): Codebook =
    collectCodebook(table(spark, sfDir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb")))

  /** Coarse assignment of `rows` (vec_id, embedding) to a driver-side
    * codebook as ONE in-row argmax: each row scores every centroid with
    * the float dot product rounded to decimal(20,6) and keeps the highest
    * score, ties (and an all-null score row, e.g. a null embedding) going
    * to the lowest centroid_id — exactly the order of the historical
    * crossJoin + `row_number()` window (score DESC NULLS LAST, centroid_id
    * ASC), with no join, window or shuffle. Output is (vec_id, embedding,
    * centroid_id) in the input's partitioning; an empty codebook yields no
    * rows, as the crossJoin did.
    *
    * The window also collapsed duplicate vec_id rows; this does not.
    * Every caller passes rows keyed by vec_id — the embeddings table or a
    * filter of it, a stream batch of its disjoint range split, or such a
    * batch anti-joined with tombstones.
    */
  private[operators] def assignToCodebook(rows: DataFrame,
      cb: Codebook): DataFrame = {
    // struct order is field order: the score first, then -index, so the
    // lower centroid_id wins a tie; a null score sorts below any score
    val cid =
      if (cb.centroids.isEmpty) lit(null).cast(cb.idType)
      else array_max(array(cb.centroids.zipWithIndex.map {
        case ((id, emb), i) => struct(
          dot(col("embedding"), typedLit(emb)).cast("decimal(20,6)").as("s"),
          lit(-i).as("o"),
          lit(id).cast(cb.idType).as("c"))
      }: _*)).getField("c")
    val assigned = rows.select(col("vec_id"), col("embedding"),
      cid.as("centroid_id"))
    if (cb.centroids.isEmpty) assigned.filter(lit(false)) else assigned
  }

  /** Coarse assignment of `rows` (vec_id, embedding) to the demo centroid
    * set: each vector goes to its max-dot-product centroid with the
    * deterministic centroid-id tiebreak ([[assignToCodebook]]). Public
    * because the e20 append path and its file-identity spec both need to
    * assign SUBSETS of the corpus independently — assignment is
    * per-vector, so assigning a partition of the corpus in pieces yields
    * exactly the same (vector → bin) map as one full pass.
    */
  def assignToCentroids(spark: SparkSession, sfDir: String,
      rows: DataFrame): DataFrame =
    assignToCodebook(rows, demoCodebook(spark, sfDir))

  /** [[assignToCentroids]] against an EXPLICIT demo-schema codebook
    * (centroid_id, c_emb: array<float>) — the serving side of a
    * generation whose geometry rides its own sidecar: the codebook comes
    * from the generation commit, never re-derived from the corpus, but
    * the float-dot assignment math stays bit-identical to the historical
    * demo path (the oracles restate exactly that arithmetic).
    */
  def assignToGivenCentroids(rows: DataFrame, cents: DataFrame): DataFrame =
    assignToCodebook(rows, collectCodebook(cents))

  /** e20: INCREMENTAL INDEX APPEND — the maintenance half of the persisted
    * IVF story (e18 builds + serves; this absorbs NEW vectors without a
    * rebuild). 90% of the corpus is indexed as the base; the remaining 10%
    * arrives later and is assigned ALONE (a batch-sized scan, not a corpus
    * scan) and appended into its bins as new parquet files — existing index
    * files are never rewritten (file identity pinned in
    * `PipelineQueriesSpec`). Because coarse assignment is per-vector, base
    * ∪ append is bit-identical to a full rebuild — which is exactly what
    * the oracle states: e18's full-corpus SQL, verbatim. Serving is
    * unchanged (bin-pruned read over the merged lists).
    *
    * Scale shape: absorbing a day's new embeddings into a 10^10-vector
    * index costs one batch-sized assignment scan + appends touching only
    * the bins the batch maps to; compaction of accreted small files is c3's
    * sweep applied to bin directories.
    */
  def e20IvfAppend(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val dir = new java.io.File(
      s"target/parity/ivf-aindex-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}")
      .getAbsoluteFile.toString
    val oldCorpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 7)
    val newBatch = emb.filter(pmod(col("vec_id"), lit(10)) === 7)
    assignToCentroids(spark, sfDir, oldCorpus)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"file:$dir")
    assignToCentroids(spark, sfDir, newBatch)
      .write.mode("append").partitionBy("centroid_id").parquet(s"file:$dir")

    val queries = assignToCentroids(spark, sfDir, emb.filter(col("vec_id") < 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val bins = queries.select(col("centroid_id").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val idx = spark.read.option("basePath", s"file:$dir").parquet(s"file:$dir")
      .filter(col("centroid_id").cast("int").isin(bins: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").cast("long").as("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** st17: STREAMING INDEX INGEST — the continuous-embedding-pipeline form
    * of e20's incremental append: the corpus arrives as a file STREAM
    * (`maxFilesPerTrigger=1` forces multi-batch), and every micro-batch is
    * assigned alone (a batch-sized scan, never a corpus scan) and appended
    * into its bins of the persisted partitioned index; serving is e18's
    * bin-pruned read over the accreted lists. Because coarse assignment is
    * per-vector, stream-built ∪ equals the one-shot build bit-exactly —
    * the oracle is e18's full-corpus restatement verbatim, which is the
    * strongest possible statement of the equivalence. The gate replay uses
    * a fresh checkpoint + overwritten index per run; a production deploy
    * makes the append exactly-once by routing batch files through
    * [[graft.sources.SnapshotLog]] with the batchId as commitKey (st15's
    * mechanism) at the cost of manifest-based instead of directory-based
    * bin pruning.
    *
    * Scale shape: per batch, cost ∝ batch size (assignment is an in-row
    * argmax over the K-row codebook, collected once per stream; the append
    * touches only the bins the batch maps to); the index never rewrites
    * an existing file, so a day's stream accretes files compacted later
    * by e23's bin-scoped sweep.
    */
  /** e18's ranking over an explicit manifest-file list — the serving tail
    * shared by st17 (logical-bin file selection) and st24 (map-routed
    * physical-bin selection), factored so the two generations cannot
    * drift (the ivfServeBatch rule): queries whose probed bins match NO
    * manifest file (only reachable for queries outside the indexed
    * corpus) degrade to an empty result, not an AnalysisException from a
    * zero-path read — the schema comes from the full manifest, filtered
    * false so no data file is opened (the lshPrior rule); then the bin
    * equi-join with the broadcast query set and the deterministic top-k.
    */
  private def serveManifestFiles(spark: SparkSession, queries: DataFrame,
      mf: Seq[String], idxFiles: Seq[String], k: Int): DataFrame = {
    // the zero-match schema fallback must read DATA files only — a
    // sidecar-bearing generation manifest would otherwise merge the
    // codebook's schema into the (empty) index scan — and must survive a
    // manifest with NO data files at all (st27's geometry-first deploy:
    // a generation commit carrying only the codebook sidecar, before any
    // ingest lands): a zero-path parquet read throws, so that case gets
    // an explicitly-typed empty frame instead (shared constant: see
    // [[RawIndexRowSchema]] — the writer and this fallback cannot drift)
    val dataMf = SnapshotLog.dataFiles(mf)
    val idxRaw =
      if (idxFiles.nonEmpty) spark.read.parquet(idxFiles: _*)
      else if (dataMf.nonEmpty)
        spark.read.parquet(dataMf: _*).filter(lit(false))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        RawIndexRowSchema)
    val idx = idxRaw
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").cast("long").as("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** Absolute local path of a fixture or per-run state dir under
    * `target/parity`.
    */
  private def parityDir(name: String): String =
    new java.io.File(s"target/parity/$name").getAbsoluteFile.toString

  /** The declared arrival schema of the vector streams: (vec_id,
    * embedding) rows, as the arrival fixtures write them.
    */
  private[graft] val EmbeddingArrivalSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
  }

  /** The declared arrival schema of the serving-tick streams (st26/st28):
    * one `tick` row per file, each file one serving request.
    */
  private val TickSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("tick", LongType)))
  }

  /** Fixture shared by the corpus-arrival streams (st17/st18/st21/st24/
    * st25/st27): the embeddings table split into 4 range-partitioned
    * parquet files so a file stream genuinely runs multiple micro-batches;
    * memoized on the source stamp across JVMs. `emb` is the caller's
    * embeddings frame, so the fixture opens no second reader over it.
    */
  private[operators] def embSplitFixture(emb: DataFrame,
      sfDir: String): (String, Long) = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val splitDir = parityDir(s"emb-split-$sfTag")
    val nEmb = emb.count()
    MicroBatchJob.splitArrivals(emb.select(col("vec_id"), col("embedding")),
      "vec_id", 4, splitDir, "._split_ok",
      s"$sfDir|$nEmb|${RelationalQueries.sourceStamp(sfDir, "embeddings")}")
    // the count rides back so callers deriving size-scaled bounds don't
    // pay a second count job over the same table
    (splitDir, nEmb)
  }

  /** A query-arrival fixture for the serving streams (st20/st22/st23): the
    * first `nQueries` vec_ids range-split into 4 files under `dir`, so the
    * stream genuinely runs multiple micro-batches; stamp-guarded.
    */
  private def queryArrivals(emb: DataFrame, dir: String, nQueries: Int,
      stamp: String): String = {
    MicroBatchJob.splitArrivals(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")), "vec_id", 4, dir,
      "._queries_ok", stamp)
    dir
  }

  def st17StreamingIndexIngest(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
    val (splitDir, _) = embSplitFixture(emb, sfDir)
    val indexDir = parityDir(s"ivf-sindex-$sfTag")
    val ckptDir = parityDir(s"ivf-sckpt-$sfTag")
    MicroBatchJob.wipe(spark, s"file:$indexDir", s"file:$ckptDir")
    // the codebook is resolved once per stream, not once per batch
    val cb = demoCodebook(spark, sfDir)

    MicroBatchJob.run(spark, splitDir, EmbeddingArrivalSchema, ckptDir, 8) {
      (bs, batch, batchId) =>
        // batchId-keyed SnapshotLog commit, not a plain append: batch delivery
        // is at-least-once, and a replay after a partial append would
        // duplicate index entries; the keyed commit no-ops on replay. The
        // in-loop maintenance compacts per LIST (st21's rule): untouched
        // inverted lists keep their files' physical identity
        MicroBatchJob.appendBatch(bs, s"file:$indexDir",
          assignToCodebook(batch, cb), batchId, Some("centroid_id"),
          maxFilesPerPartition = 2)
    }

    // e18's serving, over the stream-built index: probed bins resolve to
    // manifest files by their `_centroid_id=` path level — unprobed bins'
    // files are never opened
    val queries = assignToCodebook(emb.filter(col("vec_id") < 10), cb)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val bins = queries.select(col("centroid_id").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val vIdx = SnapshotLog.latestVersion(spark, s"file:$indexDir")
      .getOrElse(sys.error("st17: no index commits"))
    val mf = SnapshotLog.manifest(spark, s"file:$indexDir", vIdx)
    val idxFiles = mf
      .filter(f => bins.exists(b => f.contains(s"/_centroid_id=$b/")))
    serveManifestFiles(spark, queries, mf, idxFiles, k)
  }

  /** st24: STREAMING INGEST WITH IN-LOOP BIN-SPLIT MAINTENANCE — e35's
    * maintenance composed with st17's stream-built index (c6's
    * "maintenance under live appends" discipline on the ANN side): the
    * corpus arrives as a file stream, every batch appends its assigned
    * vectors as a batchId-keyed SnapshotLog commit into `pbin`-keyed
    * inverted lists, and every other batch [[splitSnapshotBins]] caps the
    * accreting bins — the split is itself a keyed commit (replay no-ops;
    * only overflowing bins' files are replaced, the rest carried by
    * reference), exactly the bounded-rewrite guarantee a long-lived
    * ingest needs: without it the hottest bin's list grows with the
    * stream and every future split/compact/delete rewrite grows with it.
    * Serving probes logical bins THROUGH the persisted map and reads only
    * the mapped physical bins' manifest files. Splits are invisible to
    * results by construction (children partition parents), so the oracle
    * is e18's full-corpus serving SQL plus the exactly-once batch count —
    * the strongest statement that ingest+maintenance lost nothing.
    */
  def st24StreamingSplitMaintain(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
    val (splitDir, nEmb) = embSplitFixture(emb, sfDir)
    // (N-1)/8: tight enough that the 4-logical-bin demo layout overflows
    // by pigeonhole already at the half-corpus mark — STRICTLY, for any N
    // (ceil(N/8) > (N-1)/8 always; a plain N/8 bound admits the perfectly
    // balanced 8|N case with no overflow) — so a split lands MID-stream
    // and later appends re-concentrate into a split landscape
    val bound = math.max(1L, (nEmb - 1) / 8)
    val indexDir = parityDir(s"ivf-st24index-$sfTag")
    val mapDirF = parityDir(s"ivf-st24map-$sfTag")
    val mapPath = s"file:$mapDirF"
    val ckptDir = parityDir(s"ivf-st24ckpt-$sfTag")
    MicroBatchJob.wipe(spark, s"file:$indexDir", s"file:$ckptDir", mapPath)
    val cb = demoCodebook(spark, sfDir)

    MicroBatchJob.run(spark, splitDir, EmbeddingArrivalSchema, ckptDir, 8) {
      (bs, batch, batchId) =>
        // appends target the LOGICAL bin id, which is always a live
        // physical bin (child 0 of every split keeps the parent's id) —
        // the production dynamic: appends re-concentrate, splits re-cap
        MicroBatchJob.appendBatch(bs, s"file:$indexDir",
          assignToCodebook(batch, cb).withColumn("pbin", col("centroid_id")),
          batchId, Some("pbin"), maxFilesPerPartition = 2)
        if (batchId % 2 == 1) {
          splitSnapshotBins(bs, s"file:$indexDir", mapPath, bound,
            commitKey = s"split-$batchId")
          ()
        }
    }

    // serving through the persisted logical→physical map: probed logical
    // bins resolve to physical children, whose manifest files are selected
    // by their `_pbin=` path level — unmapped bins' files are never opened
    val queries = assignToCodebook(emb.filter(col("vec_id") < 10), cb)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val probed = queries.select(col("centroid_id").cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    val pbins = spark.read.parquet(mapPath)
      .filter(col("bin").isin(probed.toSeq: _*))
      .select(col("pbin")).collect().map(_.getLong(0)).toSeq.sorted
    val (vIdx, nBatches) = MicroBatchJob.batchLog(spark, s"file:$indexDir")
    val mf = SnapshotLog.manifest(spark, s"file:$indexDir", vIdx)
    val idxFiles = mf.filter(f => pbins.exists(p => f.contains(s"/_pbin=$p/")))
    serveManifestFiles(spark, queries, mf, idxFiles, k)
      .withColumn("n_commits", lit(nBatches))
  }

  /** st25: STREAMING TAKEDOWN IN THE SPLIT INDEX — the last cell of the
    * {batch, streaming} × {append, split, delete, compact} maintenance
    * matrix (e36 proved the batch lifecycle; st24 proved streaming
    * append+split): a right-to-erasure event arrives MID-STREAM and must
    * hold against everything that follows. Mechanics on top of st24's
    * loop: (a) the takedown batch commits the doomed-id set as its own
    * keyed TOMBSTONE table, then [[deleteSnapshotBins]] rewrites only the
    * bins holding a doomed vector (a keyed commit — replay no-ops, calm
    * bins carried by reference) and refreshes the map off the live
    * manifest; (b) EVERY batch's append anti-joins the current tombstones,
    * so a doomed id arriving AFTER its takedown never resurrects — the
    * erasure is henceforth, not point-in-time (the u2/u8 semantic at
    * index granularity; without the tombstone discipline batch 3's
    * arrivals silently re-insert what batch 2 erased); (c) split
    * maintenance keeps running around the takedown (splits at batches 1
    * and 3 bracket the delete at batch 2), so the takedown lands in a
    * SPLIT landscape and the final split pass re-derives the map over the
    * post-delete, post-append state. Oracle: e21's corpus-minus-doomed
    * serving SQL plus the exactly-once batch count — ingest, two splits,
    * a mid-stream takedown, and tombstone filtering compose to exactly
    * "the search over everything that arrived, minus the erased set".
    *
    * Scale shape: tombstones are a bounded broadcast (takedown sets are
    * small by nature); the delete rewrite ∝ bins holding doomed ids; the
    * per-batch anti-join is map-side against the broadcast set; splits
    * stay ∝ overflow volume. Nothing in the loop ever rewrites ∝ index.
    */
  def st25StreamingSplitTakedown(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
    val (splitDir, nEmb) = embSplitFixture(emb, sfDir)
    val bound = math.max(1L, (nEmb - 1) / 8)
    val indexDir = parityDir(s"ivf-st25index-$sfTag")
    val mapDirF = parityDir(s"ivf-st25map-$sfTag")
    val mapPath = s"file:$mapDirF"
    val tombDir = parityDir(s"ivf-st25tomb-$sfTag")
    val ckptDir = parityDir(s"ivf-st25ckpt-$sfTag")
    MicroBatchJob.wipe(spark, s"file:$indexDir", s"file:$ckptDir", mapPath,
      s"file:$tombDir")
    val cb = demoCodebook(spark, sfDir)

    MicroBatchJob.run(spark, splitDir, EmbeddingArrivalSchema, ckptDir, 8) {
      (bs, batch, batchId) =>
        // the takedown EVENT: batch 2 commits the doomed-id set (keyed —
        // replay no-ops) BEFORE building its own delta, so its own
        // arrivals are filtered too
        if (batchId == 2) {
          val doomed = table(bs, sfDir, "embeddings")
            .filter(pmod(col("vec_id"), lit(10)) === 3).select("vec_id")
          MicroBatchJob.appendKeyed(bs, s"file:$tombDir", doomed, "tomb-2")
        }
        // current tombstones (empty frame before the takedown batch) —
        // every append honors them, so erasure holds against later
        // arrivals of the same ids
        val tombs = SnapshotLog.latestVersion(bs, s"file:$tombDir")
          .map(v => bs.read.parquet(
            SnapshotLog.manifest(bs, s"file:$tombDir", v): _*))
          .getOrElse(bs.range(0).select(col("id").as("vec_id")))
        val delta = assignToCodebook(
            batch.join(broadcast(tombs), Seq("vec_id"), "left_anti"), cb)
          .withColumn("pbin", col("centroid_id"))
        MicroBatchJob.appendBatch(bs, s"file:$indexDir", delta, batchId,
          Some("pbin"), maxFilesPerPartition = 2)
        // the takedown's index half: rewrite only the bins holding doomed
        // vectors already ingested (batches 0/1 and this batch's own,
        // already filtered), refresh the map off the live manifest
        if (batchId == 2) {
          val doomed = table(bs, sfDir, "embeddings")
            .filter(pmod(col("vec_id"), lit(10)) === 3).select("vec_id")
          deleteSnapshotBins(bs, s"file:$indexDir", doomed, mapPath,
            commitKey = "delete-2")
          ()
        }
        if (batchId % 2 == 1) {
          splitSnapshotBins(bs, s"file:$indexDir", mapPath, bound,
            commitKey = s"split-$batchId")
          ()
        }
    }

    // st24's serving through the persisted map; queries exclude the
    // doomed ids (the e21 convention)
    val queries = assignToCodebook(
      emb.filter(col("vec_id") < 10 && pmod(col("vec_id"), lit(10)) =!= 3), cb)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val probed = queries.select(col("centroid_id").cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    val pbins = spark.read.parquet(mapPath)
      .filter(col("bin").isin(probed.toSeq: _*))
      .select(col("pbin")).collect().map(_.getLong(0)).toSeq.sorted
    val (vIdx, nBatches) = MicroBatchJob.batchLog(spark, s"file:$indexDir")
    val mf = SnapshotLog.manifest(spark, s"file:$indexDir", vIdx)
    val idxFiles = mf.filter(f => pbins.exists(p => f.contains(s"/_pbin=$p/")))
    serveManifestFiles(spark, queries, mf, idxFiles, k)
      .withColumn("n_commits", lit(nBatches))
  }

  /** A frozen RAW inverted-list index in e18's on-disk layout (one
    * `centroid_id=<bin>` directory per list), resolved once: each bin's
    * data files, listed when the serving stream starts. The row schema is
    * the writers' declared [[RawIndexRowSchema]], so a read of these files
    * infers nothing. Valid while the index is frozen — st20's index is
    * rebuilt only before its stream starts.
    */
  private[operators] final case class RawIvfLists(root: String,
      files: Map[Long, Seq[String]])

  private[operators] def resolveRawIvfLists(spark: SparkSession,
      indexDir: String): RawIvfLists = {
    val root = new org.apache.hadoop.fs.Path(s"file:$indexDir")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = "centroid_id="
    def visible(p: org.apache.hadoop.fs.Path) =
      !p.getName.startsWith("_") && !p.getName.startsWith(".")
    val files = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(prefix))
      .map { d =>
        d.getPath.getName.stripPrefix(prefix).toLong ->
          fs.listStatus(d.getPath).filter(f => f.isFile && visible(f.getPath))
            .map(_.getPath.toString).toSeq.sorted
      }.toMap
    RawIvfLists(root.toString, files)
  }

  /** One query batch served against frozen RAW inverted lists — st20's
    * per-batch plan, factored out next to [[pqServeRefineBatch]] so the
    * two serving generations share one structure and can't drift. The
    * batch (vec_id, embedding) is coarse-assigned against the driver-side
    * codebook and collected ONCE: those rows give both the probed bin ids
    * and the broadcast side (a local relation, so the batch's source is
    * not scanned again). The index read opens only the probed bins' files
    * from `lists` — no directory listing, no schema inference — under a
    * centroid_id partition filter, and the batch is broadcast into it for
    * the exact top-k.
    */
  private[operators] def ivfServeBatch(bs: SparkSession, batch: DataFrame,
      cb: Codebook, lists: RawIvfLists, k: Int): DataFrame = {
    val assigned = assignToCodebook(batch, cb)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id").cast("long").as("centroid_id"))
    val rows = assigned.collect()
    val queries = bs.createDataFrame(java.util.Arrays.asList(rows: _*),
      assigned.schema)
    val bins = rows.map(_.getLong(2)).distinct.sorted
    val files = bins.flatMap(b => lists.files.getOrElse(b, Nil))
    // a batch whose probed bins hold no files reads an explicitly-typed
    // empty frame: a zero-path parquet read throws
    val idxRaw =
      if (files.nonEmpty) bs.read.schema(RawIndexRowSchema)
        .option("basePath", lists.root).parquet(files.toSeq: _*)
      else bs.createDataFrame(
        bs.sparkContext.emptyRDD[org.apache.spark.sql.Row], RawIndexRowSchema)
    val idx = idxRaw.filter(col("centroid_id").isin(bins.toSeq: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec",
        dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** st20: STREAMING ANN SERVING — the query-side twin of st17 (which
    * streams the index BUILD). Queries arrive as a micro-batched stream
    * (the online-serving shape: each batch is one arrival window of
    * similarity lookups) and are served against a FROZEN persisted IVF
    * index; every batch's top-k results append to a batchId-keyed result
    * log, and the output reads the committed log back.
    *
    * st20 vs st22 — a DELIBERATE pair, not drift: st20 serves e18's RAW
    * inverted lists (exact scoring of every candidate in the probed bins
    * — the uncompressed serving generation, right when the vector store
    * fits its bins in scan budget), while st22 serves e32's persisted PQ
    * CODES with an ADC shortlist + exact refine (the compressed
    * generation a 100 TB corpus needs — candidate bytes divided by
    * ~dim·4/M). Both run the same loop shape: per-batch bin-prune →
    * score → batchId-keyed result commit → in-loop log maintenance; the
    * per-batch plans are the named helpers [[ivfServeBatch]] and
    * [[pqServeRefineBatch]].
    *
    * Why streaming ≡ batch is exact here, with no freeze-time composition
    * (st19's hard part): a query's result depends only on (its own
    * embedding, the frozen index) — per-query row-local given the index —
    * so ANY partition of the query set into batches yields the same result
    * rows, and the log's union over batches IS the one-shot answer. The
    * oracle states exactly that: e18's full serving SQL over the whole
    * query set, verbatim (plus the commit count).
    *
    * What is resolved once per stream, before `.start()`: the K-row
    * codebook (collected to the driver) and the frozen index's bin → file
    * listing ([[resolveRawIvfLists]]; the row schema is the declared
    * [[RawIndexRowSchema]]). Per batch ([[ivfServeBatch]]): one job scans
    * the batch and collects its in-row coarse assignment (≤ batch rows);
    * those rows give the probed bin ids and the broadcast query side; the
    * serving read opens ONLY the probed bins' files — no batch lists a
    * directory, unprobed bins are never listed or opened, and no schema
    * is inferred — then the keyed result commit. No stage touches the full
    * index; per-batch I/O is ∝ Σ(probed bin sizes), the IVF serving
    * contract. Exactly-once under micro-batch replay: the result commit
    * is batchId-keyed (st15's mechanism), so a replayed batch no-ops and
    * `n_commits` = number of micro-batches survives crashes.
    */
  def st20StreamingAnnServe(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
    val srcStamp =
      s"$sfDir|${RelationalQueries.sourceStamp(sfDir, "embeddings")}"

    // ---- the served index: e18's persisted layout (partition dirs = the
    // inverted lists), built once per corpus cut and reused across runs
    // (stamp-guarded — in production this is st17's build job, not the
    // serving path's work)
    val indexDir = parityDir(s"st20-index-$sfTag")
    val cb = demoCodebook(spark, sfDir)
    StampedArtifact.getOrBuild(indexDir, "._index_ok", srcStamp) {
      assignToCodebook(emb, cb)
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"file:$indexDir")
    }
    val lists = resolveRawIvfLists(spark, indexDir)

    // ---- query arrivals fixture: vec_id < 40 range-split into 4 files so
    // the stream genuinely runs multiple micro-batches (st17's shape)
    val qDir = queryArrivals(emb, parityDir(s"st20-queries-$sfTag"), 40,
      srcStamp)

    // ---- per-run result log + checkpoint
    val resultsPath = s"file:${parityDir(s"st20-results-$sfTag")}"
    val ckptDir = parityDir(s"st20-ckpt-$sfTag")
    MicroBatchJob.wipe(spark, resultsPath, s"file:$ckptDir")

    MicroBatchJob.run(spark, qDir, EmbeddingArrivalSchema, ckptDir, 8) {
      (bs, batch, batchId) =>
        // in-loop result-log maintenance: compact accreted small files +
        // retire superseded manifests once the log exceeds the file
        // threshold (no-op below it) — a long-lived serving stream must
        // bound its own log
        MicroBatchJob.appendBatch(bs, resultsPath,
          ivfServeBatch(bs, batch, cb, lists, k).coalesce(1), batchId,
          None, maxFilesPerPartition = 2)
    }

    val (v, nBatches) = MicroBatchJob.batchLog(spark, resultsPath)
    SnapshotLog.read(spark, resultsPath, v)
      .withColumn("n_commits", lit(nBatches))
  }

  /** st21: STREAMING PQ-ENCODE INGEST — st17's stream-built-index rule
    * applied to the COMPRESSED index (e32's artifact): new vectors arrive
    * as a micro-batched stream, each batch is PQ-encoded and coarse-
    * assigned under the FROZEN trained codebooks (memo-trained once at
    * corpus start, carried to every batch session as plain rows — the
    * st18/st19 trained-artifact discipline), and its (vec_id, m, code)
    * rows append into the bin-partitioned on-disk inverted lists. Both
    * encodings are per-vector functions of (vector, frozen codebooks), so
    * batch-built ∪ … ∪ batch-built is bit-identical to e32's one-shot
    * build; serving the stream-built index answers exactly e26's trained
    * IVF-PQ search — the oracle is e26's SQL verbatim (the e18↔st17
    * equivalence, one storage generation later).
    *
    * Each batch's code rows land through a batchId-keyed [[SnapshotLog]]
    * commit (st20's mechanism), NOT a plain parquet append: batch delivery is
    * at-least-once, and a batch replayed after a partial plain append would
    * duplicate (vec_id, m, code) rows — silently breaking the bit-identity
    * claim outside a clean run. With the keyed commit a replay no-ops and
    * the torn attempt's orphan dir is never referenced by any manifest.
    *
    * Scale shape: a day's new vectors cost one batch-sized encode scan
    * (M·K broadcast sub-dots per vector) + a delta commit whose files are
    * bin-partitioned (`_bin=` manifest paths) so serving still prunes to
    * probed bins — never a corpus re-encode (e20's append contract, with
    * codes instead of raw vectors); compaction of accreted small files is
    * the SnapshotLog compaction job's work (st19's state-maintenance
    * shape).
    */
  def st21StreamingPqIngest(spark: SparkSession, sfDir: String,
      k: Int = 3, iters: Int = 2): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
    // arrival fixture: st17's 4-way range split (the two streams share one
    // fixture deliberately — same arrivals, two index generations)
    val (splitDir, _) = embSplitFixture(emb, sfDir)

    // frozen trained artifacts → plain rows for the per-batch sessions
    val fineRows = pqTrainedCodebooks(spark, sfDir, iters).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    val coarseRows = kmeansCentroids(spark, sfDir, iters).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq

    val indexDir = parityDir(s"st21-index-$sfTag")
    val ckptDir = parityDir(s"st21-ckpt-$sfTag")
    MicroBatchJob.wipe(spark, s"file:$indexDir", s"file:$ckptDir")

    MicroBatchJob.run(spark, splitDir, EmbeddingArrivalSchema, ckptDir, 8) {
      (bs, batch, batchId) =>
        import bs.implicits._
        val fine = fineRows.toDF("m", "centroid_id", "c")
        val coarse = coarseRows.toDF("centroid_id", "c")
        val rows = batch.select(col("vec_id"), col("embedding"))
        val codes = assignSub(subspaces(rows), fine)
          .select(col("vec_id"), col("m"), col("centroid_id").as("code"))
        val bins = assignTrained(rows, coarse)
          .select(col("vec_id"), col("centroid_id").as("bin"))
        // in-loop index-log maintenance (st19's state-table discipline):
        // per-BIN compaction — only bins holding more than the threshold's
        // worth of delta files rewrite; untouched bins keep their files'
        // physical identity, so serving's probed-bin manifest prune stays
        // page-cache-warm for bins the stream stopped appending to
        MicroBatchJob.appendBatch(bs, s"file:$indexDir",
          codes.join(bins, "vec_id"), batchId, Some("bin"),
          maxFilesPerPartition = 2)
    }

    // e26's serving over the stream-built compressed index. The committed
    // snapshot's manifest paths carry each file's bin (`_bin=` path level),
    // so the probed-bin prune is a string match over the manifest —
    // unprobed bins' files are never opened (st19's touched-partition
    // discipline; the manifest analogue of e32's PartitionFilters prune)
    val fine = pqTrainedCodebooks(spark, sfDir, iters)
    val coarse = assignTrained(emb.select(col("vec_id"), col("embedding")),
      kmeansCentroids(spark, sfDir, iters))
      .select(col("vec_id"), col("centroid_id").as("bin"))
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qdots = subspaces(emb.filter(col("vec_id") < 10))
      .join(broadcast(fine), "m")
      .select(col("vec_id").as("query_id"), col("m"),
        col("centroid_id").as("code"), dotc.as("qd"))
      .join(coarse.withColumnRenamed("vec_id", "query_id"), "query_id")
    val probed = qdots.select(col("bin").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val vIdx = SnapshotLog.latestVersion(spark, s"file:$indexDir")
      .getOrElse(sys.error("st21: no index commits"))
    val mf = SnapshotLog.manifest(spark, s"file:$indexDir", vIdx)
    val idxFiles = mf
      .filter(f => probed.exists(b => f.contains(s"/_bin=$b/")))
    // empty probed-bin match → empty result, not a zero-path read error
    // (st17's guard; schema from the full manifest, filtered false)
    val idxRaw =
      if (idxFiles.isEmpty) spark.read.parquet(mf: _*).filter(lit(false))
      else spark.read.parquet(idxFiles: _*)
    val idx = idxRaw
      .select(col("vec_id").as("neighbor_id"), col("m"), col("code"),
        col("bin").cast("long").as("bin"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    idx.join(broadcast(qdots), Seq("bin", "m", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_sum").cast("double").as("fivfpq_sim"))
  }

  /** One query batch served against the frozen persisted IVF-PQ index with
    * an exact refine stage — st22's per-batch plan, factored out so
    * `PlanShapeSpec` pins the EXACT plan the stream executes:
    *
    *  1. coarse-assign the batch against the broadcast centroid table and
    *     build its M×K ADC sub-dot table (batch-sized work);
    *  2. collect the probed bin ids (≤ batch distinct bins, a driver
    *     list — exactly how partition pruning must be driven) and scan
    *     ONLY those `bin=` partitions of the on-disk code lists: the scan
    *     carries a bin PartitionFilter and reads M-byte codes, never
    *     vectors;
    *  3. ADC-score the pruned candidates, keep a per-query SHORTLIST
    *     (top-`shortlist` by ADC sum — e30's two-stage recipe);
    *  4. REFINE: fetch raw vectors for just the Q×shortlist candidate
    *     pairs (a broadcast of the shortlist into the embeddings scan —
    *     at scale a point-lookup against the vector store) and re-rank by
    *     exact decimal cosine to the final top-k.
    *
    * Per-batch cost: ∝ Σ(probed bin code sizes) + Q×shortlist vector
    * fetches — the compressed-serving contract (PQ divides candidate
    * bytes by ~dim·4/M; refine restores exact ranking on a bounded set).
    */
  private[operators] def pqServeRefineBatch(bs: SparkSession, sfDir: String,
      queries: DataFrame, fine: DataFrame, cents: DataFrame, indexDir: String,
      k: Int, shortlist: Int): DataFrame = {
    // `queries` (vec_id, embedding) is read by the bin-probe collect, the
    // ADC table, AND the refine join — the caller materializes it
    // (localCheckpoint) and frees the blocks after consuming the result
    val q = queries
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qAsg = assignTrained(q, cents)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("bin"))
    val qdots = subspaces(q)
      .join(broadcast(fine), "m")
      .select(col("vec_id").as("query_id"), col("m"),
        col("centroid_id").as("code"), dotc.as("qd"))
      .join(qAsg, "query_id")
    val probed = qdots.select(col("bin").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val idx = bs.read.option("basePath", s"file:$indexDir")
      .parquet(s"file:$indexDir")
      .filter(col("bin").cast("int").isin(probed: _*))
      .select(col("vec_id").as("neighbor_id"), col("m"), col("code"),
        col("bin").cast("long").as("bin"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    val short = idx.join(broadcast(qdots), Seq("bin", "m", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= shortlist)
      .select("query_id", "neighbor_id")
    def dotOf(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def normOf(c: Column): Column = sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    table(bs, sfDir, "embeddings")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(q.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), "query_id")
      .withColumn("sim_dec", (dotOf(col("q_emb"), col("n_emb")) /
        (normOf(col("q_emb")) * normOf(col("n_emb")))).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("refined_sim"))
  }

  /** st22: STREAMING ANN SERVING OVER THE COMPRESSED INDEX — the full
    * production serving story composed: st20 serves a query stream but
    * against e18's RAW inverted lists; a deployed system serves against
    * e32's persisted PQ codes with an exact refine stage (e30's recipe).
    * Here query batches arrive as a micro-batched stream (the reference's
    * always-on poll-serving loop, `workflow.yaml:54-84`, as the query
    * path) and each batch runs [[pqServeRefineBatch]] against the FROZEN
    * persisted index: bin-pruned code-only scan → ADC shortlist → exact
    * re-rank of the shortlist. Results append to a batchId-keyed result
    * log (st15's exactly-once mechanism; replays no-op).
    *
    * Streaming ≡ batch is exact for the st20 reason: a query's answer is a
    * function of (its own embedding, the frozen index) alone, so the log's
    * union over any batching of the query set IS the one-shot answer. The
    * oracle composes e26's trained IVF-PQ SQL (ADC shortlist at rank ≤
    * `shortlist`) with e30's exact-cosine re-rank, verbatim arithmetic.
    */
  def st22StreamingPqServe(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2, shortlist: Int = 10): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
    val srcStamp = s"$sfDir|$iters|" +
      RelationalQueries.sourceStamp(sfDir, "embeddings")

    // the served artifact: e32's persisted compressed index (build-once,
    // stamp-guarded — a build job, not serving work)
    val indexDir = persistedIvfPqIndexDir(spark, sfDir, iters)

    // frozen trained codebooks → plain rows for the per-batch sessions
    // (st21's trained-artifact discipline)
    val fineRows = pqTrainedCodebooks(spark, sfDir, iters).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    val coarseRows = kmeansCentroids(spark, sfDir, iters).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq

    // query arrivals fixture: the e26/e30 query set (vec_id < 10),
    // range-split into 4 files so the stream genuinely micro-batches
    val qDir = queryArrivals(emb, parityDir(s"st22-queries-$sfTag"), 10,
      srcStamp)

    // per-run result log + checkpoint
    val resultsPath = s"file:${parityDir(s"st22-results-$sfTag")}"
    val ckptDir = parityDir(s"st22-ckpt-$sfTag")
    MicroBatchJob.wipe(spark, resultsPath, s"file:$ckptDir")

    MicroBatchJob.run(spark, qDir, EmbeddingArrivalSchema, ckptDir, 8) {
      (bs, batch, batchId) =>
        import bs.implicits._
        val fine = fineRows.toDF("m", "centroid_id", "c")
        val cents = coarseRows.toDF("centroid_id", "c")
        val qch = batch.select(col("vec_id"), col("embedding"))
          .localCheckpoint(true)
        val res = pqServeRefineBatch(bs, sfDir, qch, fine, cents,
          indexDir, k, shortlist)
        // in-loop result-log maintenance (st20's rule)
        MicroBatchJob.appendBatch(bs, resultsPath, res.coalesce(1), batchId,
          None, maxFilesPerPartition = 2)
        CorpusPipeline.freeCut(qch)
    }

    val (v, nBatches) = MicroBatchJob.batchLog(spark, resultsPath)
    SnapshotLog.read(spark, resultsPath, v)
      .withColumn("n_commits", lit(nBatches))
  }

  /** e33: FILTERED SERVING OVER THE PERSISTED COMPRESSED INDEX — the two
    * production serving axes composed: e19 proved predicate-constrained
    * ANN on raw inverted lists; e32/st22 proved compressed (PQ-code)
    * serving with exact refine. A deployed system needs both at once:
    * "nearest neighbors of q WHERE label ∈ …" against an index whose
    * entries are M-byte codes. The filterable attribute rides IN the
    * inverted lists (the Vespa/Qdrant payload-in-index design): the e33
    * index persists (vec_id, m, code, label) partitioned by coarse bin,
    * so serving's bin-pruned scan pushes the label predicate INTO the
    * parquet read (PushedFilters — candidates outside the predicate are
    * dropped at the scan, before any ADC work) and the candidate volume
    * is ∝ selectivity × Σ(probed bin sizes). Chain: nprobe=2 trained
    * probe ranking (e28) → label-filtered bin-pruned code scan → ADC
    * shortlist (top-`shortlist` by sub-dot sum) → exact decimal-cosine
    * refine of the Q×shortlist survivors (e30) → top-k. Pre-filtering
    * (not post-filtering the final top-k) is the correctness-relevant
    * choice: post-filtering an unfiltered top-k UNDER-fills results for
    * selective predicates; filtering before the shortlist keeps k results
    * whenever the predicate admits them.
    *
    * Scale shape: per query the scan reads nprobe/C of the CODE table
    * with the predicate applied at the reader; the ADC build side stays
    * Q·M·K broadcast rows; refine touches Q×shortlist vectors. The
    * oracle composes e28's nprobe ADC chain (label-filtered) with e30's
    * exact re-rank, verbatim arithmetic.
    */
  def e33FilteredPqServe(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2, nprobe: Int = 2, shortlist: Int = 10): DataFrame = {
    val vecs = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val indexDir = filteredIvfPqIndexDir(spark, sfDir, iters)
    filteredPqServeBatch(spark, sfDir, vecs.filter(col("vec_id") < 10),
      pqTrainedCodebooks(spark, sfDir, iters),
      kmeansCentroids(spark, sfDir, iters),
      indexDir, k, nprobe, shortlist)
  }

  /** e34: a SECOND predicate through the identical filtered-serving plan —
    * the proof that [[filteredPqServeBatch]]'s predicate axis is generic
    * rather than baked to the e33 fixture: a range-shaped predicate
    * (`label >= 6`) over the SAME persisted filtered index, same probe
    * ranking / ADC shortlist / exact refine. Any Column over the payload
    * attributes riding in the inverted lists slots in unchanged and still
    * pushes into the bin-pruned code scan; the oracle is e33's SQL with
    * only the codes-CTE predicate swapped.
    */
  def e34FilteredServeRange(spark: SparkSession, sfDir: String, k: Int = 3,
      iters: Int = 2, nprobe: Int = 2, shortlist: Int = 10): DataFrame = {
    val vecs = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val indexDir = filteredIvfPqIndexDir(spark, sfDir, iters)
    filteredPqServeBatch(spark, sfDir, vecs.filter(col("vec_id") < 10),
      pqTrainedCodebooks(spark, sfDir, iters),
      kmeansCentroids(spark, sfDir, iters),
      indexDir, k, nprobe, shortlist, pred = col("label") >= 6)
  }

  /** Build-once accessor for the FILTERED compressed index (e33's
    * artifact): (vec_id, m, code, label) bin-partitioned inverted lists —
    * the label payload rides in the lists so serving can push the
    * predicate into the code scan. Stamp-guarded per corpus cut; e33's
    * one-shot serving and st23's streaming serving both read this one
    * artifact (the e32↔st22 pairing, filtered generation).
    */
  private[operators] def filteredIvfPqIndexDir(spark: SparkSession,
      sfDir: String, iters: Int): String = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val indexDir = parityDir(s"e33-index-$sfTag")
    StampedArtifact.getOrBuild(indexDir, "._index_ok",
        s"$sfDir|$iters|" + RelationalQueries.sourceStamp(sfDir, "embeddings")) {
      pqCodes(spark, sfDir, iters)
        .select(col("vec_id"), col("m"), col("centroid_id").as("code"))
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
        .join(assignTrained(vecs, kmeansCentroids(spark, sfDir, iters))
          .select(col("vec_id"), col("centroid_id").as("bin")), "vec_id")
        .write.mode("overwrite").partitionBy("bin")
        .parquet(s"file:$indexDir")
    }
    indexDir
  }

  /** st23: STREAMING FILTERED SERVING OVER THE COMPRESSED INDEX — the
    * last serving composition: st22 streams query batches against the
    * compressed index; e33 adds the predicate axis; st23 runs e33's exact
    * per-batch plan ([[filteredPqServeBatch]] — nprobe probes →
    * bin-pruned label-filtered code scan → ADC shortlist → exact refine)
    * inside the micro-batched serving loop, with batchId-keyed result
    * commits (replays no-op), in-loop log maintenance, and the batch
    * count derived from replay keys. Streaming ≡ one-shot for the st20
    * reason: each query's answer is a function of (its embedding, the
    * frozen index, the frozen predicate) alone, so the log's union over
    * any batching IS e33's one-shot answer — the oracle is e33's SQL plus
    * the commit count.
    */
  /** `pred` is the serving-time predicate threaded into every batch's
    * [[filteredPqServeBatch]] — the loop's predicate axis is as generic as
    * the one-shot path's (the spec drives e34's range predicate through
    * this exact loop and matches it against e34's one-shot answer).
    * `stateTag` namespaces the results/checkpoint dirs so a
    * non-default-predicate run never collides with the gate run's state.
    */
  def st23StreamingFilteredServe(spark: SparkSession, sfDir: String,
      k: Int = 3, iters: Int = 2, nprobe: Int = 2,
      shortlist: Int = 10, pred: Column = col("label").isin(1, 3, 5),
      stateTag: String = ""): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_") + stateTag
    val emb = table(spark, sfDir, "embeddings")
    val srcStamp = s"$sfDir|$iters|" +
      RelationalQueries.sourceStamp(sfDir, "embeddings")

    // the served artifact + frozen trained rows (st22's discipline)
    val indexDir = filteredIvfPqIndexDir(spark, sfDir, iters)
    val fineRows = pqTrainedCodebooks(spark, sfDir, iters).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    val coarseRows = kmeansCentroids(spark, sfDir, iters).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq

    // query arrivals fixture: e33's query set, 4-way range-split
    val qDir = queryArrivals(emb, parityDir(s"st23-queries-$sfTag"), 10,
      srcStamp)

    val resultsPath = s"file:${parityDir(s"st23-results-$sfTag")}"
    val ckptDir = parityDir(s"st23-ckpt-$sfTag")
    MicroBatchJob.wipe(spark, resultsPath, s"file:$ckptDir")

    MicroBatchJob.run(spark, qDir, EmbeddingArrivalSchema, ckptDir, 8) {
      (bs, batch, batchId) =>
        import bs.implicits._
        val fine = fineRows.toDF("m", "centroid_id", "c")
        val cents = coarseRows.toDF("centroid_id", "c")
        val qch = batch.select(col("vec_id"), col("embedding"))
          .localCheckpoint(true)
        val res = filteredPqServeBatch(bs, sfDir, qch, fine, cents,
          indexDir, k, nprobe, shortlist, pred = pred)
        MicroBatchJob.appendBatch(bs, resultsPath, res.coalesce(1), batchId,
          None, maxFilesPerPartition = 2)
        CorpusPipeline.freeCut(qch)
    }

    val (v, nBatches) = MicroBatchJob.batchLog(spark, resultsPath)
    SnapshotLog.read(spark, resultsPath, v)
      .withColumn("n_commits", lit(nBatches))
  }

  /** One query batch served against the frozen FILTERED compressed index —
    * e33's per-batch plan, factored out beside [[ivfServeBatch]] and
    * [[pqServeRefineBatch]] so the one-shot query and the st23 stream
    * execute the identical plan: nprobe trained probe ranking →
    * bin-pruned, label-filtered code scan (partition prune from the
    * probed-bin driver list; the predicate pushes into the reader) → ADC
    * shortlist → exact decimal-cosine refine. `queries` is a (vec_id,
    * embedding) frame the caller may localCheckpoint (it feeds the probe
    * ranking, the ADC table, AND the refine join) and free afterward.
    * `pred` is the serving-time attribute predicate — the axis this plan
    * exists to demonstrate is generic: ANY Column over the payload
    * attributes persisted in the lists pushes into the code scan the same
    * way (e33/st23 serve the gate fixture's `label IN (1,3,5)`; e34
    * proves a second, range-shaped predicate through the identical plan).
    */
  private[operators] def filteredPqServeBatch(bs: SparkSession,
      sfDir: String, queries: DataFrame, fine: DataFrame, cents: DataFrame,
      indexDir: String, k: Int, nprobe: Int, shortlist: Int,
      pred: Column = col("label").isin(1, 3, 5)): DataFrame = {
    // nprobe nearest trained centroids per query (e28's probe ranking)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim_dec").desc, col("centroid_id").asc)
    val probes = queries
      .crossJoin(broadcast(cents))
      .withColumn("sim_dec", trainedDotDec)
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"),
        col("centroid_id").cast("long").as("bin"))
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qdots = subspaces(queries)
      .join(broadcast(fine), "m")
      .select(col("vec_id").as("query_id"), col("m"),
        col("centroid_id").as("code"), dotc.as("qd"))

    // bin-pruned, attribute-filtered code scan: the probed-bin list drives
    // partition pruning; the caller's predicate pushes into the reader
    val probed = probes.select(col("bin").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val idx = bs.read.option("basePath", s"file:$indexDir")
      .parquet(s"file:$indexDir")
      .filter(col("bin").cast("int").isin(probed: _*))
      .filter(pred)
      .select(col("vec_id").as("neighbor_id"), col("m"), col("code"),
        col("bin").cast("long").as("bin"))

    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    val short = idx.join(broadcast(probes), "bin")
      .join(broadcast(qdots), Seq("query_id", "m", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= shortlist)
      .select("query_id", "neighbor_id")

    // exact refine of the bounded shortlist (e30's recipe)
    def dotOf(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def normOf(c: Column): Column = sqrt(aggregate(c, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    table(bs, sfDir, "embeddings")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(queries
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))), "query_id")
      .withColumn("sim_dec", (dotOf(col("q_emb"), col("n_emb")) /
        (normOf(col("q_emb")) * normOf(col("n_emb")))).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("refined_sim"))
  }

  /** Remove `doomed` (a vec_id frame) from a persisted IVF index in place:
    * probe the affected bins with a column-pruned semi-join scan, then one
    * dynamic partition overwrite rewrites exactly those bins anti-joined
    * against the tombstones. Bins without a doomed vector keep their files
    * physically intact (pinned in `PipelineQueriesSpec`). Returns the
    * rewritten bin ids. `partCol` names the index's partition column —
    * `centroid_id` for the flat e18/e20 layout, `pbin` for a split-
    * maintained (e35/e36) layout; the same bounded-rewrite discipline
    * holds either way, which is exactly what lets a takedown land in a
    * split CHILD without touching its calm siblings.
    */
  def deleteFromIvfIndex(spark: SparkSession, indexPath: String,
      doomed: DataFrame, partCol: String = "centroid_id"): Seq[Long] = {
    val scanned = spark.read.option("basePath", indexPath).parquet(indexPath)
    val affected = scanned
      .join(broadcast(doomed), Seq("vec_id"), "left_semi")
      .select(col(partCol).cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    if (affected.nonEmpty) {
      // rewrite projection = the scanned schema (partition col cast back to
      // long), NOT a hardcoded column list — a metadata-bearing index (e19's
      // label column in the inverted lists) must round-trip its extra
      // columns through a delete, or rewritten bins drop them and the index
      // ends up mixed-schema (the deleteFromBucketTable rule)
      val dataCols = scanned.columns.filterNot(_ == partCol).toSeq
      val kept = scanned
        .filter(col(partCol).cast("long").isin(affected: _*))
        .join(broadcast(doomed), Seq("vec_id"), "left_anti")
        .select(dataCols.map(col) :+
          col(partCol).cast("long").as(partCol): _*)
      // survivor probe BEFORE the overwrite mutates the directories
      val survivorBins = kept.select(col(partCol).cast("long"))
        .distinct().collect().map(_.getLong(0)).toSet
      // per-write dynamic overwrite (the writer option overrides the
      // session conf) — concurrency-safe under Overlap, unlike the old
      // session-wide set/restore (the u8 race)
      kept.repartition(col(partCol))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(indexPath)
      // a bin whose vectors were ALL doomed writes zero rows above, which
      // leaves its old files in place (the u2 emptied-partition lesson) —
      // drop such bins' directories explicitly, through the path's own
      // Hadoop FS so non-local indexes behave identically
      val emptiedBins = affected.filterNot(survivorBins)
      if (emptiedBins.nonEmpty) {
        import org.apache.hadoop.fs.Path
        val root = new Path(indexPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        emptiedBins.foreach(b =>
          fs.delete(new Path(root, s"$partCol=$b"), true))
      }
    }
    affected
  }

  /** Compact every inverted-list bin holding more than `maxFiles` data
    * files down to one file per bin — the c3 sweep at index granularity,
    * the maintenance pass that keeps e20's append-accreted small files
    * from degrading scan efficiency. The planner is a driver-side dir
    * listing (bounded by bin count); the rewrite reads ONLY the fragmented
    * bins (partition-pruned) and lands one file per bin (`repartition` on
    * the partition column ⇒ one writer task's output per bin, the
    * scd2WriteTable layout rule). Bins at or under the threshold keep
    * their files (pinned in `PipelineQueriesSpec`). Returns compacted bins.
    * `partCol` names the partition column, as in [[deleteFromIvfIndex]].
    */
  def compactIvfIndex(spark: SparkSession, indexPath: String,
      maxFiles: Int = 1, partCol: String = "centroid_id"): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val frag = (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"$partCol="))
      .filter(d => fs.listStatus(d.getPath).count { f =>
        val n = f.getPath.getName
        f.isFile && n.startsWith("part-") && n.endsWith(".parquet")
      } > maxFiles)
      .map(_.getPath.getName.stripPrefix(s"$partCol=").toLong)
      .sorted
    if (frag.isEmpty) return Nil
    val scanned = spark.read.option("basePath", indexPath).parquet(indexPath)
    // schema-derived projection, like deleteFromIvfIndex: metadata columns
    // in the inverted lists must survive a compaction rewrite
    val dataCols = scanned.columns.filterNot(_ == partCol).toSeq
    val kept = scanned
      .filter(col(partCol).cast("long").isin(frag: _*))
      .select(dataCols.map(col) :+
        col(partCol).cast("long").as(partCol): _*)
    // per-write dynamic overwrite (concurrency-safe, see deleteFromIvfIndex)
    kept.repartition(col(partCol))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(indexPath)
    frag
  }

  /** e23: INDEX COMPACTION in the gate — e20's append pattern run three
    * ways (the corpus lands in three chunks, so every bin accretes ~3
    * small files), then [[compactIvfIndex]] collapses each fragmented bin
    * to one file, then e18's serving runs over the compacted lists. The
    * oracle is e18's full-corpus SQL for the THIRD time — persist (e18),
    * append (e20), and now compact must each be invisible to query
    * results; hash equality is the compaction-lost-nothing proof, and the
    * one-file-per-bin physical outcome is spec-pinned.
    */
  def e23IvfCompact(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val dir = new java.io.File(
      s"target/parity/ivf-cindex-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}")
      .getAbsoluteFile.toString
    (0 to 2).foreach { r =>
      assignToCentroids(spark, sfDir,
          emb.filter(pmod(col("vec_id"), lit(3)) === r))
        .write.mode(if (r == 0) "overwrite" else "append")
        .partitionBy("centroid_id").parquet(s"file:$dir")
    }
    compactIvfIndex(spark, s"file:$dir", maxFiles = 1)

    val queries = assignToCentroids(spark, sfDir, emb.filter(col("vec_id") < 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val bins = queries.select(col("centroid_id").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val idx = spark.read.option("basePath", s"file:$dir").parquet(s"file:$dir")
      .filter(col("centroid_id").cast("int").isin(bins: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").cast("long").as("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** Split every physical bin of a persisted IVF index holding more than
    * `bound` vectors into ceil(m/bound) balanced children in ONE pass (the
    * SPFresh/DiskANN bin-split discipline: appends are cheap because they
    * never rebalance, so SOME maintenance must keep per-bin partitions
    * bounded or the hottest bin eventually makes every rewrite — compact,
    * delete, re-cluster — a full-partition monster). Physical layout:
    * partition column `pbin`, initially equal to the logical coarse bin
    * `centroid_id`; a split rewrites ONLY the overflowing partitions
    * (dynamic partition overwrite — untouched bins keep file identity,
    * spec-pinned) into analytically-counted balanced children along each
    * bin's own mean direction (dot with the bin mean, vec_id tiebreak) —
    * geometry-aware, so children stay locally coherent. The logical →
    * physical map lands as a tiny parquet at `mapPath`; serving probes a
    * logical bin and reads its physical children via the map. Query
    * results are INVARIANT by construction (children partition the
    * parent), which is exactly what the e35 oracle states.
    *
    * Scale shape: sizes come from one zero-column counting scan; the
    * single rewrite touches only overflowing partitions (cost ∝ overflow
    * volume, never index size — the child count is computed analytically,
    * so there is no per-level loop to pay); the map is bounded by
    * physical-bin count. Split-key determinism is NOT load-bearing: any
    * assignment of a parent's rows to its children serves identically.
    */
  def splitIvfBins(spark: SparkSession, indexPath: String, mapPath: String,
      bound: Long): Seq[(Long, Long)] = {
    // ONE bounded aggregation (column-pruned, output bounded by bin
    // count) yields both the logical map and the per-bin sizes — a
    // production deploy persists the map incrementally instead
    val agg = spark.read.option("basePath", indexPath).parquet(indexPath)
      .groupBy(col("pbin").cast("long").as("pbin"),
        col("centroid_id").cast("long").as("l")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val logicalOf = scala.collection.mutable.Map.empty[Long, Long]
    agg.foreach { case (p, l, _) => logicalOf(p) = l }
    val sizes = agg.groupBy(_._1).map { case (p, rs) =>
      p -> rs.map(_._3).sum }
    val over = sizes.filter(_._2 > bound).keys.toSeq.sorted
    val splits = scala.collection.mutable.Buffer.empty[(Long, Long)]
    if (over.nonEmpty) {
      // one partition-pruned read of the overflowing bins
      val rows = spark.read.option("basePath", indexPath)
        .parquet(indexPath)
        .filter(col("pbin").cast("long").isin(over: _*))
        .select(col("vec_id"), col("embedding"),
          col("centroid_id").cast("long").as("centroid_id"),
          col("pbin").cast("long").as("pbin"))
      // MATERIALIZE the reassignment before the destructive overwrite:
      // `rewritten`'s lineage lazily reads the very partitions the write
      // below replaces (read-modify-overwrite of one parquet dir in a
      // single plan). The current writer materializes the whole task
      // output before committing, but that is the writer's private
      // behavior — a localCheckpoint pins the rows first so no future
      // re-read of a source partition can race the destructive commit.
      val rewritten = splitAssign(rows, over.map(b => b -> sizes(b)).toMap,
        bound, logicalOf, splits)
        .repartition(col("pbin")).localCheckpoint(true)
      // per-write dynamic overwrite (concurrency-safe, see deleteFromIvfIndex)
      rewritten
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("pbin").parquet(indexPath)
      graft.operators.CorpusPipeline.freeCut(rewritten)
    }
    writeBinMap(spark, mapPath, logicalOf.toMap)
    splits.toSeq
  }

  /** The split core shared by [[splitIvfBins]] (directory-partitioned
    * index) and [[splitSnapshotBins]] (SnapshotLog-backed index): given
    * the rows of the OVERFLOWING bins and their sizes, return the same
    * rows with `pbin` reassigned to c = ceil(m/bound) balanced children
    * per bin — the child count computed ANALYTICALLY from the bin size
    * alone (what repeated median splitting converges to, without paying
    * a rewrite per level, and without the empty trailing children a
    * power-of-two count would mint when m < 2^t): one ranking along the
    * bin's own mean direction (geometry-aware — children stay locally
    * coherent), range-partitioned into c contiguous chunks, every chunk
    * floor/ceil(m/c) ≤ bound and NONEMPTY (c ≤ m for bound ≥ 1, so the
    * persisted map never names a rowless bin). One scan, one rewrite.
    * Mutates `logicalOf`/`splits` with the fresh child ids.
    */
  private def splitAssign(rows: DataFrame, sizes: Map[Long, Long],
      bound: Long,
      logicalOf: scala.collection.mutable.Map[Long, Long],
      splits: scala.collection.mutable.Buffer[(Long, Long)]): DataFrame = {
    var nextId = logicalOf.keys.max + 1
    val childIds = sizes.keys.toSeq.sorted.map { b =>
      val m = sizes(b)
      val c = (m + bound - 1) / bound
      b -> (b +: (1L until c).map { _ =>
        val id = nextId; nextId += 1
        logicalOf(id) = logicalOf(b); splits += ((b, id)); id
      }).toSeq
    }.toMap
    val childArr = typedLit(childIds)
    val means = rows
      .select(col("pbin"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("pbin", "i").agg(avg(col("x")).as("mx"))
      .groupBy("pbin").agg(sort_array(
        collect_list(struct(col("i"), col("mx")))).as("p"))
      .select(col("pbin"), expr("transform(p, e -> e.mx)").as("mean"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("pbin").orderBy(col("d").desc, col("vec_id").asc)
    val wBin = org.apache.spark.sql.expressions.Window.partitionBy("pbin")
    rows.join(broadcast(means), "pbin")
      .withColumn("d", aggregate(
        zip_with(col("embedding"), col("mean"),
          (x, y) => x.cast("double") * y),
        lit(0.0), (acc, t) => acc + t))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wBin))
      .withColumn("kids", element_at(childArr, col("pbin")))
      // chunk k = rows with (rn-1)*n in [k*m, (k+1)*m): balanced to ±1.
      // rn·n is long arithmetic — int would overflow once a bin holds
      // more than 2^31/n rows, exactly the oversized-bin case this
      // operator exists for — and the division is integer DIV, not
      // fractional `/`: a double quotient is exact only while the
      // product stays under 2^53, past which a boundary row can round
      // into the wrong chunk and push a child one over `bound`
      .withColumn("pbin", element_at(col("kids"),
        expr("(CAST(rn AS BIGINT) - 1L) * CAST(size(kids) AS BIGINT) div m")
          .cast("int") + 1))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        col("pbin"))
  }

  private def writeBinMap(spark: SparkSession, mapPath: String,
      logicalOf: Map[Long, Long]): Unit =
    spark.createDataFrame(
      logicalOf.toSeq.map { case (p, l) => (l, p) }).toDF("bin", "pbin")
      .coalesce(1).write.mode("overwrite").parquet(mapPath)

  /** [[splitIvfBins]] for a SnapshotLog-backed stream-built index (st24):
    * the split is itself a keyed SnapshotLog COMMIT — the overflowing
    * bins' files are read (selected by their `_pbin=` manifest path level,
    * pure string matching), the reassigned children land as the commit's
    * fresh files, and every other file is CARRIED by reference, so replay
    * no-ops on the key and untouched bins keep physical identity. The
    * logical→physical map re-persists from the post-split data (bounded
    * distinct over two int columns) so serving always reads a map
    * consistent with the live manifest.
    */
  def splitSnapshotBins(spark: SparkSession, tablePath: String,
      mapPath: String, bound: Long, commitKey: String): Seq[(Long, Long)] = {
    val v = SnapshotLog.latestVersion(spark, tablePath)
      .getOrElse(return Nil)
    val replayed = SnapshotLog.commitKeys(spark, tablePath).contains(commitKey)
    val mfAll = SnapshotLog.manifest(spark, tablePath, v)
    // scan DATA files only — a generation's codebook sidecar has its own
    // schema and describes the whole index, never one bin; it is carried
    // forward by reference with every other non-rewritten file
    val mf = SnapshotLog.dataFiles(mfAll)
    // ONE bounded aggregation yields both the logical map (each physical
    // bin holds a single logical bin — appends target logical ids, splits
    // inherit the parent's) and the per-bin sizes
    val agg = spark.read.parquet(mf: _*)
      .groupBy(col("pbin").cast("long").as("pbin"),
        col("centroid_id").cast("long").as("l")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val logicalOf = scala.collection.mutable.Map.empty[Long, Long]
    agg.foreach { case (p, l, _) => logicalOf(p) = l }
    val splits = scala.collection.mutable.Buffer.empty[(Long, Long)]
    if (!replayed) {
      val sizes = agg.groupBy(_._1).map { case (p, rs) =>
        p -> rs.map(_._3).sum }
      val over = sizes.filter(_._2 > bound).keys.toSeq.sorted
      if (over.nonEmpty) {
        val parentFiles = mf.filter(f =>
          over.exists(b => f.contains(s"/_pbin=$b/")))
        val rows = spark.read.parquet(parentFiles: _*)
          .select(col("vec_id"), col("embedding"),
            col("centroid_id").cast("long").as("centroid_id"),
            col("pbin").cast("long").as("pbin"))
        val rewritten = splitAssign(rows,
          over.map(b => b -> sizes(b)).toMap, bound, logicalOf, splits)
        SnapshotLog.commit(spark, tablePath, rewritten,
          carried = mfAll.filterNot(parentFiles.toSet),
          commitKey = Some(commitKey), partitionBy = Some("pbin"))
      }
    }
    writeBinMap(spark, mapPath, logicalOf.toMap)
    splits.toSeq
  }

  /** [[deleteFromIvfIndex]] for a SnapshotLog-backed split index (st25):
    * the takedown is itself a keyed SnapshotLog COMMIT — the bins holding
    * a doomed vector are found by a column-pruned semi-join over the live
    * manifest, ONLY those bins' files are read and rewritten anti-joined
    * against the tombstones, every other file is CARRIED by reference, and
    * a replay no-ops on the key. A fully-doomed bin simply contributes no
    * fresh files and its old ones are not carried, so it vanishes from the
    * manifest without any directory surgery (cleaner than the raw-dir
    * case's emptied-partition sweep). The logical→physical map re-persists
    * from the post-delete manifest so serving never probes a dead child.
    * Returns the rewritten bin ids (empty on replay or no-match).
    */
  def deleteSnapshotBins(spark: SparkSession, tablePath: String,
      doomed: DataFrame, mapPath: String, commitKey: String): Seq[Long] = {
    val v = SnapshotLog.latestVersion(spark, tablePath)
      .getOrElse(return Nil)
    val replayed = SnapshotLog.commitKeys(spark, tablePath).contains(commitKey)
    var affected: Seq[Long] = Nil
    if (!replayed) {
      val mfAll = SnapshotLog.manifest(spark, tablePath, v)
      val mf = SnapshotLog.dataFiles(mfAll) // sidecars carried, never scanned
      val scanned = spark.read.parquet(mf: _*)
      affected = scanned
        .join(broadcast(doomed), Seq("vec_id"), "left_semi")
        .select(col("pbin").cast("long").as("b"))
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
      if (affected.nonEmpty) {
        val parentFiles = mf.filter(f =>
          affected.exists(b => f.contains(s"/_pbin=$b/")))
        // schema-derived projection (the deleteFromIvfIndex rule):
        // metadata columns in the lists must survive the rewrite
        val touched = spark.read.parquet(parentFiles: _*)
        val dataCols = touched.columns.filterNot(_ == "pbin").toSeq
        val kept = touched
          .join(broadcast(doomed), Seq("vec_id"), "left_anti")
          .select(dataCols.map(col) :+
            col("pbin").cast("long").as("pbin"): _*)
        SnapshotLog.commit(spark, tablePath, kept,
          carried = mfAll.filterNot(parentFiles.toSet),
          commitKey = Some(commitKey), partitionBy = Some("pbin"))
      }
    }
    // map refresh from the LIVE manifest — bounded agg, the
    // splitSnapshotBins discipline: serving must never probe a child the
    // delete emptied out of the manifest
    val vNow = SnapshotLog.latestVersion(spark, tablePath).getOrElse(return affected)
    val mfNow = SnapshotLog.dataFiles(
      SnapshotLog.manifest(spark, tablePath, vNow))
    if (mfNow.nonEmpty) {
      val live = spark.read.parquet(mfNow: _*)
        .select(col("pbin").cast("long").as("pbin"),
          col("centroid_id").cast("long").as("l"))
        .distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      writeBinMap(spark, mapPath, live)
    }
    affected
  }

  /** e35: BIN-SPLIT MAINTENANCE — the missing piece between e20 (append
    * never rebalances) and e23 (compaction collapses files but not BINS):
    * under sustained appends the hottest coarse bin grows without bound,
    * and with it the cost of every per-bin rewrite and every probe that
    * touches it. e35 builds the index with e20's base+append, then
    * [[splitIvfBins]] caps every physical bin at corpus/5 (the 4-bin demo
    * layout guarantees an overflow by pigeonhole), then serves e20's
    * query set THROUGH the persisted logical→physical map: probed coarse
    * bins map to their physical children, the scan partition-prunes on
    * the children, and the ranking math is e20's verbatim. The oracle is
    * e18's full-corpus SQL for the FOURTH time — persist, append, compact,
    * and now split must each be invisible to results; hash equality proves
    * the split lost nothing and the map routes every probe correctly.
    *
    * Scale shape: maintenance cost ∝ overflow volume (only oversized
    * partitions rewrite, logarithmic rounds); serving adds one broadcast-
    * sized map lookup; bounded bins keep delete/compact/re-cluster
    * rewrites bounded forever after.
    */
  def e35BinSplitMaintain(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val dir = new java.io.File(
      s"target/parity/ivf-bindex-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}")
      .getAbsoluteFile.toString
    val oldCorpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 7)
    val newBatch = emb.filter(pmod(col("vec_id"), lit(10)) === 7)
    assignToCentroids(spark, sfDir, oldCorpus)
      .withColumn("pbin", col("centroid_id"))
      .write.mode("overwrite").partitionBy("pbin").parquet(s"file:$dir")
    assignToCentroids(spark, sfDir, newBatch)
      .withColumn("pbin", col("centroid_id"))
      .write.mode("append").partitionBy("pbin").parquet(s"file:$dir")

    val bound = math.max(1L, emb.count() / 5)
    val mapPath = s"file:$dir-map"
    splitIvfBins(spark, s"file:$dir", mapPath, bound)

    val queries = assignToCentroids(spark, sfDir, emb.filter(col("vec_id") < 10))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val probed = queries.select(col("centroid_id").cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    // logical → physical through the persisted map (bounded rows)
    val pbins = spark.read.parquet(mapPath)
      .filter(col("bin").isin(probed: _*))
      .select(col("pbin")).collect().map(_.getLong(0)).toSeq.sorted
    val idx = spark.read.option("basePath", s"file:$dir").parquet(s"file:$dir")
      .filter(col("pbin").cast("long").isin(pbins: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").cast("long").as("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** Re-derive a split index's logical→physical map from the LIVE index
    * contents (one bounded, column-pruned aggregation — output ∝ physical
    * bin count) and re-persist it at `mapPath`. This is the map-refresh
    * half of every destructive maintenance pass: a delete can empty a
    * physical child entirely (its directory is dropped), and a map that
    * still names the dead child would make serving probe paths that no
    * longer exist. Deriving from the data itself — each physical bin holds
    * exactly one logical bin, an invariant appends (target logical ids)
    * and splits (children inherit the parent's) both preserve — keeps the
    * persisted map consistent with the live manifest by construction, the
    * same discipline [[splitSnapshotBins]] applies per commit.
    */
  def refreshBinMap(spark: SparkSession, indexPath: String,
      mapPath: String): Unit = {
    val live = spark.read.option("basePath", indexPath).parquet(indexPath)
      .select(col("pbin").cast("long").as("pbin"),
        col("centroid_id").cast("long").as("l"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    writeBinMap(spark, mapPath, live)
  }

  /** e36: THE FULL SPLIT-BIN MAINTENANCE LIFECYCLE — e35 proved
    * append→split leaves results invariant; the remaining maintenance
    * interaction is a TAKEDOWN landing in a split CHILD routed through the
    * logical→physical map, followed by a compaction — the e21/u8 deletion
    * discipline and the e23 compaction discipline composed onto the split
    * layout. Chain: e20's base+append build (pbin = centroid_id) →
    * [[splitIvfBins]] caps every physical bin at corpus/5 (pigeonhole
    * guarantees at least one coarse bin splits) → [[deleteFromIvfIndex]]
    * over `pbin` removes a scattered doomed set (vec_id % 10 = 3 — ids in
    * every coarse bin, so deletions land in split children, not just
    * un-split parents) rewriting only the children that actually hold a
    * doomed vector → [[compactIvfIndex]] over `pbin` collapses fragmented
    * children → [[refreshBinMap]] re-derives the map from the live index
    * (a fully-doomed child's directory is gone; the map must not name it)
    * → e35's serving path through the refreshed map. The oracle is e21's
    * SQL (the e18 search over corpus MINUS the doomed set): split,
    * delete-routing, compaction, and the map refresh must each be
    * invisible to results — hash equality proves no deleted vector
    * survives, no innocent one is lost, and the map routes every probe
    * to the surviving children. (The reference analogue is the idempotent
    * partition-rewrite discipline of `bigquery_interaction.py:19-20` —
    * rewrite exactly the affected partition, leave the rest byte-stable —
    * applied to index bins.)
    *
    * Scale shape: every stage's rewrite is bounded — split ∝ overflow
    * volume, delete ∝ bins holding doomed ids, compact ∝ fragmented bins,
    * map refresh ∝ physical-bin count — so the full maintenance lifecycle
    * of a 10^10-vector index never pays an index-sized rewrite; that is
    * the property bounded bins exist to buy.
    */
  def e36SplitLifecycle(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val dir = new java.io.File(
      s"target/parity/ivf-lindex-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}")
      .getAbsoluteFile.toString
    val oldCorpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 7)
    val newBatch = emb.filter(pmod(col("vec_id"), lit(10)) === 7)
    assignToCentroids(spark, sfDir, oldCorpus)
      .withColumn("pbin", col("centroid_id"))
      .write.mode("overwrite").partitionBy("pbin").parquet(s"file:$dir")
    assignToCentroids(spark, sfDir, newBatch)
      .withColumn("pbin", col("centroid_id"))
      .write.mode("append").partitionBy("pbin").parquet(s"file:$dir")

    val bound = math.max(1L, emb.count() / 5)
    val mapPath = s"file:$dir-map"
    splitIvfBins(spark, s"file:$dir", mapPath, bound)

    // takedown routed through the split layout: only children holding a
    // doomed vector rewrite (calm siblings keep file identity — pinned in
    // PipelineQueriesSpec on the isolated-bin variant), then compaction
    // collapses whatever the delete fragmented, then the map refreshes
    // off the live index
    val doomed = emb.filter(pmod(col("vec_id"), lit(10)) === 3)
      .select("vec_id")
    deleteFromIvfIndex(spark, s"file:$dir", doomed, partCol = "pbin")
    compactIvfIndex(spark, s"file:$dir", maxFiles = 1, partCol = "pbin")
    refreshBinMap(spark, s"file:$dir", mapPath)

    // e35's serving path, verbatim, over the post-lifecycle index: probe
    // logical bins, map to surviving physical children, partition-prune
    // the scan to those children (queries exclude the doomed ids, the e21
    // convention)
    val queries = assignToCentroids(spark, sfDir,
      emb.filter(col("vec_id") < 10 && pmod(col("vec_id"), lit(10)) =!= 3))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val probed = queries.select(col("centroid_id").cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val pbins = spark.read.parquet(mapPath)
      .filter(col("bin").isin(probed: _*))
      .select(col("pbin")).collect().map(_.getLong(0)).toSeq.sorted
    val idx = spark.read.option("basePath", s"file:$dir").parquet(s"file:$dir")
      .filter(col("pbin").cast("long").isin(pbins: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").cast("long").as("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** e37: INDEX RE-TRAIN + BLUE-GREEN GENERATION SWAP — the one ANN
    * lifecycle event the maintenance matrix (append e20 / split e35 /
    * delete e21 / compact e23, batch and streaming) does not cover: every
    * maintenance operator keeps the coarse centroids FROZEN (deleting
    * corpus vectors never changes bin geometry — correct for takedowns),
    * so under sustained corpus drift assignment QUALITY degrades — splits
    * cap bin size but never improve where vectors land. The production
    * answer is a periodic re-index: re-train the coarse codebook on the
    * live corpus, rebuild the inverted lists under the new geometry as a
    * NEW GENERATION, atomically cut serving over, keep the old generation
    * for rollback, vacuum after. (Reference analogue: the whole-table
    * `CREATE_NEVER`/`WRITE_TRUNCATE` refresh discipline of
    * `bq_create_table_ddl.sql:1-13` + `commands.sh:17-26`, applied at
    * index granularity — replace the artifact wholesale, never patch it.)
    *
    * The generation mechanics are [[graft.sources.SnapshotLog]] used
    * blue-green: generation 1 (blue) is the v1 commit (demo-centroid
    * geometry, e18's); the re-train commits the rebuilt lists as a
    * REPLACE-ALL snapshot (`carried = Nil` — no gen-1 file survives into
    * v2's manifest) whose key carries every superseded generation's keys
    * forward (the compact discipline: retention must never reopen a
    * replay window, and a replayed gen-1 build after the swap must
    * no-op). The manifest rename IS the atomic cut-over: a reader pinned
    * to `latestVersion` sees the old generation or the new one, never a
    * mix — mid-rebuild (gen-2 data staged, manifest unpublished) serving
    * reads only gen-1, post-swap only gen-2, both spec-pinned in
    * `GenerationSwapSpec` along with the rollback read (v1 stays
    * byte-identical until retention). The gate query runs the FULL
    * lifecycle — build → re-train → swap → close the rollback window
    * ([[SnapshotLog.retainVersions]] keep=1 reclaims gen-1's files) →
    * serve — and the oracle restates serving under the re-trained
    * geometry (one Lloyd round over the live corpus seeded from the
    * serving geometry), so a swap that lost vectors, served stale bins,
    * or vacuumed a live file fails the hash.
    *
    * Scale shape: the rebuild is one corpus-sized assignment scan + one
    * partitioned write — a BUDGETED, schedulable background job (st17's
    * job class), NOT serving work; serving cost is unchanged (bin-pruned
    * manifest read). The swap itself is O(manifest): one rename. Rollback
    * is O(1) (read the prior version). Vacuum is bounded by the replaced
    * generation's file count. Nothing here scales with query traffic —
    * the blue-green discipline is exactly what lets a 10^10-vector index
    * re-train online without a serving gap.
    */
  def e37RetrainSwap(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val tbl = s"file:${parityDir(s"ivf-genlog-$sfTag")}"
    MicroBatchJob.wipe(spark, tbl)

    // generation 1 (blue): the serving geometry to date — e18's demo
    // centroids; committed keyed so a replayed build after the swap no-ops.
    // The codebook rides the commit as a SIDECAR: the geometry the lists
    // were built under publishes in the SAME manifest rename as the lists,
    // so no replica can ever pair gen-1 files with non-gen-1 centroids.
    val demoCents = table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val gen1 = assignToGivenCentroids(emb, demoCents)
    SnapshotLog.commit(spark, tbl, gen1, Nil, Some("gen-1-build"),
      partitionBy = Some("centroid_id"),
      sidecars = Seq("coarse" -> demoCents))

    // corpus-drift re-train: one Lloyd round over the LIVE corpus seeded
    // from the serving geometry — new centroid PARAMETERS (bin means, not
    // corpus rows); then the full rebuild under the new geometry lands as
    // a replace-all commit carrying ITS codebook sidecar. The manifest
    // rename is the blue-green cut — data and geometry swap together.
    val cents2 = kmeansCentroids(spark, sfDir, iters = 1, k = 4)
    val gen2 = assignTrained(emb, cents2)
    SnapshotLog.commit(spark, tbl, gen2, Nil, Some("gen-2-retrain"),
      partitionBy = Some("centroid_id"),
      carriedKeys = SnapshotLog.commitKeys(spark, tbl),
      sidecars = Seq("coarse" -> cents2))

    // rollback window closes: retention keeps only the head generation and
    // reclaims gen-1's now-unreferenced files (zero horizon is safe — the
    // table is quiescent, this thread is its only writer). Serving below
    // proves the vacuum touched nothing live.
    SnapshotLog.retainVersions(spark, tbl, keep = 1, olderThanMillis = 0L)

    // serving resolves EVERYTHING from the generation: geometry from the
    // head's sidecar, candidates from the head's manifest — the corpus the
    // codebook was trained on is not consulted (GenerationSidecarSpec pins
    // that a replica with no corpus access serves identically)
    serveIvfGeneration(spark, tbl, emb.filter(col("vec_id") < 10), k)
  }

  /** Serve the e18-family top-k over whatever generation is at a
    * generation-log's HEAD — geometry from the head's `coarse` sidecar,
    * candidate files from the head's manifest, NOTHING from the training
    * corpus (`qEmb` is the caller's query batch, the one input serving
    * legitimately needs). The generation is identified by its commit keys
    * (one manifest-header read, O(bytes)); the assignment arithmetic
    * follows the generation — demo float-dot for gen-1 (sidecar schema
    * c_emb: array<float>), trained double-dot for gen-2 (c: array<double>)
    * — so answers are bit-identical to the path that built each
    * generation. Shared by e37 (one-shot) and st26 (per serving batch);
    * the no-corpus-access contract is what makes a fresh serving replica
    * correct by construction: geometry drift between a replica's
    * re-derivation and the index's build (r19 verdict "what's wrong" #3)
    * is impossible when there is nothing to re-derive.
    */
  private[operators] def serveIvfGeneration(spark: SparkSession, tbl: String,
      qEmb: DataFrame, k: Int): DataFrame = {
    val head = SnapshotLog.latestVersion(spark, tbl)
      .getOrElse(sys.error("serveIvfGeneration: no generations committed"))
    val gen2 = SnapshotLog.versionKeys(spark, tbl, head)
      .contains("gen-2-retrain")
    val cents = SnapshotLog.readSidecar(spark, tbl, head, "coarse")
    val queries = (if (gen2) assignTrained(qEmb, cents)
      else assignToGivenCentroids(qEmb, cents))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val probed = queries.select(col("centroid_id").cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val mf = SnapshotLog.manifest(spark, tbl, head)
    val idxFiles = SnapshotLog.dataFiles(mf)
      .filter(f => probed.exists(b => f.contains(s"/_centroid_id=$b/")))
    serveManifestFiles(spark, queries, mf, idxFiles, k)
  }

  /** st26: STREAMING SERVING ACROSS THE GENERATION SWAP — e37's blue-green
    * re-index landing MID-STREAM in the st20/st22 serving-loop shape: a
    * 4-batch serving stream answers the same query set every batch, the
    * re-train + replace-all swap commits at batch 2 (keyed — a replayed
    * batch 2 must not re-index twice), and each batch serves through
    * whatever generation the HEAD manifest records at that moment —
    * resolved by [[SnapshotLog.versionKeys]], never by wall clock, so the
    * serve/swap interleaving is deterministic under replay. Batches 0-1
    * answer under gen-1 geometry, batches 2-3 under gen-2; earlier
    * batches' committed results stay valid (their batchId-keyed commits
    * are never rewritten — the exactly-once ledger is the proof that the
    * swap invalidated no prior answer). The output collapses the per-batch
    * results to distinct rows per generation plus, per row, the count of
    * batches that produced it — exactly 2 per generation, which pins the
    * swap TIMING (a batch serving the wrong generation shifts a count),
    * and the total keyed commit count pins exactly-once.
    *
    * Scale shape: per batch, cost = one bin-pruned manifest read of the
    * current generation (nprobe/C of the index) + a result commit; the
    * swap adds ONE manifest-header read per batch (versionKeys — O(bytes))
    * to resolve the generation, which is the entire coordination cost of
    * re-indexing under a live serving stream. No batch ever reads both
    * generations; no serving pause.
    */
  def st26StreamingGenerationSwap(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val genTbl = s"file:${parityDir(s"ivf-st26gen-$sfTag")}"
    val resTbl = s"file:${parityDir(s"ivf-st26res-$sfTag")}"
    val tickDirF = parityDir(s"ivf-st26tick-$sfTag")
    val ckptDir = parityDir(s"ivf-st26ckpt-$sfTag")
    MicroBatchJob.wipe(spark, genTbl, resTbl, s"file:$ckptDir")

    // 4 one-row serving-tick files → 4 micro-batches (the stream carries
    // serving REQUESTS; the query set itself is fixed, so results depend
    // only on which generation each batch resolves — order-independent)
    spark.range(4).select(col("id").as("tick"))
      .repartitionByRange(4, col("tick"))
      .write.mode("overwrite").parquet(s"file:$tickDirF")

    // generation 1 (blue) is live before the stream starts — its demo
    // codebook rides the commit as the `coarse` sidecar (e37's discipline)
    val demoCents = table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    SnapshotLog.commit(spark, genTbl,
      assignToGivenCentroids(emb, demoCents),
      Nil, Some("gen-1-build"), partitionBy = Some("centroid_id"),
      sidecars = Seq("coarse" -> demoCents))

    MicroBatchJob.run(spark, tickDirF, TickSchema, ckptDir, 8) {
      (bs, _, batchId) =>
        if (batchId == 2) {
          // the re-index event: e37's re-train + replace-all swap, keyed
          // so a replay of this batch finds the key and no-ops; the
          // re-trained codebook publishes IN the swap commit (sidecar)
          val cents2 = kmeansCentroids(bs, sfDir, iters = 1, k = 4)
          val gen2 = assignTrained(
            table(bs, sfDir, "embeddings")
              .select(col("vec_id"), col("embedding")), cents2)
          SnapshotLog.commit(bs, genTbl, gen2, Nil, Some("gen-2-retrain"),
            partitionBy = Some("centroid_id"),
            carriedKeys = SnapshotLog.commitKeys(bs, genTbl),
            sidecars = Seq("coarse" -> cents2))
          ()
        }
        // resolve the generation THIS batch serves from the head
        // manifest's keys — the atomic-cut read side; geometry comes from
        // the head's sidecar (serveIvfGeneration), NEVER re-derived from
        // the corpus, so a serving replica needs only the generation log
        val head = SnapshotLog.latestVersion(bs, genTbl)
          .getOrElse(sys.error("st26: no generation live"))
        val genNow =
          if (SnapshotLog.versionKeys(bs, genTbl, head)
              .contains("gen-2-retrain")) 2 else 1
        val embq = table(bs, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < 10)
        val res = serveIvfGeneration(bs, genTbl, embq, k)
          .withColumn("gen", lit(genNow))
          .withColumn("batch_id", lit(batchId))
        MicroBatchJob.appendBatch(bs, resTbl, res, batchId, None,
          maxFilesPerPartition = 4)
    }

    val (vRes, nBatches) = MicroBatchJob.batchLog(spark, resTbl)
    SnapshotLog.read(spark, resTbl, vRes)
      .groupBy("gen", "query_id", "rank", "neighbor_id", "ivf_sim")
      .agg(countDistinct(col("batch_id")).cast("int").as("n_gen_batches"))
      .withColumn("n_commits", lit(nBatches))
  }

  /** st27: GENERATION SWAP UNDER LIVE SPLIT MAINTENANCE — the last
    * composition in the index-lifecycle story: e37's blue-green re-train
    * lands in the MIDDLE of st24's maintained ingest stream, proving the
    * re-index does not race the maintenance commits. The loop is st24's
    * verbatim — batchId-keyed appends into `pbin`-keyed inverted lists,
    * in-loop per-list compaction, [[splitSnapshotBins]] capping bins at
    * odd batches — with two generation twists: (a) the serving GEOMETRY
    * deploys as the index's FIRST commit (a codebook sidecar with zero
    * data rows — the production order: a trained codebook ships, then
    * ingest populates its lists), and every batch resolves the geometry
    * it assigns under from the head generation's sidecar (one manifest-
    * header read, never a wall clock, never the corpus); (b) at batch 2
    * the re-train + replace-all swap commits mid-stream — everything
    * arrived so far re-encodes under the re-trained codebook, the swap
    * carries every live key (appends, splits, gen-1) so no replay window
    * reopens, and the new codebook rides the swap as its sidecar. Splits
    * at batches 1 and 3 BRACKET the swap (st25's delete-bracketing
    * pattern), so batch 3's split re-caps the post-swap landscape and
    * re-derives the map over re-encoded bins + post-swap arrivals. Both
    * job classes serialize through keyed SnapshotLog commits on one
    * table, which is the whole interleaving proof: a split and a swap
    * can never half-apply over each other, and a replay of either finds
    * its key and no-ops (spec-pinned). The oracle is e37's re-trained
    * serving SQL — ingest, two splits, in-loop compaction, and a
    * mid-stream re-index must answer exactly what a fresh one-shot build
    * under the new geometry answers — plus exactly-once counts for BOTH
    * job classes (4 appends, 1 swap, 2 splits).
    *
    * Scale shape: per batch cost is st24's (batch-sized assignment,
    * bin-scoped maintenance); the swap adds one corpus-so-far re-encode
    * scan (the irreducible cost of new geometry) and O(manifest) key
    * bookkeeping; geometry resolution is one header read per batch. A
    * re-train never pauses ingest and maintenance never pauses for the
    * re-train — the keyed log is the only coordination either needs.
    */
  def st27SwapUnderMaintenance(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (splitDir, nEmb) = embSplitFixture(emb, sfDir)
    val bound = math.max(1L, (nEmb - 1) / 8)
    val tbl = s"file:${parityDir(s"ivf-st27index-$sfTag")}"
    val mapPath = s"file:${parityDir(s"ivf-st27map-$sfTag")}"
    val ckptDir = parityDir(s"ivf-st27ckpt-$sfTag")
    MicroBatchJob.wipe(spark, tbl, s"file:$ckptDir", mapPath)

    // gen-1 geometry deploys BEFORE any data: the demo codebook is the
    // index's first keyed commit — sidecar only, zero data rows — so
    // batch 0 already finds a generation to assign under
    val demoCents = table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    SnapshotLog.commit(spark, tbl,
      assignToGivenCentroids(emb.filter(lit(false)), demoCents)
        .withColumn("pbin", col("centroid_id")),
      Nil, Some("gen-1-geom"), partitionBy = Some("pbin"),
      sidecars = Seq("coarse" -> demoCents))

    MicroBatchJob.run(spark, splitDir, EmbeddingArrivalSchema, ckptDir, 8) {
      (bs, batch, batchId) =>
        // assign under whatever generation is live NOW — geometry from
        // the head's sidecar, generation identified by the TABLE-WIDE
        // commit-key ledger (still O(manifest headers)): ordinary append
        // and split commits do not carry prior keys forward, so probing
        // only the HEAD version's keys detects gen-2 solely while the
        // swap version itself is head — correct under the current
        // schedule (swap at batch 2, splits at 1/3), but silently
        // schedule-coupled (a split in the swap's batch, or a 5th batch,
        // would misread gen-1). commitKeys scans all live manifests'
        // headers, so the detection is schedule-independent.
        val head = SnapshotLog.latestVersion(bs, tbl)
          .getOrElse(sys.error("st27: no generation live"))
        val cents = SnapshotLog.readSidecar(bs, tbl, head, "coarse")
        val gen2Live = SnapshotLog.commitKeys(bs, tbl)
          .contains("gen-2-retrain")
        val delta = (if (gen2Live) assignTrained(batch, cents)
          else assignToGivenCentroids(batch, cents))
          .withColumn("pbin", col("centroid_id"))
        // the batch's append commits onto the head resolved above (the
        // generation it assigned under), so it takes no second log listing
        SnapshotLog.commit(bs, tbl, delta,
          SnapshotLog.manifest(bs, tbl, head),
          commitKey = Some(s"batch-$batchId"), partitionBy = Some("pbin"))
        MicroBatchJob.maintainStreamLog(bs, tbl, Some("pbin"),
          maxFilesPerPartition = 2, batchId)
        if (batchId == 2) {
          // the re-index event, bracketed by the batch-1 and batch-3
          // splits: everything arrived so far re-encodes under the
          // re-trained codebook; the replace-all commit carries EVERY
          // live key (appends, split, gen-1) so retention after it can
          // never reopen a replay window, and the new geometry rides
          // the same manifest rename as the re-encoded lists
          val cents2 = kmeansCentroids(bs, sfDir, iters = 1, k = 4)
          val vNow = SnapshotLog.latestVersion(bs, tbl).get
          val arrived = SnapshotLog.read(bs, tbl, vNow)
            .select(col("vec_id"), col("embedding"))
          SnapshotLog.commit(bs, tbl,
            assignTrained(arrived, cents2)
              .withColumn("pbin", col("centroid_id")),
            Nil, Some("gen-2-retrain"), partitionBy = Some("pbin"),
            carriedKeys = SnapshotLog.commitKeys(bs, tbl),
            sidecars = Seq("coarse" -> cents2))
          ()
        }
        if (batchId % 2 == 1) {
          splitSnapshotBins(bs, tbl, mapPath, bound,
            commitKey = s"split-$batchId")
          ()
        }
    }

    // serving: geometry from the head generation's sidecar (post-swap =
    // the re-trained codebook), probed logical bins routed through the
    // persisted map to physical children, files from the head manifest
    val vIdx = SnapshotLog.latestVersion(spark, tbl)
      .getOrElse(sys.error("st27: no index commits"))
    val centsHead = SnapshotLog.readSidecar(spark, tbl, vIdx, "coarse")
    val queries = assignTrained(emb.filter(col("vec_id") < 10), centsHead)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val probed = queries.select(col("centroid_id").cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    val pbins = spark.read.parquet(mapPath)
      .filter(col("bin").isin(probed.toSeq: _*))
      .select(col("pbin")).collect().map(_.getLong(0)).toSeq.sorted
    val mf = SnapshotLog.manifest(spark, tbl, vIdx)
    val idxFiles = SnapshotLog.dataFiles(mf)
      .filter(f => pbins.exists(p => f.contains(s"/_pbin=$p/")))
    val keys = SnapshotLog.commitKeys(spark, tbl)
    serveManifestFiles(spark, queries, mf, idxFiles, k)
      .withColumn("n_commits", lit(keys.count(_.startsWith("batch-"))))
      .withColumn("n_swaps", lit(keys.count(_ == "gen-2-retrain")))
      .withColumn("n_splits", lit(keys.count(_.startsWith("split-"))))
  }

  /** e38: BLUE-GREEN RE-TRAIN OF THE COMPRESSED INDEX — e37's generation
    * swap carried to the repo's own production ANN artifact, the IVF-PQ
    * index (e32: bin-partitioned inverted lists of M-byte PQ codes). A
    * re-index here is strictly more than e37's: the coarse codebook AND
    * the M per-subspace fine codebooks re-train on the live corpus, and
    * every vector's CODES are re-encoded under the new fine geometry —
    * PQ codes are meaningless outside the codebook that produced them, so
    * a generation of this index is the triple (lists, coarse book, fine
    * books) and must swap as one unit. That is exactly what the sidecar
    * commit gives: both codebooks publish in the SAME manifest rename as
    * the re-encoded lists, so no reader can ever decode gen-2 codes with
    * gen-1 books (the ADC failure mode that silently returns garbage
    * scores rather than erroring). Lifecycle = e37's verbatim: gen-1
    * build (iters=1 geometry, keyed) → re-train + re-encode → replace-all
    * swap commit carrying all keys + both sidecars → retention closes the
    * rollback window → serve. Serving resolves coarse book, fine books,
    * and candidate files ALL from the head generation
    * ([[serveIvfPqGeneration]] — no corpus access), answering e26's
    * fully-trained ADC search under the re-trained (iters=2, the
    * production) geometry; the oracle is e26's SQL verbatim, the third
    * artifact to restate it (e32 persisted, st21 stream-built, now the
    * re-trained generation), which is the whole claim: build history —
    * one-shot, streamed, or re-indexed — must be invisible to answers.
    * (Reference analogue: the whole-artifact `CREATE_NEVER`/
    * `WRITE_TRUNCATE` refresh of `bq_create_table_ddl.sql:1-13` +
    * `commands.sh:17-26`, at compressed-index granularity.)
    *
    * Scale shape: re-training is the bounded per-round Lloyd scans the
    * training queries pin (coarse N·k dots, fine N·M·K sub-dots per
    * round); re-encoding is ONE corpus-sized assignment scan writing
    * M-byte codes (32× fewer output bytes than e37's raw rebuild — the
    * compressed re-index is CHEAPER than the raw one on the write side);
    * the swap stays O(manifest), rollback O(1), vacuum bounded by gen-1's
    * file count; serving I/O stays nprobe/C of the CODE table. A
    * 10^10-vector compressed index re-trains online with no serving gap
    * and no geometry ambiguity.
    */
  def e38RetrainSwapCompressed(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val tbl = s"file:${parityDir(s"ivfpq-genlog-$sfTag")}"
    MicroBatchJob.wipe(spark, tbl)

    // generation 1 (blue): the serving geometry to date — coarse + fine
    // codebooks at ONE Lloyd round, every vector encoded under them; the
    // whole triple (lists, coarse, fine) publishes in one keyed commit
    SnapshotLog.commit(spark, tbl, ivfPqIndexRows(spark, sfDir, iters = 1),
      Nil, Some("gen-1-build"), partitionBy = Some("bin"),
      sidecars = Seq(
        "coarse" -> kmeansCentroids(spark, sfDir, iters = 1),
        "fine" -> pqTrainedCodebooks(spark, sfDir, iters = 1)))

    // the re-index: coarse AND fine geometry re-train to the production
    // iters=2 books, every vector re-encodes, and the replace-all commit
    // (all keys carried — a replayed gen-1 build must no-op forever)
    // swaps lists + both codebooks in one manifest rename
    SnapshotLog.commit(spark, tbl, ivfPqIndexRows(spark, sfDir, iters = 2),
      Nil, Some("gen-2-retrain"), partitionBy = Some("bin"),
      carriedKeys = SnapshotLog.commitKeys(spark, tbl),
      sidecars = Seq(
        "coarse" -> kmeansCentroids(spark, sfDir, iters = 2),
        "fine" -> pqTrainedCodebooks(spark, sfDir, iters = 2)))

    // rollback window closes (e37's rule: quiescent table, zero horizon)
    SnapshotLog.retainVersions(spark, tbl, keep = 1, olderThanMillis = 0L)

    // serve e26's query set through the head generation alone
    serveIvfPqGeneration(spark, tbl, emb.filter(col("vec_id") < 10), k)
  }

  /** st28: STREAMING ADC SERVING ACROSS THE COMPRESSED GENERATION SWAP —
    * st26's proof (serving never pauses, never reads a torn generation,
    * and resolves WHICH generation per batch from the manifest's commit
    * keys alone) carried to the production artifact: e38's compressed
    * IVF-PQ generations, where a swap replaces lists AND both codebook
    * families at once. The stakes are higher here than in st26: a raw
    * index served against slightly-stale centroids returns valid (if
    * differently-binned) scores, but PQ codes decoded with the WRONG
    * fine books return silent garbage — so the triple-swap atomicity
    * (codes + coarse + fine in one manifest rename, e38's sidecar
    * discipline) is exactly what lets a serving loop run through the
    * re-index with no coordination beyond one manifest-header read per
    * batch. Mechanics: a 4-batch serving stream answers e26's query set
    * every batch via [[serveIvfPqGeneration]] (geometry from the HEAD
    * generation's sidecars, candidates from its manifest, zero corpus
    * access); the iters=1→iters=2 re-train + re-encode + swap commits
    * keyed at batch 2 (replay no-ops); batches 0-1 answer under gen-1
    * books, 2-3 under gen-2, each result landing as a batchId-keyed
    * commit that the swap never rewrites. Output: distinct rows per
    * generation + per-row producing-batch count (exactly 2 pins the
    * swap timing) + the exactly-once commit total. Oracle: e26's ADC
    * SQL under BOTH training depths — the one-round books (pc1/c1 of
    * the shared chain) and the production two-round books (pc2/c2) —
    * which only matches if every batch decoded codes with exactly the
    * books they were encoded under.
    *
    * Scale shape: per batch, one bin-pruned read of the current
    * generation's code table (nprobe/C of M-byte codes) + broadcast
    * query sub-dots + a result commit; the swap adds one header read
    * per batch. Re-indexing a 10^10-vector compressed index under a
    * live ADC serving stream costs the serving loop nothing but that
    * header read.
    */
  def st28StreamingPqGenerationSwap(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val genTbl = s"file:${parityDir(s"ivfpq-st28gen-$sfTag")}"
    val resTbl = s"file:${parityDir(s"ivfpq-st28res-$sfTag")}"
    val tickDirF = parityDir(s"ivfpq-st28tick-$sfTag")
    val ckptDir = parityDir(s"ivfpq-st28ckpt-$sfTag")
    MicroBatchJob.wipe(spark, genTbl, resTbl, s"file:$ckptDir")

    spark.range(4).select(col("id").as("tick"))
      .repartitionByRange(4, col("tick"))
      .write.mode("overwrite").parquet(s"file:$tickDirF")

    // generation 1 (blue) live before the stream: e38's gen-1 verbatim —
    // the whole triple (codes, coarse book, fine books) in one keyed commit
    SnapshotLog.commit(spark, genTbl, ivfPqIndexRows(spark, sfDir, iters = 1),
      Nil, Some("gen-1-build"), partitionBy = Some("bin"),
      sidecars = Seq(
        "coarse" -> kmeansCentroids(spark, sfDir, iters = 1),
        "fine" -> pqTrainedCodebooks(spark, sfDir, iters = 1)))

    MicroBatchJob.run(spark, tickDirF, TickSchema, ckptDir, 8) {
      (bs, _, batchId) =>
        if (batchId == 2) {
          // e38's re-index event mid-stream: coarse AND fine books
          // re-train to the production iters=2 geometry, every code
          // re-encodes, and the keyed replace-all commit swaps all
          // three in one manifest rename (replay finds the key, no-ops)
          SnapshotLog.commit(bs, genTbl,
            ivfPqIndexRows(bs, sfDir, iters = 2),
            Nil, Some("gen-2-retrain"), partitionBy = Some("bin"),
            carriedKeys = SnapshotLog.commitKeys(bs, genTbl),
            sidecars = Seq(
              "coarse" -> kmeansCentroids(bs, sfDir, iters = 2),
              "fine" -> pqTrainedCodebooks(bs, sfDir, iters = 2)))
          ()
        }
        val head = SnapshotLog.latestVersion(bs, genTbl)
          .getOrElse(sys.error("st28: no generation live"))
        val genNow =
          if (SnapshotLog.versionKeys(bs, genTbl, head)
              .contains("gen-2-retrain")) 2 else 1
        val embq = table(bs, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < 10)
        val res = serveIvfPqGeneration(bs, genTbl, embq, k)
          .withColumn("gen", lit(genNow))
          .withColumn("batch_id", lit(batchId))
        MicroBatchJob.appendBatch(bs, resTbl, res, batchId, None,
          maxFilesPerPartition = 4)
    }

    val (vRes, nBatches) = MicroBatchJob.batchLog(spark, resTbl)
    SnapshotLog.read(spark, resTbl, vRes)
      .groupBy("gen", "query_id", "rank", "neighbor_id", "fivfpq_sim")
      .agg(countDistinct(col("batch_id")).cast("int").as("n_gen_batches"))
      .withColumn("n_commits", lit(nBatches))
  }

  /** The compressed index rows for one geometry generation: every corpus
    * vector's M PQ codes (fine books at `iters`) tagged with its coarse
    * bin (coarse book at `iters`) — e32's build, parameterized by training
    * depth so e38 can materialize two genuinely different generations.
    */
  private[operators] def ivfPqIndexRows(spark: SparkSession, sfDir: String,
      iters: Int): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    pqCodes(spark, sfDir, iters)
      .select(col("vec_id"), col("m"), col("centroid_id").as("code"))
      .join(assignTrained(emb, kmeansCentroids(spark, sfDir, iters))
        .select(col("vec_id"), col("centroid_id").as("bin")), "vec_id")
  }

  /** Serve e26's trained ADC search over whatever generation is at a
    * compressed-index generation-log's HEAD: coarse book, fine books, and
    * probed-bin candidate files ALL resolve from the head commit — the
    * training corpus is never consulted (GenerationSidecarSpec pins that a
    * replica with zero corpus access answers identically). Per query the
    * plan is e32's: encode the query batch against the broadcast fine
    * books (Q·M·K rows), coarse-assign it against the broadcast coarse
    * book, prune the read to probed bins by manifest path matching, then
    * the (bin, m, code) equi-join + partial-agg'd score sum and the
    * deterministic top-k.
    */
  private[operators] def serveIvfPqGeneration(spark: SparkSession,
      tbl: String, qEmb: DataFrame, k: Int): DataFrame = {
    val head = SnapshotLog.latestVersion(spark, tbl)
      .getOrElse(sys.error("serveIvfPqGeneration: no generations committed"))
    val coarse = SnapshotLog.readSidecar(spark, tbl, head, "coarse")
    val fine = SnapshotLog.readSidecar(spark, tbl, head, "fine")
    val dotc = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t).cast("decimal(20,6)")
    val qdots = subspaces(qEmb)
      .join(broadcast(fine), "m")
      .select(col("vec_id").as("query_id"), col("m"),
        col("centroid_id").as("code"), dotc.as("qd"))
      .join(assignTrained(qEmb, coarse)
        .select(col("vec_id").as("query_id"),
          col("centroid_id").as("bin")), "query_id")
    val probed = qdots.select(col("bin").cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val mf = SnapshotLog.manifest(spark, tbl, head)
    val idxFiles = SnapshotLog.dataFiles(mf)
      .filter(f => probed.exists(b => f.contains(s"/_bin=$b/")))
    // the serveManifestFiles fallback rule, compressed: data files only,
    // and an explicitly-typed empty frame when the generation holds ONLY
    // its codebook sidecars (geometry deployed, no codes ingested yet) —
    // a zero-path parquet read would throw (shared constant: see
    // [[PqIndexRowSchema]] — the writer and this fallback cannot drift)
    val dataMf = SnapshotLog.dataFiles(mf)
    val idxRaw =
      if (idxFiles.nonEmpty) spark.read.parquet(idxFiles: _*)
      else if (dataMf.nonEmpty)
        spark.read.parquet(dataMf: _*).filter(lit(false))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        PqIndexRowSchema)
    val idx = idxRaw
      .select(col("vec_id").as("neighbor_id"), col("m"), col("code"),
        col("bin").cast("long").as("bin"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sum").desc, col("neighbor_id").asc)
    idx.join(broadcast(qdots), Seq("bin", "m", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("sim_sum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_sum").cast("double").as("fivfpq_sim"))
  }

  /** e21: INDEX DELETE — the takedown half of index maintenance (e20 adds,
    * this removes): a doomed-id list (content takedown / right-to-erasure,
    * the u2 scenario at index granularity) is removed from the persisted
    * inverted lists by rewriting ONLY the bins that contain a doomed
    * vector. The affected-bin probe reads just (vec_id, centroid_id) — a
    * column-pruned scan with the doomed set broadcast as a semi-join —
    * then one dynamic partition overwrite rewrites those bins anti-joined
    * against the tombstones. Untouched bins keep their files. Serving is
    * e18's path unchanged; the oracle restates the search over the corpus
    * MINUS the doomed set (queries likewise), so the hash fails if a
    * deleted vector survives anywhere or an innocent one is lost.
    *
    * Scale shape: cost ∝ bins containing doomed ids, never index size —
    * a thousand-id takedown over a 10^10-vector index touches a handful of
    * bin directories; centroids are trained PARAMETERS, so deleting corpus
    * vectors never changes bin geometry.
    */
  def e21IvfDelete(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val dir = new java.io.File(
      s"target/parity/ivf-dindex-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}")
      .getAbsoluteFile.toString
    assignToCentroids(spark, sfDir, emb)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"file:$dir")

    val doomed = emb.filter(pmod(col("vec_id"), lit(10)) === 3)
      .select("vec_id")
    deleteFromIvfIndex(spark, s"file:$dir", doomed)

    val queries = assignToCentroids(spark, sfDir,
      emb.filter(col("vec_id") < 10 && pmod(col("vec_id"), lit(10)) =!= 3))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val bins = queries.select(col("centroid_id").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val idx = spark.read.option("basePath", s"file:$dir").parquet(s"file:$dir")
      .filter(col("centroid_id").cast("int").isin(bins: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").cast("long").as("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(queries), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** e19: FILTERED ANN — metadata-constrained search over the e18 persisted
    * index, the missing production dial: "nearest neighbors of q AMONG docs
    * matching a predicate" (licensed-only corpora, language slices, safety
    * tiers). The metadata column (`label`) is stored IN the inverted lists,
    * so the filter is a parquet row-group predicate on the already
    * bin-pruned read — post-filtering inside probed bins, the standard
    * filtered-IVF strategy. nprobe=2 compensates the thinner candidate set
    * (a fixed predicate prunes every bin roughly uniformly, so recall decay
    * is the e16 curve shifted, and the same dial recovers it).
    *
    * Plan shape at 100 TB: probed-bin partition pruning (PartitionFilters)
    * × pushed label predicate (PushedFilters) means the scan touches only
    * matching row groups of probed bins — the read does the filtering, not
    * a downstream operator. Both pins live in `PlanShapeSpec`. Candidates
    * are disjoint across probed bins by construction (a vector lives in
    * exactly one bin), so no cross-bin dedup.
    */
  def e19FilteredIvf(spark: SparkSession, sfDir: String, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("a_sim").desc, col("centroid_id").asc)
    val ranked = emb.crossJoin(broadcast(cents))
      .withColumn("a_sim", dot(col("embedding"), col("c_emb")).cast("decimal(20,6)"))
      .withColumn("a_rk", row_number().over(wAssign))
    val assigned = ranked.filter(col("a_rk") === 1)
      .select(col("vec_id"), col("embedding"), col("label"), col("centroid_id"))

    val dir = new java.io.File(
      s"target/parity/ivf-findex-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}")
      .getAbsoluteFile.toString
    assigned.write.mode("overwrite")
      .partitionBy("centroid_id").parquet(s"file:$dir")

    val probes = ranked.filter(col("vec_id") < 10 && col("a_rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
    val bins = probes.select(col("centroid_id").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val idx = spark.read.option("basePath", s"file:$dir").parquet(s"file:$dir")
      .filter(col("centroid_id").cast("int").isin(bins: _*))
      .filter(col("label").isin(1, 3, 5))
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("centroid_id").cast("long").as("centroid_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_dec").desc, col("neighbor_id").asc)
    idx.join(broadcast(probes), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_dec", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim_dec").cast("double").as("ivf_sim"))
  }

  /** e22: recall of the FILTERED search (e19) against the filtered
    * brute-force top-k — the e7/e12/e16 quality-measurement discipline
    * applied to predicate-constrained serving. The baseline ranks ALL
    * label-matching vectors by the same dot-product metric; e19's probed
    * bins (nprobe=2) recover a measured fraction of them. The number the
    * oracle pins is the one a production deployment watches when it dials
    * nprobe against predicate selectivity.
    */
  def e22FilteredRecall(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val ivf = e19FilteredIvf(spark, sfDir, k)
      .select("query_id", "neighbor_id")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cand = emb.filter(col("label").isin(1, 3, 5))
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    val brute = cand.crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("q_emb"), col("embedding")).cast("decimal(20,6)"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id")
    val ivfR = ivf.select(col("query_id").as("iq"), col("neighbor_id").as("hit"))
    brute.join(ivfR, brute("query_id") === col("iq") &&
        brute("neighbor_id") === col("hit"), "left")
      .groupBy(brute("query_id"))
      .agg(count(col("hit")).as("hits"))
      .select(col("query_id"), col("hits"),
        (col("hits").cast("double") / k).as("recall"))
  }

  /** e12: recall@k of BOTH quantized search paths (SQ8 e10, PQ-ADC e11)
    * against the exact brute-force top-k (e2) — e7's quality-measurement
    * discipline applied to the compression paths: quantization loss is a
    * number you track, not a hope. Pure composition plus two pair joins;
    * all three inputs are deterministic, so recall is oracle-exact.
    */
  def e12QuantRecall(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val brute = e2KnnBrute(spark, sfDir, k).select("query_id", "neighbor_id")
    val sq = e10SqKnn(spark, sfDir, k).select("query_id", "neighbor_id")
    val pq = e11PqAdc(spark, sfDir, k).select("query_id", "neighbor_id")
    def hits(path: DataFrame, name: String) = brute
      .join(path, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as(name))
    brute.select("query_id").distinct()
      .join(hits(sq, "sq_hits"), Seq("query_id"), "left")
      .join(hits(pq, "pq_hits"), Seq("query_id"), "left")
      .na.fill(0L, Seq("sq_hits", "pq_hits"))
      .select(col("query_id"), col("sq_hits"), col("pq_hits"),
        (col("sq_hits").cast("double") / k).as("sq_recall"),
        (col("pq_hits").cast("double") / k).as("pq_recall"))
  }

  /** e3: banded LSH near-neighbor candidate generation — the scale path.
    * Same-(band, bucket) pairs are the candidate set: the cartesian product
    * becomes an equi-join on (band_idx, bucket), shuffling by bucket key.
    * Candidate cost is bands·Σ bucket² per band; see [[LshBits]] for why
    * the signature width must grow with N and how bands restore recall.
    */
  def e3LshBuckets(spark: SparkSession, sfDir: String,
      bits: Int = LshBits, bands: Int = LshBands): DataFrame = {
    val bk = axisBandBuckets(spark, sfDir, bits, bands)
    val a = bk.select(col("band_idx"), col("bucket"), col("vec_id").as("id_a"))
    val b = bk.select(col("band_idx"), col("bucket"), col("vec_id").as("id_b"))
    a.join(b, Seq("band_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("band_idx", "bucket")
      .agg(count(lit(1)).as("candidate_pairs"),
        min(col("id_a")).as("min_id"), max(col("id_b")).as("max_id"))
  }
}
