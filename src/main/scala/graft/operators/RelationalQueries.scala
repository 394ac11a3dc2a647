package graft.operators

import graft.sources.ParquetFooterSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational query coverage for the checklist categories of SURVEY §2.2
  * (projection/filter, joins incl. semi/anti, aggregation, window, sort/topk,
  * set ops, scalar functions, time bucketing) expressed Spark-first over the
  * driver's TPC-H-ish tables.
  *
  * Determinism-by-construction rules used throughout (the duckdb oracle
  * hash-compares values):
  *  - double sums go through DECIMAL (exact, order-independent) and are cast
  *    back to double at the end — both engines produce identical bits;
  *  - window/top-k orderings always carry a unique tiebreaker key;
  *  - no `round()` (Spark is HALF_UP, duckdb differs on ties).
  *
  * Scale notes per query are inline; the global ones: aggregations are
  * partial-before-shuffle by construction (`groupBy().agg()`), the only
  * broadcast-able dims (`nation`, `region`) are broadcast explicitly, and all
  * scans project only needed columns so parquet column pruning applies.
  */
object RelationalQueries {

  /** A source table, typed from its footer on the driver
    * ([[graft.sources.ParquetFooterSchema]]): no Spark job runs here. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") eventsTable(spark, sfDir)
    else ParquetFooterSchema.read(spark, s"$sfDir/$name.parquet")

  /** Cheap fingerprint of a source parquet (file OR directory dataset), for
    * memo-marker stamps: the driver regenerates `/root/testdata` between
    * rounds, sometimes preserving row counts — a count-only stamp then
    * serves stale derived fixtures. Three guards, all driver-side syscalls
    * (no Spark job):
    *  - per-leaf (name, size, mtime) CRC — a directory dataset's top-level
    *    length/mtime only reflects directory ENTRIES, so leaves must be
    *    walked;
    *  - a tail-bytes CRC of each parquet leaf (the footer carries row-group
    *    statistics) — catches a same-size regeneration landing within one
    *    mtime granularity tick, the residual hole of a stat-only stamp.
    */
  def sourceStamp(sfDir: String, name: String): String = {
    val root = new java.io.File(s"$sfDir/$name.parquet")
    def leaves(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(leaves)
      else Seq(f)
    val crc = new java.util.zip.CRC32()
    var total = 0L
    leaves(root).foreach { f =>
      total += f.length()
      crc.update(s"${f.getName}:${f.length()}:${f.lastModified()}|"
        .getBytes("UTF-8"))
      if (f.isFile && f.length() > 0 && f.getName.endsWith(".parquet")) {
        val n = math.min(4096L, f.length()).toInt
        val raf = new java.io.RandomAccessFile(f, "r")
        try {
          raf.seek(f.length() - n)
          val buf = new Array[Byte](n)
          raf.readFully(buf)
          crc.update(buf)
        } finally raf.close()
      }
    }
    s"$total:${crc.getValue}"
  }

  /** Per-JVM cached content fingerprint ("n|bit_xor-of-xxhash64") of a
    * source table: the STRONG stamp memoized artifacts validate against.
    * The xxhash64 corpus scan runs at most once per (table, on-disk state)
    * per JVM — [[sourceStamp]] (syscall-cheap) decides whether the cached
    * scan is still current, so the 8+ consumers of one trained artifact
    * stop paying a full fingerprint pass each (r12 advice #8 / r13 wrong
    * #4).
    */
  private val fpCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  def corpusFingerprint(spark: SparkSession, sfDir: String, name: String,
      hashCols: String): String = {
    val stamp = sourceStamp(sfDir, name)
    val key = s"$sfDir|$name|$hashCols"
    val cached = fpCache.get(key)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val r = table(spark, sfDir, name)
        .selectExpr("count(*) AS n",
          s"coalesce(bit_xor(xxhash64($hashCols)), 0L) AS fp")
        .collect()(0)
      val fp = s"${r.getLong(0)}|${r.getLong(1)}"
      fpCache.put(key, (stamp, fp))
      fp
    }
  }

  /** The events table's `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) (no native Spark type — read as long ns
    * via the legacy conf `GraftSession.builder` sets once for every session
    * and its children, and truncate to µs with integer `div`; ns epoch
    * values exceed 2^53 so float division would lose precision) vs plain
    * TIMESTAMP(MICROS) (read natively). Adapt to whichever the file carries
    * so both oracle paths (duckdb truncates ns->µs too) agree.
    */
  def eventsTable(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = ParquetFooterSchema.read(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // naive µs timestamps: reinterpret as instants in the session tz
        // (UTC, GraftSession.scala) — same wall-clock values duckdb sees,
        // but typed TIMESTAMP so unix_micros()/Timestamp encoders work.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Exact decimal sum of a double expr, returned as double. */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(s"decimal(30,$scale)")).cast("double")

  /** q1: TPC-H Q1-style full-scan aggregate on lineitem (hash agg with
    * map-side partial aggregation; shuffle carries only 6 grouped rows per
    * partition — scales linearly with input, constant shuffle).
    */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10).as("sum_disc_price"),
        (sum(col("l_quantity").cast("decimal(30,2)")).cast("double") /
          count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** q2: filter + projection — predicate and column pruning reach the parquet
    * scan (verify via explain: PushedFilters + 4-column ReadSchema).
    */
  def q2FilterProject(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")
      .filter(col("l_discount") > 0.08 && col("l_quantity") < 5.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"))

  /** q3: multi-join revenue rollup — fact-to-fact joins shuffle on their keys,
    * the nation dim is broadcast (no shuffle for the small side; at 100 TB the
    * orders/lineitem join is the only unavoidable exchange and AQE can
    * re-plan it if skewed).
    */
  def q3JoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = table(spark, sfDir, "customer").select("c_custkey", "c_nationkey")
    val orders   = table(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val lineitem = table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val nation   = table(spark, sfDir, "nation").select("n_nationkey", "n_name")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10).as("revenue"),
        count(lit(1)).as("line_cnt"))
  }

  /** q4: window function — per-customer top-3 orders by price (row_number
    * with unique tiebreak; single shuffle on o_custkey).
    */
  def q4Window(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    table(spark, sfDir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
  }

  /** q5: global top-k — Spark plans TakeOrderedAndProject: per-partition
    * top-10 then driver merge, no full sort/shuffle of the table.
    */
  def q5TopK(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** q6: set operations — EXCEPT and INTERSECT branches tagged and unioned. */
  def q6SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val positive = table(spark, sfDir, "customer")
      .filter(col("c_acctbal") > 0).select("c_custkey")
    val fOrders = table(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey"))
    positive.except(fOrders).withColumn("op", lit("except"))
      .unionAll(positive.intersect(fOrders).withColumn("op", lit("intersect")))
      .select("op", "c_custkey")
  }

  /** q7: semi + anti joins (existence probes as relational ops — the
    * engine-level generalization of the reference's P3 file probe).
    */
  def q7SemiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = table(spark, sfDir, "customer").select("c_custkey")
    val orders = table(spark, sfDir, "orders").select("o_custkey")
    val withOrders = customer.join(orders, col("c_custkey") === col("o_custkey"),
      "left_semi").withColumn("op", lit("has_orders"))
    val withoutOrders = customer.join(orders, col("c_custkey") === col("o_custkey"),
      "left_anti").withColumn("op", lit("no_orders"))
    withOrders.unionAll(withoutOrders).select("op", "c_custkey")
  }

  /** q8: ROLLUP aggregation over a broadcast dim join. */
  /** Expressed via spark.sql: the DataFrame rollup-after-join form trips
    * Spark's ambiguous-self-join detector (rollup's Expand duplicates the
    * join-output attributes); SQL text resolves cleanly and plans the same
    * (broadcast of nation happens via AQE/size estimation).
    */
  def q8Rollup(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT n_name, c_mktsegment, count(*) AS cnt,
         | CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS bal
         |FROM parquet.`$sfDir/customer.parquet`
         |JOIN parquet.`$sfDir/nation.parquet` ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(n_name, c_mktsegment)""".stripMargin)

  /** q9: scalar string/math functions — all codegen'd built-ins, no UDFs. */
  def q9Scalar(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      substring(col("p_name"), 1, 5).as("name5"),
      length(col("p_type")).as("type_len"),
      (col("p_size") % 7).as("size_mod"),
      abs(col("p_retailprice") - 1000.0).as("price_dist"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))

  /** q10: distinct aggregation (two-phase: partial distinct per partition,
    * exchange on group key only).
    */
  def q10Distinct(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("uniq_cust"),
        count(lit(1)).as("cnt"))

  /** q11: hourly tumbling-window aggregation on the events stream table —
    * the batch form of the reference's hourly partition cadence; identical
    * code works under Structured Streaming with a watermark.
    */
  def q11HourlyWindow(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"),
        dsum(col("value"), 6).as("sum_value"),
        countDistinct(col("user_id")).as("uniq_users"))
      .select(col("window.start").as("hour_ts"), col("cnt"),
        col("sum_value"), col("uniq_users"))

  /** p1: the reference partition codec as per-row column expressions
    * (`partition.py:7-27` semantics — BQ id and hive path from a timestamp).
    */
  def p1PartitionCodec(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events").select(
      col("event_id"),
      date_format(col("ts"), "yyyyMMddHH").as("bq_id"),
      concat(
        lit("year="), date_format(col("ts"), "yyyy"),
        lit("/month="), date_format(col("ts"), "MM"),
        lit("/day="), date_format(col("ts"), "dd"),
        lit("/hour="), date_format(col("ts"), "HH")).as("hive_path"))

  /** p2: "previous hour" derivation per row (`app.py:127-133` as a column
    * expression: truncate to hour, minus one hour, format as BQ id).
    */
  def p2LastHour(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events").select(
      col("event_id"),
      date_format(date_trunc("hour", col("ts")) - expr("INTERVAL 1 HOUR"),
        "yyyyMMddHH").as("prev_hour_id"))

  /** p1b: the custom codegen'd [[graft.functions.HourBucket]] expression on
    * the hot ingest-derivation path — integer math instead of
    * formatter+string for the per-row partition id.
    */
  def p1bHourBucket(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select(col("event_id"),
        graft.functions.GraftFunctions.hourBucket(col("ts")).as("bucket_id"))

  /** q12: JSON extraction from the events props payload — semi-structured
    * columns stay codegen'd (`get_json_object`), no UDF/parse-to-driver.
    */
  def q12Json(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .groupBy((col("k_val") % 10).as("k_mod"))
      .agg(count(lit(1)).as("cnt"), sum(col("k_val")).as("sum_k"))

  /** q13: CUBE aggregation (all grouping-set combinations). */
  def q13Cube(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         | CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
         |FROM parquet.`$sfDir/orders.parquet`
         |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin)

  /** q14: range (interval) join — events banded into value ranges via a
    * broadcast non-equi join against a small bands table. The band table is
    * broadcast, so the theta-join never shuffles the fact side.
    */
  def q14RangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = spark.createDataFrame(Seq(
      ("low", 0.0, 50.0), ("mid", 50.0, 120.0), ("high", 120.0, 1e9)
    )).toDF("band", "lo", "hi")
    table(spark, sfDir, "events")
      .join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
  }

  /** q15: as-of join — each event paired with the same user's most recent
    * PRIOR event (composition via lag window, SURVEY §2.2 preference (a):
    * built-in ops express the semantics; no custom operator needed). One
    * shuffle on user_id.
    */
  def q15AsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"),
        lag(col("ts"), 1).over(w).as("prev_ts"))
      .withColumn("gap_sec",
        when(col("prev_ts").isNotNull,
          col("ts").cast("long") - col("prev_ts").cast("long")))
  }

  /** q16: exact median per group via row_number composition (identical
    * semantics in both engines, unlike interpolating percentile variants).
    */
  def q16Median(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    val ranked = table(spark, sfDir, "orders")
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
    val counts = ranked.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    ranked.join(counts, "o_orderstatus")
      .filter(col("rn") === expr("(n + 1) div 2")) // lower median, 1-based
      .select(col("o_orderstatus"), col("o_totalprice").as("median_price"))
  }

  /** q18: gap-based sessionization — the classic stateful stream op in its
    * batch form: a session break is a >30-minute gap per user; session id =
    * running count of breaks (lag + cumulative sum window composition, one
    * shuffle on user_id). The streaming form with explicit state lives in
    * [[graft.streaming.Sessionize]].
    */
  def q18Sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val withGap = table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1)
          .otherwise(0))
    withGap
      .withColumn("session_seq",
        sum(col("is_break")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"))
  }

  /** q19: explicit GROUPING SETS with grouping_id — finer than cube/rollup:
    * exactly the requested combinations, tagged so consumers can tell a
    * real NULL key from a superaggregate row.
    */
  def q19GroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority,
         | CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
         | CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
         | count(*) AS cnt
         |FROM parquet.`$sfDir/orders.parquet`
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
         |                        (o_orderstatus, o_orderpriority))""".stripMargin)

  /** q20: pivot — event counts per user hour, event types to columns. The
    * pivot value set is declared (not discovered) so the plan is a single
    * hash aggregation; discovery would need an extra distinct pass.
    */
  def q20Pivot(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy((col("user_id") % 100).as("user_mod"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** q21: unpivot (melt) — wide part attributes back to (key, attr, value)
    * rows; the inverse reshape, one Generate (expand) node, no shuffle.
    */
  def q21Unpivot(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part")
      .select(col("p_partkey"),
        col("p_size").cast("long").as("size"),
        length(col("p_name")).cast("long").as("name_len"),
        length(col("p_type")).cast("long").as("type_len"))
      .unpivot(Array(col("p_partkey")),
        Array(col("size"), col("name_len"), col("type_len")),
        "attr", "val")

  /** q22: correlated scalar subquery — Catalyst decorrelates it into a left
    * outer aggregate join (no per-row re-execution; check the plan for the
    * single Aggregate+Join, not a subquery loop).
    */
  def q22ScalarSubquery(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT o_orderkey, o_totalprice,
         | (SELECT max(l_quantity) FROM parquet.`$sfDir/lineitem.parquet`
         |  WHERE l_orderkey = o_orderkey) AS max_line_qty
         |FROM parquet.`$sfDir/orders.parquet`""".stripMargin)

  /** q17: approximate sketches — HLL distinct + quantile sketch — reshaped
    * as an ORACLE-CHECKABLE acceptance predicate. The sketch estimates
    * themselves are implementation-defined (no cross-engine value oracle
    * exists by construction), but their error BOUNDS are deterministic at a
    * fixed dataset: the query emits the exact count plus booleans asserting
    * the sketches landed inside their bounds, and the oracle recomputes the
    * exact counts and asserts the booleans are all TRUE.
    *  - `users_ok`: HLL (rsd 0.05) within 10% relative error of the exact
    *    distinct count — 2× headroom over the configured rsd;
    *  - `median_ok`: the approx median's exact RANK (count of values at or
    *    below it, one filtered count — no exact-percentile sort anywhere)
    *    lands in the 45th–55th percentile band; accuracy 10000 bounds the
    *    sketch's rank error at N/10⁴, far inside the band.
    * The point at 100 TB: sketches replace exact distinct/percentile
    * shuffles with fixed-size mergeable state; this query keeps the exact
    * aggregates alongside ONLY to score the sketch (the production plan
    * drops them), and scoring itself stays sort-free: a second scan with a
    * broadcast of the 5 per-group medians, partial-aggregated counts.
    */
  def q17Approx(spark: SparkSession, sfDir: String): DataFrame = {
    val sketches = table(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("am"),
        count(lit(1)).as("n"))
    val rank = table(spark, sfDir, "events")
      .join(broadcast(sketches.select(col("event_type"), col("am"))), "event_type")
      .groupBy("event_type")
      .agg(sum(when(col("value") <= col("am"), 1L).otherwise(0L)).as("rank_le"))
    sketches.join(rank, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.10).as("users_ok"),
        (col("rank_le") >= col("n") * 0.45 &&
          col("rank_le") <= col("n") * 0.55).as("median_ok"))
  }

  /** q23: correlated EXISTS / NOT EXISTS — Catalyst decorrelates both into
    * left-semi and left-anti hash joins on c_custkey (one shuffle each, no
    * per-row subquery execution; `.explain` shows Join LeftSemi + LeftAnti).
    */
  def q23ExistsSubquery(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT c_custkey, c_name FROM parquet.`$sfDir/customer.parquet`
         |WHERE EXISTS (SELECT 1 FROM parquet.`$sfDir/orders.parquet`
         |              WHERE o_custkey = c_custkey AND o_totalprice > 150000)
         |  AND NOT EXISTS (SELECT 1 FROM parquet.`$sfDir/orders.parquet`
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderstatus = 'F' AND o_totalprice < 5000)""".stripMargin)

  /** q24: lateral explode (generator / UDTF surface) — posexplode of the
    * tokenized p_type, aggregated per (position, word). One Generate node
    * feeding a partial-agg'd groupBy: the expand is pipelined, no extra
    * shuffle beyond the final aggregation.
    */
  def q24LateralExplode(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part")
      .select(col("p_partkey"),
        posexplode(split(col("p_type"), " ")).as(Seq("pos", "word")))
      .groupBy(col("pos").cast("long").as("pos"), col("word"))
      .agg(count(lit(1)).as("cnt"), min("p_partkey").as("first_key"))

  /** q25: multiset set ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    * cardinality (unlike q6's DISTINCT forms). Spark plans both as
    * aggregate+generate over per-key counts: one shuffle per side, no join
    * explosion. Output re-aggregated per key so it stays bounded.
    */
  def q25SetOpsAll(spark: SparkSession, sfDir: String): DataFrame = {
    val l = table(spark, sfDir, "lineitem").select((col("l_suppkey") % 50).as("k"))
    val o = table(spark, sfDir, "orders").select((col("o_custkey") % 50).as("k"))
    l.intersectAll(o).groupBy("k").agg(count(lit(1)).as("n_intersect"))
      .join(
        l.exceptAll(o).groupBy("k").agg(count(lit(1)).as("n_except")),
        Seq("k"), "full_outer")
      .na.fill(0L, Seq("n_intersect", "n_except"))
  }

  /** q26: statistical aggregates (variance / correlation) computed from
    * EXACT decimal power sums — var_pop = (nΣx² − (Σx)²)/n², corr via the
    * analogous product-moment identity. Both engines produce bit-identical
    * decimal sums, so the final double arithmetic is deterministic —
    * unlike the built-in one-pass `corr`/`var_pop`, whose float merge order
    * varies run to run. Single scan, map-side partial sums; the identity
    * form is also how you'd compute grouped stats over 100 TB without a
    * second pass.
    */
  def q26StatsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    // Power sums as exact decimals: per-row products in double (IEEE-exact,
    // engine-identical), cast to DECIMAL(20,6) (tie points aren't binary-
    // representable, so both engines round identically), summed exactly.
    // Magnitudes (quantity<=50, discount<=0.1) keep every sum's unscaled
    // value far below 2^53 so the final decimal->double cast is exact.
    val x = col("l_quantity")
    val y = col("l_discount")
    def dsum6(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(20,6)")).cast("double")
    val s = table(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        dsum6(x).as("sx"), dsum6(y).as("sy"),
        dsum6(x * x).as("sxx"), dsum6(y * y).as("syy"),
        dsum6(x * y).as("sxy"))
    s.select(
      col("l_returnflag"), col("n").cast("long").as("n"),
      ((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
        .as("var_pop_qty"),
      ((col("sxy") - col("sx") * col("sy") / col("n")) /
        (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
          sqrt(col("syy") - col("sy") * col("sy") / col("n"))))
        .as("corr_qty_disc"))
  }

  /** q28: skew-safe salted aggregation IN the gate — the two-phase
    * [[SkewUtils.saltedSumCount]] (hot keys spread over 16 reducers before
    * the per-key combine) must equal the plain one-phase groupBy exactly;
    * the oracle is that plain form. Long sums are associative, so salting
    * is result-invisible by construction.
    */
  def q28SaltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    SkewUtils.saltedSumCount(
      table(spark, sfDir, "events").select("event_type", "event_id", "user_id"),
      keyCols = Seq("event_type"), valueCol = "event_id",
      saltSource = "user_id")

  /** q29: 6-table star join (TPC-H Q5 shape) — lineitem fact against the
    * orders/customer/supplier/nation/region dimension chain with a region
    * filter. Exercises Catalyst's join reordering + broadcast selection:
    * nation/region/supplier are broadcast (no shuffle), the fact table
    * shuffles only for the orders join and the final 5-group aggregate.
    */
  def q29StarJoin(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")
      .join(table(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(table(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, sfDir, "supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(table(spark, sfDir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, sfDir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("line_cnt"))

  /** q31: skew-safe salted JOIN in the gate — [[SkewUtils.saltedJoin]]
    * spreads each hot key's rows over 16 (key, salt) tasks against a
    * replicated small side; the result must equal the plain equi-join
    * exactly (the oracle is that plain form).
    */
  def q31SaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = table(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type")
    val userDim = events.groupBy("user_id")
      .agg(count(lit(1)).as("user_total"))
    SkewUtils.saltedJoin(events, userDim, "user_id", saltSource = "event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("user_total")).as("sum_user_total"))
  }

  /** b1: bucketed co-located join — both sides written `bucketBy(8,
    * user_id)` once, then joined with ZERO exchanges (the shuffle was paid
    * at write time; `BucketedTablesSpec` asserts the plan). The oracle is
    * the plain join: bucketing must be invisible in the result.
    */
  def b1BucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val sfx = sfDir.replaceAll("[^A-Za-z0-9]+", "_")
    val e = table(spark, sfDir, "events").select("event_id", "user_id")
    val d = e.groupBy("user_id").agg(count(lit(1)).as("user_total"))
    // fixture memoized (saveOrReuse): the write-side shuffle is bucketing's
    // one-time cost by design — the measured query is the shuffle-FREE join
    graft.sources.BucketedTables.saveOrReuse(e, s"b1_events_$sfx", "user_id", 8)
    graft.sources.BucketedTables.saveOrReuse(d, s"b1_users_$sfx", "user_id", 8)
    graft.sources.BucketedTables
      .bucketedJoin(spark, s"b1_events_$sfx", s"b1_users_$sfx", "user_id")
      .groupBy((col("user_id") % 50).as("user_mod"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_total")).as("sum_user_total"))
  }

  /** q32: navigation/distribution window suite — ntile quartiles, lag/lead
    * neighbors, and last-non-null carry-forward (the gap-filling idiom).
    * One shuffle on o_custkey shared by both window stages; prices pass
    * through un-arithmetic'd so raw doubles hash-match.
    */
  def q32WindowSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .withColumn("last_seen_price",
        last(col("prev_price"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select("o_orderkey", "o_custkey", "quartile",
        "prev_price", "next_price", "last_seen_price")
  }

  /** q33: multi-distinct aggregation — two distinct counts over different
    * columns in one aggregate. Catalyst plans this with an Expand (one
    * replicated stream per distinct group) + two-phase aggregation; at
    * scale the Expand multiplies shuffle volume by the distinct-column
    * count, which is why sketches (q17) replace it when exactness is
    * negotiable.
    */
  def q33MultiDistinct(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("uniq_users"),
        countDistinct(length(col("props"))).as("uniq_props_lens"),
        count(lit(1)).as("cnt"))

  /** q34: null-aware anti join — NOT IN over a subquery is NOT the same
    * operator as NOT EXISTS (q23): one null in the subquery empties the
    * result, so Spark plans a null-aware anti join (broadcast NAAJ) instead
    * of a hash anti join. The values here are non-null, so the result
    * matches set semantics and the oracle.
    */
  def q34NotIn(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT c_custkey, c_name FROM parquet.`$sfDir/customer.parquet`
         |WHERE c_custkey NOT IN
         |  (SELECT o_custkey FROM parquet.`$sfDir/orders.parquet`
         |   WHERE o_totalprice > 400000)""".stripMargin)

  /** q35: outer-join null extension, audited — customers LEFT-joined to
    * their per-key order aggregates (broadcast-able build side: the agg
    * output, not raw orders), then per-segment counts of customers with NO
    * orders (the null-extended rows) alongside the order totals. The
    * null-handling is the point: `coalesce` vs `isNull` over the extended
    * side is where outer-join rewrites silently go wrong.
    */
  def q35OuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = table(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(20,2)")).as("spend_dec"))
    table(spark, sfDir, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders").isNull, 1L).otherwise(0L)).as("no_order_customers"),
        sum(coalesce(col("n_orders"), lit(0L))).as("total_orders"),
        sum(coalesce(col("spend_dec"), lit(0).cast("decimal(20,2)")))
          .cast("double").as("total_spend"))
  }

  /** q36: exponentially weighted moving average per user — the sequential
    * time-series fold (state_i = 0.7·state_{i−1} + 0.3·x_i, seeded with the
    * first value) that no built-in window aggregate expresses. Each user's
    * events collect into a (ts, event_id, value) array — one shuffle, keyed
    * on user — sorted in-row, and the fold runs as a columnar `aggregate`
    * lambda: per-user sequences are short (bounded by user activity), so
    * the state fits in the row and the operator scales with users, not
    * with a window sort over the whole stream. The duckdb oracle is
    * `list_reduce` over the same ordered list — both engines fold
    * left-to-right with identical FP op order, and the result rounds
    * through DECIMAL(20,6) before comparison.
    */
  def q36Ewma(spark: SparkSession, sfDir: String): DataFrame = {
    val s = col("s")
    table(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("s"))
      .select(col("user_id"), size(s).cast("long").as("n_events"),
        aggregate(
          slice(s, lit(2), greatest(size(s) - 1, lit(0))),
          element_at(s, 1).getField("value").cast("double"),
          (acc, e) => acc * 0.7 + e.getField("value").cast("double") * 0.3)
          .cast("decimal(20,6)").cast("double").as("ewma"))
  }

  /** q37: z-order (Morton) clustering values — the multi-dimensional
    * data-skipping technique: interleaving the bits of two scan dimensions
    * gives ONE sort key whose ranges are compact in BOTH dimensions, so
    * row-group min/max stats prune scans filtered on either column (plain
    * `CLUSTER BY c` skips only on `c`). The z-value is pure bit math —
    * 16 bits of (user_id, hour-of-month) interleaved, codegen'd, identical
    * arithmetic in the duckdb oracle — and the query reports per-z-range
    * stats showing the compactness property: each bucket spans a narrow
    * band of BOTH dimensions. The write-side use is
    * `sortWithinPartitions(zcol)` in place of the single-column clustering
    * (same local sort, no extra shuffle).
    */
  def q37Zorder(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("user_id").bitwiseAND(lit(0xFFFFL))
    // `div` = integral division: a double `/` would mis-floor exact-multiple
    // boundaries after FP rounding
    val hourIdx = expr("(unix_micros(ts) div 3600000000) % 720")
    val y = hourIdx.bitwiseAND(lit(0xFFFFL))
    val z = (0 until 16).map { j =>
      (shiftright(x, j).bitwiseAND(lit(1L)) * (1L << (2 * j))) +
        (shiftright(y, j).bitwiseAND(lit(1L)) * (1L << (2 * j + 1)))
    }.reduce(_ + _)
    table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), hourIdx.as("hour_idx"), z.as("zval"))
      .groupBy(shiftright(col("zval"), 14).as("z_bucket"))
      .agg(count(lit(1)).as("cnt"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
        min(col("hour_idx")).as("min_hour"), max(col("hour_idx")).as("max_hour"))
  }

  /** q30: the NATIVE as-of join — [[graft.plans.AsOfJoin]]'s custom
    * LogicalPlan/Strategy/SparkPlan (co-partition by key, sort by (key,
    * time), single forward merge per partition) attaching each event's
    * latest at-or-before purchase. Same semantics as q15's window-lag
    * composition, O(L+R) instead of union-sort-everything; oracle is
    * DuckDB's built-in ASOF LEFT JOIN.
    */
  def q30AsofNative(spark: SparkSession, sfDir: String): DataFrame = {
    val events = table(spark, sfDir, "events")
    val left = events.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("tsl"))
    val right = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_tsl"))
      .agg(max(col("value")).as("p_val"))
    graft.plans.AsOfJoin.asof(left, right, "user_id", "p_user", "tsl", "p_tsl")
      .select(col("event_id"), col("user_id"), col("p_tsl"), col("p_val"))
  }

  /** q27: RANGE-framed window — per customer, rolling 30-day order count
    * and exact-decimal spend ending at each order. Range frames need a
    * numeric order key: epoch seconds. One shuffle on o_custkey; the frame
    * scan is per-partition and streaming (no quadratic re-scan).
    */
  def q27WindowRange(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("epoch_s"))
      .rangeBetween(-30L * 86400, 0)
    table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        // orderdate is parquet TIMESTAMP_NTZ; go through TIMESTAMP (session
        // TZ is pinned UTC) to get epoch seconds, matching duckdb epoch().
        col("o_orderdate").cast("timestamp").cast("long").as("epoch_s"))
      .withColumn("n_30d", count(lit(1)).over(w))
      .withColumn("spend_30d",
        sum(col("o_totalprice").cast("decimal(30,2)")).over(w).cast("double"))
      .select("o_orderkey", "o_custkey", "n_30d", "spend_30d")
  }

  /** Plan for q38 — a selective dimension filter joined against the fact
    * table, the shape Spark's runtime bloom-filter injection targets: with
    * `runtime.bloomFilter.enabled`, Catalyst builds a bloom filter from the
    * filtered orders keys and pushes `might_contain(l_orderkey)` into the
    * lineitem SCAN side, discarding non-joining fact rows BEFORE the join
    * shuffle. At 100 TB that is the difference between shuffling the whole
    * fact table and shuffling the ~2% that joins. Exposed separately so
    * [[q38BloomJoin]] can execute it under forced-injection confs while
    * PlanShapeSpec pins the `might_contain` in the optimized plan.
    */
  def q38Plan(spark: SparkSession, sfDir: String): DataFrame = {
    val sel = table(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"))
    table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_returnflag"))
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("o_totalprice")).as("sum_total"))
  }

  /** q38: runtime bloom-filter join. The local SFs sit far under the 10 GB
    * application-side default and the broadcast threshold, so the injection
    * preconditions are forced (thresholds to 0, broadcast off — a shuffle
    * join is the shape the filter exists for) on a CHILD session
    * (`newSession()` shares the SparkContext but has its own conf, which
    * dies with the child), never by toggling the shared session conf: a
    * set/restore on the shared session is exactly the race class that
    * broke u8 under concurrent driver chains. The tiny grouped result is
    * collected eagerly under those confs so the gate genuinely executes
    * the bloom-filtered plan. Values are conf-independent — the oracle is
    * the plain join.
    */
  def q38BloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ss.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter" +
      ".applicationSideScanSizeThreshold", "0")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val rows = q38Plan(ss, sfDir).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      q38Plan(spark, sfDir).schema)
  }

  /** q39: TPC-H Q5-shaped six-table join — customer ⋈ orders ⋈ lineitem ⋈
    * supplier ⋈ nation ⋈ region with a region filter, a date window, and
    * the co-nationality predicate. The deep-join stress case for the
    * optimizer: the two constant-size dims broadcast, the three fact-side
    * joins shuffle on their own keys, and the c_nationkey = s_nationkey
    * predicate rides the supplier join rather than forcing an extra
    * exchange. Revenue follows q1's exact-decimal discipline.
    */
  def q39TpchDeep(spark: SparkSession, sfDir: String): DataFrame = {
    val region = table(spark, sfDir, "region").filter(col("r_name") === "ASIA")
    val nation = table(spark, sfDir, "nation")
    val orders = table(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    table(spark, sfDir, "customer").select("c_custkey", "c_nationkey")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(table(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .join(table(spark, sfDir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q40: higher-order array functions — filter/exists/transform/aggregate/
    * zip_with/sort/slice over the embedding column, the row-local array
    * algebra a feature-engineering pass is made of. Everything is per-row
    * (zero shuffle, one scan, stays in whole-stage codegen); outputs are
    * order-independent or integer-valued, and the two float folds round
    * through DECIMAL(20,6) so the oracle hash-matches bit-for-bit.
    */
  /** q47: MAP-typed collection surface — per-user event-type histograms
    * built AS maps (`map_from_entries`), transformed with the map
    * higher-order functions (`map_filter` keeps types seen ≥ 3 times,
    * `transform_values` rescales), then exploded back to rows the oracle
    * can state relationally. Maps are the schema shape config/feature
    * stores use (ragged per-entity key→value), and this proves the full
    * round-trip — build, filter, transform, size, explode — preserves
    * content exactly.
    *
    * Scale shape: the histogram comes from a partial-agg'd count (only
    * (user, type, cnt) rows shuffle), and each map is bounded by event-type
    * cardinality (6 here) — no per-user data explosion at any corpus size;
    * the map HOFs are row-local codegen'd expressions.
    */
  def q47MapOps(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = eventsTable(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("user_id"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("event_type"), col("cnt"))))).as("hist"))
      .withColumn("frequent", map_filter(col("hist"), (_, v) => v >= 3))
      .filter(size(col("frequent")) > 0)
      .withColumn("n_types", size(col("frequent")))
      .withColumn("boosted",
        transform_values(col("frequent"), (_, v) => v * 2))
      .select(col("user_id"), col("n_types"),
        explode(col("boosted")).as(Seq("event_type", "n2")))
  }

  def q40Hof(spark: SparkSession, sfDir: String): DataFrame = {
    val e = col("embedding")
    def fold(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0.0), (acc, v) => acc + v)
    table(spark, sfDir, "embeddings").select(
      col("vec_id"),
      size(e).as("dim"),
      size(filter(e, x => x > lit(0f))).as("n_pos"),
      array_max(e).cast("double").as("max_val"),
      array_position(e, array_max(e)).as("argmax_pos"),
      exists(e, x => x > lit(0.5f)).as("has_gt_half"),
      fold(transform(slice(sort_array(e, asc = false), 1, 3),
        x => x.cast("double")))
        .cast("decimal(20,6)").cast("double").as("top3_sum"),
      fold(zip_with(e, reverse(e),
        (x, y) => x.cast("double") * y.cast("double")))
        .cast("decimal(20,6)").cast("double").as("selfrev_dot"))
  }

  /** q41: date/interval arithmetic suite — month arithmetic with end-of-month
    * clamping, calendar parts (ISO week, quarter, day-of-week/-year),
    * next-weekday, day differences, quarter truncation, epoch seconds. One
    * projection over a single scan (no shuffle at any scale); Spark and the
    * oracle agree because the session timezone is pinned to UTC and every
    * output is a DATE or an integer (no fractional time arithmetic).
    */
  def q41Datetime(spark: SparkSession, sfDir: String): DataFrame = {
    val od = to_date(col("o_orderdate"))
    table(spark, sfDir, "orders").select(
      col("o_orderkey"),
      od.as("od"),
      add_months(od, 3).as("plus3m"),
      last_day(od).as("eom"),
      next_day(od, "Monday").as("next_mon"),
      datediff(lit("1996-01-01").cast("date"), od).as("days_to_96"),
      quarter(od).as("qtr"),
      dayofweek(od).as("dow"),
      dayofyear(od).as("doy"),
      weekofyear(od).as("woy"),
      date_trunc("quarter", col("o_orderdate")).cast("date").as("qtr_start"),
      unix_timestamp(col("o_orderdate")).as("epoch_s"))
  }

  /** q42: exact distribution statistics — SQL-standard inverse-distribution
    * aggregates (`percentile_disc` = smallest value whose cumulative
    * distribution reaches p, `percentile_cont` = linear interpolation),
    * grouped by return flag. Exact percentiles sort within each group —
    * the expensive-but-correct sibling of q17's sketches (at 100 TB you run
    * q17's approx_percentile unless the SLA demands exactness; both are now
    * covered). Interpolated values round through DECIMAL(20,6) to absorb
    * sub-ulp interpolation differences between engines.
    */
  def q42Percentile(spark: SparkSession, sfDir: String): DataFrame = {
    table(spark, sfDir, "lineitem").createOrReplaceTempView("q42_lineitem")
    // One buffer per COLUMN, not per percentile: the three exact-disc
    // quantiles of l_quantity come from ONE value->count buffer
    // (graft_percentile_disc = Spark's own PercentileDisc expression with
    // its native array-of-percentages support exposed — identical values
    // by construction), and the two interpolated price percentiles from
    // one percentile(col, array(...)) buffer (percentile_cont IS
    // RuntimeReplaceable to percentile, so values are the same
    // expression's output). 5 exact-percentile hashmaps -> 2, one pass.
    spark.sql(
      """SELECT l_returnflag,
        | qd[0] AS q25_qty, qd[1] AS q50_qty, qd[2] AS q90_qty,
        | CAST(CAST(pc[0] AS DECIMAL(20,6)) AS DOUBLE) AS med_price,
        | CAST(CAST(pc[1] AS DECIMAL(20,6)) AS DOUBLE) AS p95_price,
        | n
        |FROM (SELECT l_returnflag,
        |        graft_percentile_disc(l_quantity,
        |          array(0.25D, 0.5D, 0.9D)) AS qd,
        |        percentile(l_extendedprice, array(0.5D, 0.95D)) AS pc,
        |        count(*) AS n
        |      FROM q42_lineitem GROUP BY l_returnflag)""".stripMargin)
  }

  /** q43: semi-structured data through the VARIANT type — `parse_json` into
    * Spark's binary variant encoding once, then typed `variant_get` path
    * extraction (object fields, nested objects, array elements) instead of
    * re-parsing JSON text per access. At 100 TB this is the difference
    * between one parse + O(1) binary path reads and a full JSON text parse
    * per extracted field (`get_json_object`-style, q12); shredded parquet
    * writes take it further. The document is assembled with a nested object
    * and an array so the path grammar is actually exercised; the oracle
    * re-derives the same values from the relational sources.
    */
  def q43Variant(spark: SparkSession, sfDir: String): DataFrame = {
    // Assemble the document with to_json(named_struct(...)) rather than raw
    // string concat: values are JSON-escaped (quotes/backslashes in
    // event_type can't produce malformed documents) and a null field stays a
    // JSON null instead of nulling the whole string.
    val doc = to_json(
      struct(
        col("event_type").as("et"),
        struct(
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("user_id").as("uid")).as("meta"),
        array(col("event_type"), lit("fixed")).as("tags")),
      Map("ignoreNullFields" -> "false"))
    table(spark, sfDir, "events")
      .select(col("event_id"), parse_json(doc).as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.et', 'string')").as("et"),
        expr("variant_get(v, '$.meta.k', 'long')").as("k"),
        expr("variant_get(v, '$.meta.uid', 'long')").as("uid"),
        expr("variant_get(v, '$.tags[1]', 'string')").as("tag1"))
      .groupBy("et", "tag1")
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
        sum(col("uid")).as("sum_uid"))
  }

  /** q46: VARIANT SHREDDING — the storage-side completion of q43. q43 pays
    * one `parse_json` per row per QUERY; shredding pays it once per row per
    * INGEST: the hot paths are extracted into typed top-level parquet
    * columns at write time, with the full variant binary riding along for
    * rare/unanticipated paths. A query over the hot paths then reads a
    * pruned `ReadSchema` of plain typed columns — it never deserializes (or
    * even I/Os, with parquet column chunks) the variant blobs. At 100 TB
    * that is the difference between scanning terabytes of binary documents
    * and scanning the few typed columns the query names; the pruning is
    * pinned in `PlanShapeSpec`. This is the manual form of the parquet
    * variant-shredding spec (typed_value subcolumns), rebuilt on plain
    * parquet like [[graft.sources.FileStatsManifest]] rebuilds file
    * skipping. The oracle re-derives the aggregate from the relational
    * sources, proving the shred→write→pruned-read chain lossless.
    */
  def q46VariantShredded(spark: SparkSession, sfDir: String): DataFrame = {
    val doc = to_json(
      struct(
        col("event_type").as("et"),
        struct(
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("user_id").as("uid")).as("meta"),
        array(col("event_type"), lit("fixed")).as("tags")),
      Map("ignoreNullFields" -> "false"))
    val shredDir = ScratchDirs.parity(s"variant-shred-${ScratchDirs.tag(sfDir)}")
    // shred on write: one parse per row, hot paths -> typed columns
    table(spark, sfDir, "events")
      .select(col("event_id"), parse_json(doc).as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.et', 'string')").as("et"),
        expr("variant_get(v, '$.meta.k', 'long')").as("k"),
        expr("variant_get(v, '$.meta.uid', 'long')").as("uid"),
        expr("variant_get(v, '$.tags[1]', 'string')").as("tag1"),
        col("v"))
      .write.mode("overwrite").parquet(s"file:$shredDir")
    // query the shredded columns only: the variant blob column is pruned
    // out of the scan entirely
    ParquetFooterSchema.read(spark, s"file:$shredDir")
      .groupBy("et", "tag1")
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
        sum(col("uid")).as("sum_uid"))
  }

  /** q44: recursive CTE (Spark 4 `WITH RECURSIVE`) — hierarchy walk over a
    * digit-tree on customer keys: parent(k) = floor(k/10), roots are keys
    * < 10, so every customer appears exactly once and depth grows with
    * log10(N). Each recursion step is one equi-join of the frontier against
    * the customer scan (partial-agg'd hash join, frontier shrinks to the
    * leaf level then empties); the engine iterates to fixpoint like our
    * hand-rolled connectedComponents (d19) but fully declaratively. The
    * cast-through-floor keeps integer division identical across engines.
    */
  /** q49: NULL-SAFE equality join (`<=>` / SQL `IS NOT DISTINCT FROM`) —
    * the join a reconciliation query needs when the key is nullable: a
    * plain equi-join silently DROPS the null group (NULL = NULL is not
    * true), while `<=>` matches it, and the difference is exactly one row
    * here (the nulled-out 'view' key). Catalyst plans EqualNullSafe as a
    * hash join on the null-coalesced key — still a key-equality shuffle
    * join, never a nested loop, so the null-safe form costs the same as
    * the plain one at any scale.
    */
  def q49NullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = eventsTable(spark, sfDir)
      .withColumn("k", when(col("event_type") === "view", lit(null))
        .otherwise(col("event_type")))
    val evens = keyed.filter(col("event_id") % 2 === 0)
      .groupBy("k").agg(count(lit(1)).as("n_even"))
    val odds = keyed.filter(col("event_id") % 2 =!= 0)
      .groupBy("k").agg(count(lit(1)).as("n_odd"))
    evens.join(odds, evens("k") <=> odds("k"))
      .select(evens("k").as("k"), col("n_even"), col("n_odd"))
  }

  /** q48: correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    * "top-N per entity" surface written the way an analyst writes it
    * (every tenth customer's two priciest orders). Catalyst DECORRELATES
    * the lateral into a ranked window over the join rather than executing
    * the inner query once per outer row — the plan that survives scale:
    * one shuffle on the join key + one window pass, never O(customers)
    * subquery executions. Both engines order by (price DESC, o_orderkey)
    * so the top-2 cut is deterministic.
    */
  def q48LateralTopn(spark: SparkSession, sfDir: String): DataFrame = {
    table(spark, sfDir, "customer").createOrReplaceTempView("q48_customer")
    table(spark, sfDir, "orders").createOrReplaceTempView("q48_orders")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.price
        |FROM q48_customer c,
        |LATERAL (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS price
        |  FROM q48_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY price DESC, o_orderkey ASC LIMIT 2) t
        |WHERE c.c_custkey % 10 = 0""".stripMargin)
  }

  def q44RecursiveCte(spark: SparkSession, sfDir: String): DataFrame = {
    table(spark, sfDir, "customer").createOrReplaceTempView("q44_customer")
    spark.sql(
      """WITH RECURSIVE tree AS (
        |  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
        |  FROM q44_customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, t.root, t.depth + 1
        |  FROM q44_customer c JOIN tree t
        |    ON CAST(floor(c.c_custkey / 10.0) AS BIGINT) = t.node
        |  WHERE c.c_custkey >= 10)
        |SELECT root, count(*) AS n_nodes, max(depth) AS max_depth,
        |       CAST(sum(node) AS BIGINT) AS sum_keys
        |FROM tree GROUP BY root""".stripMargin)
  }

  /** q45: ordered string aggregation (`listagg ... WITHIN GROUP`, new in
    * Spark 4) — the canonical "make a deterministic label out of a group"
    * op. The explicit WITHIN GROUP ordering is what makes the result
    * hashable at all: an unordered listagg is nondeterministic under
    * parallel aggregation by construction. Grouped on the 5-row region dim
    * after a broadcast join, so the shuffle carries one row per region.
    */
  def q45Listagg(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "nation")
      .join(broadcast(table(spark, sfDir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
        count(lit(1)).as("n_nations"))

  /** q50: gap-fill — carry the LAST NON-NULL observation forward over an
    * ordered window (`last(..., ignoreNulls)` / SQL `IGNORE NULLS`), the
    * canonical sparse-timeseries densification op (sensor readings, slowly
    * changing attributes observed only on change). The sparse column keeps
    * a value on every third line; the fill must reach back past the
    * intervening nulls, so plain `lag` cannot express it. The window
    * order is TOTAL — (l_linenumber, l_quantity), because this synthetic
    * lineitem duplicates line numbers within an order and a carry-forward
    * over a partial order is nondeterministic by construction (any
    * remaining tie carries equal values, so it cannot show). Rows before
    * an order's first kept line fill as NULL (the honest gap-fill
    * semantics — no observation yet), stated identically by both engines.
    *
    * Scale shape: one hash-partition shuffle on l_orderkey, running-frame
    * window (no full-partition buffering), partitions are order-sized —
    * bounded and skew-free at any corpus scale.
    */
  def q50GapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    table(spark, sfDir, "lineitem")
      .withColumn("sparse_qty",
        when(col("l_linenumber") % 3 === 1, col("l_quantity")))
      .withColumn("filled_qty",
        last(col("sparse_qty"), ignoreNulls = true).over(w))
      .select(col("l_orderkey"), col("l_linenumber"), col("sparse_qty"),
        col("filled_qty"))
  }
}
