package graft

import graft.functions.GraftFunctions
import graft.plans.RequirePartitionFilter
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** One-stop session construction with all graft extensions installed:
  * the require-partition-filter guard rule and the custom function registry.
  */
object GraftSession {

  def installAll(ext: SparkSessionExtensions): Unit = {
    RequirePartitionFilter.install(ext)
    GraftFunctions.install(ext)
    graft.plans.AsOfJoin.install(ext)
  }

  /** Log levels `SparkContext.setLogLevel` accepts. */
  private val ValidLogLevels =
    Set("ALL", "TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL", "OFF")

  /** Normalize a `GRAFT_LOG_LEVEL` value; a typo fails loudly instead of
    * silently leaving the default level (the reference's env-driven log
    * config, `/root/reference/ingestion/config.py:8-18`, which feeds
    * `LOG_LEVEL` straight to the logging module the same way).
    */
  private[graft] def parseLogLevel(raw: String): String = {
    val lv = raw.trim.toUpperCase(java.util.Locale.ROOT)
    require(ValidLogLevels(lv),
      s"GRAFT_LOG_LEVEL '$raw' is not one of ${ValidLogLevels.toSeq.sorted.mkString(", ")}")
    lv
  }

  /** Apply `GRAFT_LOG_LEVEL` (if set) to a RUNNING context — the builder
    * path below covers fresh contexts via the `spark.log.level` conf, but a
    * session obtained from an already-initialized JVM needs the setter.
    * Returns the applied level.
    */
  def applyEnvLogLevel(sc: org.apache.spark.SparkContext,
      env: Map[String, String] = sys.env): Option[String] =
    env.get("GRAFT_LOG_LEVEL").map(parseLogLevel).map { lv =>
      sc.setLogLevel(lv); lv
    }

  /** Local session builder with the engine's defaults (UTC, AQE on by Spark
    * default, shuffle partitions sized to cores — not the 200 default, which
    * at local scale just makes 168 empty tasks per exchange).
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // On a local master the driver lists file:// directories in microseconds,
    // while the default threshold (32 paths) hands listing to a Spark job
    // with one task per path — a 720-partition hive tree then pays ~720 task
    // dispatches just to enumerate files (measured: 9.3s flapped / 1.4s
    // steady for readTree planning, vs ~0.1s listed serially). On a real
    // cluster against an object store the default parallel listing is right
    // (per-path RPC latency dominates there), so this is conditioned on the
    // master, not unconditional.
    if (master.startsWith("local"))
      b.config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
    // env-driven log level (reference config.py:8-18): applied by the
    // context at startup, equivalent to sc.setLogLevel
    sys.env.get("GRAFT_LOG_LEVEL").foreach(lv =>
      b.config("spark.log.level", parseLogLevel(lv)))
    b
      // AQE on explicitly (runtime re-plan: shuffle coalescing, skew-join
      // splitting, dynamic broadcast demotion) — the cluster-side answer to
      // stats being wrong at 100 TB
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // commit algorithm v2: task outputs move to the final location at task
      // commit instead of a second driver-side sequential rename pass at job
      // commit — on a 720-partition hive write that pass is pure dead time
      // (tradeoff, documented: a failed job can leave partial files; our
      // sink is truncate-and-replace idempotent, so a retry converges)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // TIMESTAMP(NANOS) parquet columns (no native Spark type) read as long
      // nanoseconds, which `RelationalQueries.eventsTable` truncates to µs;
      // set here once, so no read path sets a conf on a caller's session
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // file: through the in-process permission setter (no `chmod` fork per
    // created dir/file/.crc without libhadoop), for both FileSystem and
    // FileContext users; see graft.sources.LocalFileSystems
    graft.sources.LocalFileSystems.Confs.foreach { case (k, v) =>
      b.config(s"spark.hadoop.$k", v) }
    b.withExtensions(installAll)
  }
}
