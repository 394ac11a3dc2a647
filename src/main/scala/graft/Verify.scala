package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core.JsonText
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Oracle-gate mode: queries whose DuckDB restatement only covers one
    // algorithmic path (d36/st18 flat k=4) fail loudly here if the fixture
    // outgrows that path, instead of as a bare hash mismatch. Bench does
    // NOT set this — at sf0.1 the same queries legitimately take the IMI
    // path (see SparkEntry.oracleGate).
    spark.conf.set("graft.oracle.gate", "true")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime()-t0)/1e9}%.1fs")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // drop per-query persisted intermediates (see Bench.runOnce)
        spark.catalog.clearCache()
      }
    }
    // every control character is escaped: a tab or CR in an oracle SQL
    // string would otherwise make the consumer's json.load fail
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonText.quote(k)}: ${JsonText.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
