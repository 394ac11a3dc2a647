package graft.tools
import graft.GraftSession
import graft.core.JsonText

/** Ad-hoc single-query oracle check: runMain graft.tools.RunOne <name> [sfDir]
  * — writes the query result + its oracle SQL under target/verify-one/ in
  * the layout tools/compare_oracle.py expects.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = s"target/verify-one/$name"
    graft.SparkEntry.queries(name)(spark, dir)
      .write.mode("overwrite").parquet(out)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/verify-one/oracle_sql.json"),
      s"{${JsonText.quote(name)}: ${JsonText.quote(graft.SparkEntry.oracleSql(name))}}")
    println("rows=" + spark.read.parquet(out).count())
    spark.stop()
  }
}
