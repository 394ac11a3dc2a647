package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Dump the formatted physical plan of every SparkEntry query (skipping the
  * side-effecting parity queries) for plan review:
  *   sbt "runMain graft.tools.ExplainAll /root/testdata/sf0.001"
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.builder("local[4]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val skip = Set("s1_s2_ingest_roundtrip", "j1_job_lifecycle", "o1_workflow")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        println(s"\n########## $name ##########")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case NonFatal(e) => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
