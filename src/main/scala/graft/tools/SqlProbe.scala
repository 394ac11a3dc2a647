package graft.tools

import graft.GraftSession
import scala.util.control.NonFatal

/** Scratch: run one SQL string against a bare session and show the result;
  * used to probe engine feature support (e.g. recursive CTEs). Not part of
  * any gate.
  */
object SqlProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sql = args.mkString(" ")
    try {
      val df = spark.sql(sql)
      df.show(50, truncate = false)
      System.err.println("PROBE_OK")
    } catch {
      case NonFatal(e) => System.err.println(s"PROBE_FAIL ${e.getClass.getName}: ${e.getMessage.take(500)}")
    }
    spark.stop()
  }
}
