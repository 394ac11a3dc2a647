package graft.tools

import org.apache.spark.sql.graftbridge.GraftListenerBus

/** Per-job localization for multi-action queries: run a query `reps` times
  * and print, for the LAST (warm) rep, every Spark job's wall seconds and
  * its first stage's callsite name — the measurement the optimization
  * guide's §1 asks for when a query's wall is dominated by driver actions
  * rather than one big stage. (TimeQuery's description listener comes up
  * empty for jobs submitted from streaming/foreachBatch threads; stage
  * names are always populated.)
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    @volatile var record = false
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (record)
            starts.put(j.jobId, (System.nanoTime(),
              j.stageInfos.sortBy(_.stageId).map(_.name).mkString(" | ")))
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val v = starts.remove(j.jobId)
          if (v != null)
            rows.add(f"[trace] ${j.jobId}%4d ${(System.nanoTime() - v._1) / 1e9}%7.3fs  ${v._2}")
        }
      })
    (1 to reps).foreach { i =>
      // drain first: a tail event of the previous rep must not be recorded
      // as this rep's
      GraftListenerBus.drain(spark.sparkContext)
      record = i == reps
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[trace] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      spark.catalog.clearCache()
    }
    GraftListenerBus.drain(spark.sparkContext)
    rows.forEach(r => println(r))
    spark.stop()
  }
}
