package graft.operators

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.GraftListenerBus

/** st20's per-run Spark job budget. The codebook and the index's bin
  * listing are resolved once per stream, and each micro-batch runs one job
  * to collect its assigned queries, then the serving read and the keyed
  * result commit. A per-batch coarse-assignment shuffle, a
  * `localCheckpoint`, a distinct-bin collect or a schema-inference job
  * would each add a job to every one of the 4 batches and break the pin.
  */
class St20JobCountSpec extends SparkSpec {

  test("st20: a warm run stays within its Spark job budget") {
    val sc = spark.sparkContext
    // warm run: builds the stamp-guarded index and arrival fixtures
    VectorQueries.st20StreamingAnnServe(spark, sfDir)
    GraftListenerBus.drain(sc)
    val jobs = new AtomicInteger()
    val tasks = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      VectorQueries.st20StreamingAnnServe(spark, sfDir)
      GraftListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    info(s"st20 warm run: ${jobs.get} jobs, ${tasks.get} tasks")
    assert(jobs.get <= St20JobCountSpec.MaxJobs,
      s"st20 ran ${jobs.get} Spark jobs (${tasks.get} tasks), budget " +
        s"${St20JobCountSpec.MaxJobs}")
  }
}

object St20JobCountSpec {
  /** 18 jobs and 45 tasks on the test fixture when this pin was set; the
    * per-batch plan it replaced (in-session assignment shuffle,
    * `localCheckpoint`, distinct-bin collect, full partition discovery and
    * schema inference on every batch) ran 32 jobs and 167 tasks there.
    */
  val MaxJobs = 20
}
