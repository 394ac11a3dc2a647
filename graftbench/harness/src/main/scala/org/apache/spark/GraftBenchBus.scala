package org.apache.spark

/** Drains Spark's asynchronous listener bus, so every event of an operation
  * reaches the benchmark's listeners before the operation's counters are
  * read. The bus is `private[spark]`, hence this one accessor in Spark's
  * package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
