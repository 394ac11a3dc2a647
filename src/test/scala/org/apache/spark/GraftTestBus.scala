package org.apache.spark

/** Drains Spark's asynchronous listener bus, so every event of an operation
  * reaches a spec's listener before the spec reads its counters. The bus is
  * `private[spark]`, hence this one accessor in Spark's package.
  */
object GraftTestBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
