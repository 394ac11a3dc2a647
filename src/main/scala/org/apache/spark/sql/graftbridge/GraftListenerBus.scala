package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so every event posted so far
  * reaches its listeners before a caller reads what they counted. The bus
  * is `private[spark]`, hence this one accessor inside Spark's package.
  */
object GraftListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
