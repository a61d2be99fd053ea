package org.apache.spark.framesbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this bridge lets the benchmark
  * wait until every event posted so far has been delivered. */
object BusBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
