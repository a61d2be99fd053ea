package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps
  * package-private. */
object GraftListenerBus {

  /** Blocks until every event posted so far has been delivered to every
    * listener (at most 30 s). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
