package org.apache.spark

/** Accessor for the listener bus drain, which Spark keeps `private[spark]`.
  * Counters read from a listener are only complete once every event
  * posted so far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
