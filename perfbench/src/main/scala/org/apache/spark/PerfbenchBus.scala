package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Traced runs drain the bus before reading their listener counters, so a
  * count never misses an event that is still queued. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
