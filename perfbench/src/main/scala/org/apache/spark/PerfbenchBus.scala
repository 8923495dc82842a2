package org.apache.spark

/** Waits until the listener bus has delivered every queued event. Spark's
  * bus is asynchronous, so the benchmark drains it before it reads the
  * counters its listener collected. `listenerBus` is package-private,
  * hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
