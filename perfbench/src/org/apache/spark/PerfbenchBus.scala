package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark needs
  * to wait for it to drain before it attributes events to the next
  * phase, as Spark's own listener tests do. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
