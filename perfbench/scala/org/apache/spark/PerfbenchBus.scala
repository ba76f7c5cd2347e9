package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener counters are complete when it reads them. The bus
  * is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
