package org.apache.spark

/** The listener bus is private to Spark; this shim lives in Spark's package
  * so the benchmark can wait for every queued event to be delivered before it
  * reads its listener, instead of sleeping for a guessed interval. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
