package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so that counters read after an action include that action's
  * events.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
