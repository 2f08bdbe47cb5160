package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so the traced counters are complete when they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
