package org.apache.spark

/** Lets the benchmark harness wait until every posted scheduler event has
  * reached its listener, so per-pass counters are complete when read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
