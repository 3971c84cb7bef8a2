package org.apache.spark

/** Test hook: block until every posted scheduler event has reached its
  * listeners, so counters read right after an action are complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
