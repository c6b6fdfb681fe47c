package org.apache.spark

/** Waits until every event posted so far has reached the listeners,
  * so per-operation counters are complete when an operation ends.
  * Only the traced run calls it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
