package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * `LiveListenerBus` is package-private to Spark, so the trace reads
  * its spans only after calling this at the end of a pass. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
