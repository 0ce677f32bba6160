package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
 * The listener bus is asynchronous; the benchmark reads its task counters
 * only after this returns, so no task of a finished span is missed. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
