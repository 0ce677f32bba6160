package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
 * The listener bus is asynchronous; a spec reads what a listener captured
 * only after this returns, so no finished query is missed. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
