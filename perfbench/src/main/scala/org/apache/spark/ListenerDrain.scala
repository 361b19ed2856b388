package org.apache.spark

/** Blocks until every event posted so far has reached the listeners.
  * Listener delivery is asynchronous, and the benchmark reads its
  * listener's counts right after the operations it measured.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
