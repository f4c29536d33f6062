package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * spec can read a `SparkListener`'s counts right after an action. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
