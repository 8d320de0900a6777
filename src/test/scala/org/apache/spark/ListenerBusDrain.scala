package org.apache.spark

/** Blocks until every event posted so far has reached the listeners: job
  * counting specs read their listener's state only after this. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
