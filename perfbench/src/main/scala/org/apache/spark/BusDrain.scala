package org.apache.spark

/** Blocks until every event posted so far has reached the listeners. The
  * benchmark reads stage and job records right after an action returns,
  * and the listener bus is asynchronous; the bus's own wait is
  * package-private, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
