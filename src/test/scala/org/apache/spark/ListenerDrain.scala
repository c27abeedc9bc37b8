package org.apache.spark

/** Test access to the listener bus: block until every event posted so far
  * has reached its listeners (listener delivery is asynchronous).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
