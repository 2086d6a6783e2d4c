package org.apache.spark

/** Test access to the driver's async listener bus: returns once every event
  * posted so far has reached every registered listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
