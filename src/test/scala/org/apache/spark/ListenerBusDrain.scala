package org.apache.spark

/** Test access to the context's private listener bus: returns once every
  * event posted so far has been delivered, so a listener's counts are
  * exact after an action instead of racing the asynchronous bus. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
