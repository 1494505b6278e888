package org.apache.spark

/** Test access to the driver's listener bus, which delivers events
  * asynchronously: [[apply]] returns once every event posted so far (a job
  * start, say) has reached the listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
