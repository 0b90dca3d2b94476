package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after a timed region include all of its tasks.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
