package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so a listener read after an action has seen all of that
  * action's job events (`listenerBus` is private to Spark).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
