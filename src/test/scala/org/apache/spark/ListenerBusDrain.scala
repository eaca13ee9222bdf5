package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener has seen every job and SQL execution an action ran
  * (`SparkContext.listenerBus` is `private[spark]`, hence this shim). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
