package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * test listener's counts (and the status tracker) are complete when the
  * test reads them. Lives in this package because `listenerBus` is
  * `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
