package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * listener's counters are complete when the benchmark reads them. Lives
  * in this package because `listenerBus` is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
