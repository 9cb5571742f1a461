package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * span recorder's counters are complete before they are read. The bus is
  * private to Spark's own package, hence this file's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
