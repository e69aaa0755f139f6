package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it after
  * each operation so every event lands on the operation that caused it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
