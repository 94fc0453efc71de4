package org.apache.spark

/** Listener events reach listeners asynchronously. Counters read before the
  * bus is empty miss the last jobs of a span, and `waitUntilEmpty` is
  * `private[spark]`, so this one call lives in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
