package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so listener counters read after a call include all of that call's jobs.
  * Lives in Spark's package because the bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
