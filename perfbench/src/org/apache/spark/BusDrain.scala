package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counts read after an operation include all of its jobs and tasks.
  * It lives in Spark's package because the bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
