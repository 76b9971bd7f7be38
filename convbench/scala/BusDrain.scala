package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * trace read after an operation sees all of its jobs and tasks. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
