package org.apache.spark

/** The listener bus is private to Spark: this waits until it has
  * delivered every posted event, so a listener read after an action sees
  * all of that action's jobs and stages. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
