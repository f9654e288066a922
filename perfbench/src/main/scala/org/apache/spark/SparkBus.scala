package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counts read after an action include that action's jobs and tasks.
  * The bus is Spark-internal; this object lives in Spark's package only
  * to reach it. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
