package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * trace holds the last jobs' end and task events before it is written. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
