package org.apache.spark

/** Listener-bus access for specs: Spark delivers listener events
  * asynchronously, and `waitUntilEmpty` (package-private to Spark) is the
  * only way to know every task-end event of a finished action has arrived. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
