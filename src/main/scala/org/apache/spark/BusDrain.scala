package org.apache.spark

/** Spark delivers listener events asynchronously, and `waitUntilEmpty`
  * (package-private to Spark) is the only way to know every task-end event
  * of a finished action has arrived. Read a listener's totals after this,
  * or they can miss the last jobs. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
