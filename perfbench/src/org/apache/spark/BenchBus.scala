package org.apache.spark

/** Listener-bus access for the benchmark's probes: Spark delivers listener
  * events asynchronously, and `waitUntilEmpty` (package-private to Spark)
  * is the only way to know every event of a finished action has arrived. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
