package org.apache.spark

/** Spark-internal hooks the benchmark needs: listener events are
  * delivered asynchronously, so a traced run waits for the bus to drain
  * before it reads its job records.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
