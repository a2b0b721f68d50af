package org.apache.spark

/** Spark-internal hook for specs that count jobs with a listener:
  * listener events are delivered asynchronously, so a spec drains the
  * bus before it reads what its listener saw.
  */
object ListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
