package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced summary sees the last job's task metrics. The bus is internal
  * to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
