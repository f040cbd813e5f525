package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The bus
  * is package-private to Spark, so this one call lives in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
