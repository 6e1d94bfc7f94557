package org.apache.spark

/** The listener bus delivers events asynchronously; waiting for it to
  * drain is only reachable from inside Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
