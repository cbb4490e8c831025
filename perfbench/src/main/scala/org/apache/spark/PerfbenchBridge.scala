package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains it before reading what its listeners recorded. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
