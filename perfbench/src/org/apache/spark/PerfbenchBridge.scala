package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
