package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the traced
  * run drains it before reading job metrics, so no job of the run is lost. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
