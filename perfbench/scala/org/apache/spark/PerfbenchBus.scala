package org.apache.spark

/** The listener bus is package-private to Spark; the traced run needs
  * to wait for it to empty before attributing events to spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
