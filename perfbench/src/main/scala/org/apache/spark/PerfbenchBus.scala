package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the traced
  * run waits for all events of a query before it reads that query's
  * counters. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
