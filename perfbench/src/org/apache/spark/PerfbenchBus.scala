package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for it to drain so that every event of an op has
  * reached its listener before the op's counts are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
