package org.apache.spark

/** Waits until the listener bus, which Spark keeps package-private, has
  * delivered every posted event, so counters a listener updates are
  * complete when read. Bench's suite job listener and ProfileQuery's
  * counters and per-operator record read through it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
