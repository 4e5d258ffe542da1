package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event. The
  * bus is internal to Spark, hence this one-method bridge in Spark's
  * package; specs call it before reading their listeners' counters. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
