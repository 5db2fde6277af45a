package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * listener's counts are complete when a spec reads them. The bus is
  * private to Spark, hence this one-method bridge in its package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
