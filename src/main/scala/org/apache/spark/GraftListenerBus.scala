package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * [[graft.Ledger]] is complete when it is read. The bus is private to
  * Spark, hence this one-method bridge in its package. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
