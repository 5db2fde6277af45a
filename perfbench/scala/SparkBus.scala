package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * the ledger is complete before the run's spans are read. The bus is
  * private to Spark, hence this one-method bridge in its package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
