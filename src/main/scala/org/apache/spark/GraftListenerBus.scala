package org.apache.spark

/** Bridge to Spark's package-private listener-bus drain: events reach
  * listeners asynchronously, so a reader of listener totals waits for
  * the bus to empty before it reads. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
