package org.apache.spark.perfbenchbridge

import org.apache.spark.sql.SparkSession

/** The listener bus delivers events asynchronously; waiting for it to
  * empty is package-private to Spark, hence this one-line bridge. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
