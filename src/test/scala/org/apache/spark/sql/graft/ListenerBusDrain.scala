package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to Spark's listener bus. Listener callbacks (job and
  * query-execution events) arrive asynchronously; a test that counts
  * them drains the bus before it reads the count. */
object ListenerBusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
