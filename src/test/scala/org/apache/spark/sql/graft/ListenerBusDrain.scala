package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Test access to Spark's listener bus. Listener callbacks (job and
  * query-execution events) arrive asynchronously; a test that counts
  * them drains the bus before it reads the count. */
object ListenerBusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `body`'s result and every query execution that ran during it,
    * succeeded or failed, in completion order. */
  def executions[A](spark: SparkSession)(body: => A): (A, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit = { seen.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = { seen.add(qe); () }
    }
    spark.listenerManager.register(listener)
    try {
      apply(spark) // nothing earlier is still in flight
      seen.clear()
      val a = body
      apply(spark)
      (a, seen.toArray(Array.empty[QueryExecution]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
