package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far reached every listener, so a
  * traced span can be closed with all of its jobs, tasks and query
  * executions counted. The listener bus is package-private to Spark. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
