package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every event posted so far reached every listener, so a
  * spec can read what a `QueryExecutionListener` saw. The listener bus
  * is package-private to Spark. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
