package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event; the
  * drain is Spark-internal, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
