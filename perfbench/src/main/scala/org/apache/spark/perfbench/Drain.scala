package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so
  * a span's job and task counters are complete when it is read. The
  * bus is asynchronous and its drain is Spark-internal, hence this
  * package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Takes the next RDD id of the context: every RDD created after the
  * call has a larger id. The counter is Spark-internal, hence this
  * package.
  */
object NextRddId {
  def apply(sc: SparkContext): Int = sc.newRddId()
}
