package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The traced run reads its
  * counters only after the bus has delivered every event posted so far;
  * `LiveListenerBus.waitUntilEmpty` is Spark-internal, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
