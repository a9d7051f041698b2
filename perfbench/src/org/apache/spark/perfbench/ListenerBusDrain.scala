package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered. The
  * listener bus is package-private to Spark, so this one call lives in a
  * Spark package; the benchmark needs it to read complete task counters
  * right after a traced call returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
