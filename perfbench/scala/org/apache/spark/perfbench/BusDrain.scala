package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is private to Spark, hence this file's package; the
  * traced run calls it before reading what its listeners recorded. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
