package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private; the tracer needs to wait
  * until every queued event has been delivered before it aggregates. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
