package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so the
  * per-operation counters of a traced run do not bleed into the next
  * operation. Lives in Spark's package because the bus is private to it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
