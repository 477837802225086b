package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not expose: the traced run
  * waits until every posted event has reached the benchmark's listeners
  * before it reads their counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
