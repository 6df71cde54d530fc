package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`: this drains it, so every event of
  * the jobs that have finished has reached the benchmark's listeners
  * before their totals are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
