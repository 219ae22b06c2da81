package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark. A traced span waits on it
  * so that every job, stage and query event its call caused has reached the
  * benchmark's listeners before the span's counters are read.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
