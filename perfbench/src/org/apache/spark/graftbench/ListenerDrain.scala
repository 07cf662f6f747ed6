package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the benchmark waits for it to drain
  * before it reads task counters. `listenerBus` is Spark-private, hence
  * this helper's package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
