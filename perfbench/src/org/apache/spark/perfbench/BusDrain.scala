package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so
  * counters read right after an action are exact instead of racing the
  * asynchronous listener bus. Lives under org.apache.spark because the
  * bus is package-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
