package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * The benchmark reads its listener counters at pipeline and pass
  * boundaries; without the drain, the last tasks of a pipeline could be
  * counted in the next one.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
