package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps the listener bus package-private. The traced run waits
  * for it to empty before it reads the counters its listeners filled,
  * so no event of a finished operation is still queued. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
