package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a span's counters
  * are complete only once every event posted during it has been
  * handled. `waitUntilEmpty` is package-private to Spark, hence this
  * one-line bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
