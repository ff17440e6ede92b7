package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so a
  * pass's stage metrics are read only after all of them arrived. The
  * listener bus is `private[spark]`; this object lives in Spark's package
  * to reach it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
