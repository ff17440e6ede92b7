package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Minimal accessor for Spark-core internals that are `private[spark]` —
  * the core-side sibling of [[org.apache.spark.sql.graft.Bridge]].
  *
  * `listenerBus.waitUntilEmpty()` drains the async listener bus so that
  * stage-metric accumulators read at a query boundary contain exactly that
  * query's stages: SparkListenerStageCompleted events are delivered
  * asynchronously, so without the flush late events from query N bleed
  * into query N+1's window — misattribution in the one instrument that
  * exists to adjudicate wall-vs-work drift.
  */
object CoreBridge {
  def flushListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether file-source listing skips a file or directory of this name:
    * Spark's own rule (`_`/`.` prefixes, except partition dirs and parquet
    * summary files), so a reader that picks a file by hand sees the same
    * leaves a `spark.read` scan does. */
  def isHiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
