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

  /** Block-manager storage occupancy — (memoryUsedBytes, diskUsedBytes,
    * residentBlocks) of the local executor's stores. Round-17 stall
    * forensics instrument: the xm→successor stall's JFR profile (compiled
    * frames, 5.5× real work, LZ4/ObjectInputStream/HashedRelation churn,
    * zero retries) fits per-task re-materialization of evicted
    * broadcast/cached blocks; this reads the storage pressure the
    * predecessor left behind, per bench window, with no JFR needed. */
  def storageStatus(sc: SparkContext): (Long, Long, Int) = {
    val st = sc.env.blockManager.master.getStorageStatus
    (st.map(_.memUsed).sum, st.map(_.diskUsed).sum,
      st.map(_.blocks.size).sum)
  }

  /** Janino (Spark codegen) compilation counters — (compilations so far,
    * total compile nanos). Round-18 stall forensics: the surviving
    * degraded-evaluation theory says `curate_multimodal_xm`'s giant
    * generated classes evict the successor's entries from the
    * `spark.sql.codegen.cache.maxEntries`-bounded codegen cache (whose
    * keys also hold the classloader WEAKLY — a window-boundary
    * `System.gc()` can clear them), forcing recompiles or interpreted
    * expression fallback mid-window. A stalled window with a compile-count
    * spike names recompilation; a flat count with elevated cpu pushes to
    * re-execution (the `tasks` field then decides). `compileTime` is the
    * public accumulator `CodeGenerator.compile` feeds; the count comes
    * from the `CodegenMetrics` histogram every `doCompile` updates. */
  def janinoStats(): (Long, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  }

  /** Resident entry count of the Catalyst generated-class cache
    * (`CodeGenerator.cache`, default max 100 entries) — read via
    * reflection (the field is object-private). A count pinned at the max
    * across the xm→successor boundary is the eviction-pressure signature;
    * a small steady count acquits the cache. Returns -1 if the private
    * shape ever changes rather than failing the bench. */
  def codegenCacheEntries(): Long =
    try {
      val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      val m = gen.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(gen).asInstanceOf[org.apache.spark.util.NonFateSharingCache[_, _]].size()
    } catch { case _: Throwable => -1L }

  /** Whether file-source listing skips a file or directory of this name:
    * Spark's own rule (`_`/`.` prefixes, except partition dirs and parquet
    * summary files), so a reader that picks a file by hand sees the same
    * leaves a `spark.read` scan does. */
  def isHiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
