package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** SOURCE-level curation — the host-level discipline of the published
  * web-corpus pipelines (C4's blocklist, Gopher's per-domain rules,
  * RefinedWeb/FineWeb's host-level quality priors): judge the SOURCE on
  * accumulated evidence, then keep or block its documents wholesale. The
  * per-document gates ([[CorpusFilter.decisions]]) answer "is this doc
  * good"; this family answers the question that comes FIRST at crawl
  * scale — "is this host worth reading at all".
  *
  * Why it is a first-class 100 TB component and not a groupBy footnote:
  * (1) SCAN AVOIDANCE — a blocked source prunes its documents before any
  * text-level operator runs; with source-partitioned or source-bucketed
  * storage the prune is partition-level, so the 100 TB pipeline never
  * reads the bytes it was going to reject. (2) MERGEABILITY — every
  * statistic here is a sum of a per-document quantity (per-doc gates
  * only, no cross-doc arm), so `stats(A ∪ B) = mergeSourceStats(stats(A),
  * stats(B))` holds EXACTLY, which is what makes the incremental /
  * indexed / streaming rungs byte-honest rather than approximate: a new
  * crawl snapshot updates per-source evidence without re-reading history.
  * Exact-duplicate share is deliberately NOT in the mergeable stats — a
  * duplicate is a cross-document fact (dups straddling two snapshots
  * break sum-merging); corpus-measured dup shares live in
  * [[CorpusFilter.report]] and the cross-snapshot dup GATE is
  * [[Dedup.exactIncrementalIndexed]].
  *
  * Scale shape: one audit-join of the narrow per-doc gate columns on
  * doc_id (the [[CorpusFilter.decisions]] shape), one aggregation keyed
  * by source (partial aggregation map-side — the shuffle carries
  * sources × partitions rows, not documents), and verdict joins whose
  * source side is sources-sized (broadcast by construction).
  */
object SourceCurate {

  private val StatCols = Seq("n_docs", "n_tokens", "q_micro_sum",
    "n_low_quality", "n_repetitive", "n_pii")

  /** Mergeable per-source sufficient statistics — one row per source:
    * `n_docs`, `n_tokens`, `q_micro_sum` (sum of 6-dp-rounded quality in
    * integer micro-units — order-free across partitionings and engines,
    * the [[CorpusFilter.report]] discipline), `n_low_quality` (docs with
    * quality < `minQuality`), `n_repetitive`, `n_pii`. Every column is a
    * sum of a per-document quantity, so two stats tables over disjoint
    * corpora merge EXACTLY ([[mergeSourceStats]]). */
  /** The per-source aggregation grid, shared by the scan form
    * ([[sourceStats]]) and the reuse form ([[sourceStatsFromMeasures]]) so
    * the two are byte-identical by construction: integer micro-units for
    * the order-free quality sum, bigint counters throughout. */
  private def statAggs(minQuality: Double) = Seq(
    count(lit(1)).as("n_docs"),
    sum(col("n_tokens")).cast("bigint").as("n_tokens"),
    sum(round(col("quality") * lit(1000000.0)).cast("bigint"))
      .as("q_micro_sum"),
    sum(when(col("quality") < minQuality, 1L).otherwise(0L))
      .as("n_low_quality"),
    sum(when(col("repetitive"), 1L).otherwise(0L)).as("n_repetitive"),
    sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii"))

  def sourceStats(docs: DataFrame, minQuality: Double = 0.3): DataFrame = {
    // conditional spread — the positionalShingles small-single-split
    // discipline: a streaming micro-batch (or a single-file scan) arrives
    // as ONE partition, and the per-doc gates below are the cost center;
    // without the spread they run single-threaded (measured 90 s vs ~6 s
    // per 50k-doc batch at 32 cores). But the batch rungs read an already
    // well-partitioned warehouse scan, where an unconditional repartition
    // shuffles the full corpus text for nothing (r17 advice) — so spread
    // only when the input is narrower than the cluster. The three gate
    // arms derive from the SAME child either way, so the exchange (when
    // present) is reused, not tripled.
    val spread = docs.sparkSession.sparkContext.defaultParallelism
    val d = if (docs.rdd.getNumPartitions < spread) docs.repartition(spread)
            else docs
    // ONE fused per-row measures projection (r19 — the
    // [[CorpusFilter.decisionsWithMeasures]] collapse): quality,
    // repetition and PII are row-local expressions, so the three arms and
    // their doc_id equi-joins reduce to a single scan feeding the one
    // source-keyed aggregation.
    val aggs = statAggs(minQuality)
    d.select(col("source"),
        TextAnalysis.gateMeasures(col("text")).as("__m"),
        Pii.hasPii(col("text")).as("has_pii"))
      .select(col("source"), col("__m.n_tokens").as("n_tokens"),
        col("__m.quality").as("quality"),
        col("__m.repetitive").as("repetitive"), col("has_pii"))
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("source"))
  }

  /** [[sourceStats]] aggregated from an ALREADY-COMPUTED per-document
    * measures frame — rows carrying `source`, `n_tokens`, `quality`,
    * `repetitive`, `has_pii` (the [[CorpusFilter.decisionsWithMeasures]]
    * columns joined to each doc's source). The composed curate arms
    * ([[Curate.pipeline]]'s host gate, the streaming twin) call this so
    * the per-source evidence aggregates the SAME per-doc scans the gate
    * columns came from, instead of re-running quality/repetition/PII over
    * the full corpus a second time (r17 advice — measured as roughly a
    * second full gate pass in `curate_sourced`). Byte-identical to
    * [[sourceStats]] over the same docs: the aggregation grid is shared
    * code (SourceCurateSpec pins measures-form ≡ scan-form). */
  def sourceStatsFromMeasures(measures: DataFrame,
                              minQuality: Double = 0.3): DataFrame = {
    val aggs = statAggs(minQuality)
    measures.groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("source"))
  }

  /** Exact merge of two [[sourceStats]] tables over DISJOINT document
    * sets: per-source column sums. `merge(stats(A), stats(B)) =
    * stats(A ∪ B)` — the property every incremental rung here rests on
    * (SourceCurateSpec pins it; the `source_stats_merged` oracle proves
    * it against an engine-independent ground truth). */
  def mergeSourceStats(a: DataFrame, b: DataFrame): DataFrame = {
    val aggs = StatCols.map(c => sum(col(c)).cast("bigint").as(c))
    a.unionByName(b).groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("source"))
  }

  /** The per-source verdict over a stats table — the host gate: derived
    * shares (`avg_quality` from micro-units, `low_quality_share`,
    * `repetitive_share`, `pii_share`, 6 dp) and threshold verdicts.
    * `measured` = `n_docs ≥ minDocs`: a source below the evidence floor
    * is NOT judged (`keep = true`) — the declared cold-start rule; the
    * alternative (block the unmeasured) would quarantine every new host
    * on its first document, and the published pipelines do the opposite
    * (hosts are innocent until measured, then pruned wholesale).
    * `keep = ¬measured ∨ (quality_ok ∧ repetition_ok ∧ pii_ok)`. */
  def sourceGateFromStats(stats: DataFrame,
                          minAvgQuality: Double = 0.2,
                          maxRepetitiveShare: Double = 0.5,
                          maxPiiShare: Double = 0.5,
                          minDocs: Long = 5L): DataFrame =
    stats.select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("q_micro_sum").cast("double") / lit(1000000.0)
          / col("n_docs"), 6).as("avg_quality"),
        round(col("n_low_quality").cast("double") / col("n_docs"), 6)
          .as("low_quality_share"),
        round(col("n_repetitive").cast("double") / col("n_docs"), 6)
          .as("repetitive_share"),
        round(col("n_pii").cast("double") / col("n_docs"), 6).as("pii_share"))
      .withColumn("quality_ok", col("avg_quality") >= minAvgQuality)
      .withColumn("repetition_ok", col("repetitive_share") <= maxRepetitiveShare)
      .withColumn("pii_ok", col("pii_share") <= maxPiiShare)
      .withColumn("measured", col("n_docs") >= minDocs)
      .withColumn("keep", !col("measured") ||
        (col("quality_ok") && col("repetition_ok") && col("pii_ok")))
      .orderBy(col("source"))

  /** The DATA-DRIVEN host gate — the family's auto rung: block the
    * bottom `blockBottomPct`% of MEASURED sources by `avg_quality`
    * (relative pruning, the RefinedWeb posture) instead of an absolute
    * threshold that rots as the corpus drifts. Exact rank rule with
    * deterministic ties — measured sources order by `(avg_quality,
    * source)` and the bottom `floor(n_measured · pct / 100)` block;
    * unmeasured sources (below `minDocs`) pass, the [[sourceGateFromStats]]
    * cold-start rule. Output one row per source with its `q_rank` among
    * measured sources (NULL for unmeasured) and `keep`.
    *
    * Scale shape: a TWO-LEVEL exact rank (the packSequences discipline —
    * r17 advice: a global `row_number` window is a single task at a web
    * crawl's 10⁷–10⁸ hosts). Sources bucket by the leading digits of
    * `avg_quality` — `floor(avg_quality·1000)` clamped to [0,1000], which
    * is MONOTONE in the sort key, so ordering by (bucket, avg_quality,
    * source) equals the global (avg_quality, source) ordering exactly —
    * rank in parallel WITHIN buckets, and add per-bucket offsets computed
    * by a driver-side prefix sum over the ≤1001 bucket counts (bounded a
    * priori — the seed-centroid collect pattern). No partitionless window
    * remains anywhere in the plan. The corpus itself is touched only by
    * [[sourceStats]]' one aggregation. */
  def sourceGateAuto(docs: DataFrame, minQuality: Double = 0.3,
                     blockBottomPct: Int = 10, minDocs: Long = 5L): DataFrame =
    sourceGateAutoFromStats(sourceStats(docs, minQuality),
      blockBottomPct, minDocs)

  /** [[sourceGateAuto]]'s rank rule over an existing stats table — the
    * from-stats rung ([[sourceGateFromStats]]'s sibling): composes with
    * [[mergeSourceStats]] state or the catalog-pinned stats index, and is
    * the form the ≥1M-host ScaleSmoke row measures directly. */
  def sourceGateAutoFromStats(stats: DataFrame,
                              blockBottomPct: Int = 10,
                              minDocs: Long = 5L): DataFrame = {
    val s = sourceGateFromStats(stats, minDocs = minDocs)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("avg_quality"), col("measured"))
      // sources-sized; materialized once — consumed by the bucket-count
      // collect below AND by the ranked output (without the boundary the
      // corpus aggregation would run twice)
      .localCheckpoint()
    val measuredS = s.where(col("measured"))
      .withColumn("__bkt", least(greatest(
          floor(col("avg_quality") * lit(1000)), lit(0.0)), lit(1000.0))
        .cast("bigint"))
    // ≤1001 rows by construction: bounded driver state
    val counts = measuredS.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__c")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offMap = {
      var acc = 0L
      counts.map { case (b, c) => val o = (b, acc); acc += c; o }.toMap
    }
    val nMeasured = counts.map(_._2).sum
    // exact floor(n·pct/100) in Long arithmetic (non-negative, so integer
    // division IS floor; n·pct ≤ 10⁸·100 fits comfortably)
    val cutoff = nMeasured * blockBottomPct / 100L
    val wb = Window.partitionBy(col("__bkt"))
      .orderBy(col("avg_quality"), col("source"))
    val ranked = measuredS
      .withColumn("q_rank",
        element_at(typedlit(offMap), col("__bkt")) +
          row_number().over(wb).cast("bigint"))
      .withColumn("keep", col("q_rank") > lit(cutoff))
      .drop("__bkt")
    ranked.unionByName(
        s.where(!col("measured"))
          .withColumn("q_rank", lit(null).cast("bigint"))
          .withColumn("keep", lit(true)))
      .orderBy(col("source"))
  }

  /** [[sourceGateFromStats]] over inline-computed stats — the batch form. */
  def sourceGate(docs: DataFrame, minQuality: Double = 0.3,
                 minAvgQuality: Double = 0.2,
                 maxRepetitiveShare: Double = 0.5,
                 maxPiiShare: Double = 0.5,
                 minDocs: Long = 5L): DataFrame =
    sourceGateFromStats(sourceStats(docs, minQuality),
      minAvgQuality, maxRepetitiveShare, maxPiiShare, minDocs)

  /** The per-DOCUMENT consequence of the source gate: one row per doc
    * with its source's verdict as `source_ok` — the frame a pipeline
    * semi-joins its corpus against (blocked sources pruned wholesale,
    * before any per-doc text work). The verdict side is sources-sized,
    * so the join broadcasts by construction.
    *
    * NULL-source docs (real crawl data with missing host metadata) take
    * the COLD-START KEEP: the equi-join cannot attribute them to a host
    * (NULL never equals NULL), so the left join + coalesce defaults them
    * to `source_ok = true` instead of silently dropping their rows (r17
    * advice). [[sourceStats]] still aggregates them into a NULL stats row
    * — evidence is a fact table — but a pooled "no host" verdict is never
    * applied per-doc: unattributed ≠ one shared host. */
  def sourceFilter(docs: DataFrame, minQuality: Double = 0.3,
                   minAvgQuality: Double = 0.2,
                   maxRepetitiveShare: Double = 0.5,
                   maxPiiShare: Double = 0.5,
                   minDocs: Long = 5L): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(sourceGate(docs, minQuality, minAvgQuality, maxRepetitiveShare,
          maxPiiShare, minDocs)
        .select(col("source"), col("keep").as("source_ok")), Seq("source"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("source_ok"), lit(true)).as("source_ok"))
      .orderBy(col("doc_id"))

  /** Registry name of the catalog-managed per-source stats index. */
  private[graft] def sourceStatsIndexName(minQuality: Double): String =
    s"documents-source-stats-q$minQuality"

  /** The catalog-pinned per-source stats table: the warehouse documents
    * scanned ONCE at build, per-source evidence stored (sources-sized —
    * the smallest index in the registry); every later gate or filter
    * probes the stored rows. Same registry citizenship as every indexed
    * twin (definition params recorded, staleness detected, policy
    * decides rebuild-vs-fail). */
  private[graft] def sourceStatsIndex(spark: SparkSession, dir: String,
                                      minQuality: Double,
                                      policy: graft.core.IndexPolicy): graft.core.IndexMeta =
    CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = sourceStatsIndexName(minQuality), kind = "source-stats",
      sourcePath = s"$dir/documents.parquet",
      params = Map("minQuality" -> minQuality.toString),
      policy = policy) { out =>
      Tables.write(sourceStats(graft.core.Tables.documents(spark, dir), minQuality))
        .mode("overwrite").parquet(s"$out/stats")
    }

  /** [[sourceGate]] served from the stored stats index — per-snapshot
    * cost is a sources-sized scan; the corpus is never re-read. Verdicts
    * byte-identical to the inline gate over the same corpus
    * (SourceCurateSpec pins it; the oracle re-derives from raw docs). */
  def sourceGateIndexed(spark: SparkSession, dir: String,
                        minQuality: Double = 0.3,
                        minAvgQuality: Double = 0.2,
                        maxRepetitiveShare: Double = 0.5,
                        maxPiiShare: Double = 0.5,
                        minDocs: Long = 5L,
                        policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame =
    sourceGateFromStats(
      Tables.read(spark,
        s"${sourceStatsIndex(spark, dir, minQuality, policy).path}/stats"),
      minAvgQuality, maxRepetitiveShare, maxPiiShare, minDocs)

  /** Materialize a corpus PARTITIONED BY SOURCE — the storage layout that
    * turns the host gate into partition-level scan avoidance: a blocked
    * source's files are pruned at PLANNING time by [[prunedScan]], so the
    * 100 TB pipeline never opens the bytes it was going to reject (the
    * family's headline scale claim, made checkable — PlanShapeSpec pins
    * the PartitionFilters). One directory per source; within a source the
    * writer keeps the incoming partitioning. */
  def writeBySource(docs: DataFrame, path: String): Unit =
    Tables.write(docs).mode("overwrite").partitionBy("source").parquet(path)

  /** Scan a [[writeBySource]] layout restricted to the gate's kept
    * sources: the `IN` predicate on the partition column resolves to
    * partition pruning — blocked sources' files never enter the scan.
    * `keptSources` is sources-sized (the gate's output), so the literal
    * list is bounded the same way the gate's broadcast side is. */
  def prunedScan(spark: SparkSession, path: String,
                 keptSources: Seq[String]): DataFrame = {
    // partition-column type inference OFF for this resolution (r17
    // advice): a corpus whose source values all look numeric would
    // otherwise read back `source` as an integer partition column —
    // `isin(strings)` would then compare across types and the schema
    // would diverge from the written frame. Inference happens eagerly at
    // the read call, so the conf toggle brackets exactly it.
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try Tables.read(spark, path).where(col("source").isin(keptSources: _*))
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** The incremental per-doc filter — the running-evidence form
    * [[graft.streaming.Streaming.streamSourceGateAdmit]] runs per batch:
    * `incoming` judged against the gate over `statsState` MERGED with the
    * batch's own stats (evidence up to and including this batch). Pure
    * given (state, batch) — the streaming replay contract. */
  def sourceFilterIncremental(incoming: DataFrame, statsState: DataFrame,
                              minQuality: Double = 0.3,
                              minAvgQuality: Double = 0.2,
                              maxRepetitiveShare: Double = 0.5,
                              maxPiiShare: Double = 0.5,
                              minDocs: Long = 5L): DataFrame =
    incoming.select(col("doc_id"), col("source"))
      .join(sourceGateFromStats(
          mergeSourceStats(statsState, sourceStats(incoming, minQuality)),
          minAvgQuality, maxRepetitiveShare, maxPiiShare, minDocs)
        .select(col("source"), col("keep").as("source_ok")), Seq("source"), "left")
      // NULL-source docs: cold-start keep, the [[sourceFilter]] rule
      .select(col("doc_id"), col("source"),
        coalesce(col("source_ok"), lit(true)).as("source_ok"))
      .orderBy(col("doc_id"))
}
