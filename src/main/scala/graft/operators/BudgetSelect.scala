package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** TOKEN-BUDGET quality selection — the "keep the best documents up to a
  * token budget" stage of the published LLM-data pipelines (FineWeb-Edu's
  * classifier-score cut, DCLM's top-percent selection, the Gopher-style
  * "take the highest-quality X% of the crawl"): given a per-document
  * quality score and a training-token budget B, keep the highest-scoring
  * documents whose tokens fit in B, deterministically.
  *
  * Why the family is a first-class 100 TB component and not an
  * `ORDER BY score DESC LIMIT` footnote: a global sort of a 100 TB corpus
  * is the exact plan shape this repo refuses everywhere else (one
  * reducer holds the boundary). The scale move is the
  * [[TextAnalysis.qualityCalibrated]] observation taken one step further
  * — the score lives on the bounded 6-dp grid, so "which documents clear
  * the budget" is a question about a HISTOGRAM, not about an ordering:
  *
  *   1. one map-side-combined aggregation builds the token-weighted
  *      score histogram (≤1001 bins, a priori — `bin = micro ÷ 1000`
  *      over `micro = round(quality·10⁶)`, integer arithmetic end to
  *      end, so no float `floor` can disagree across engines);
  *   2. the threshold bin falls out of a driver-side suffix sum over the
  *      bounded bins (the seed-centroid collect pattern: ≤1001 rows by
  *      construction);
  *   3. every document strictly above the threshold bin is kept with no
  *      ordering at all, and only the BOUNDARY bin — ~1/bins of the
  *      corpus — needs doc-level resolution, which runs as a TWO-LEVEL
  *      exact prefix sum (the `packSequences` discipline): per-micro
  *      token sums (≤1000 distinct micro values per bin, a priori),
  *      driver prefix over them, and a per-doc running sum windowed
  *      PARTITIONED BY micro — no partitionless window anywhere.
  *
  * MERGEABILITY makes the incremental/indexed/streaming rungs honest:
  * every histogram cell is a sum of per-document quantities, so
  * `hist(A ∪ B) = mergeHistograms(hist(A), hist(B))` holds EXACTLY over
  * disjoint corpora (the [[SourceCurate.mergeSourceStats]] contract; the
  * `budget_hist_merged` oracle proves it against whole-corpus ground
  * truth). A new crawl snapshot updates the evidence — and therefore the
  * selection threshold — without re-reading history.
  *
  * Selection semantics (exact, engine-independent): order documents by
  * `(micro DESC, doc_id ASC)`; keep the maximal prefix whose running
  * `n_tokens` sum stays ≤ B. Equivalently: threshold bin `t` = the
  * largest bin whose from-the-top cumulative tokens exceed B (no such
  * bin ⇒ everything fits); bins > t keep wholesale (`region = above`),
  * bins < t drop wholesale (`below`), and bin t (`boundary`) keeps its
  * own `(micro DESC, doc_id)` prefix into the remaining budget. A
  * boundary document is kept iff its running total ≤ remaining — the
  * running sum is monotone, so the kept set IS a prefix.
  */
object BudgetSelect {

  /** Number of histogram bins minus one: `bin = micro ÷ 1000 ∈ [0, 1000]`
    * for quality ∈ [0, 1] on the 6-dp grid. */
  private val MaxBin = 1000L

  /** Per-document scored frame shared by every rung: `(doc_id, quality,
    * n_tokens, micro, bin)` — micro on the established integer grid
    * ([[SourceCurate]]'s `q_micro_sum` discipline), bin derived by LONG
    * division so the binning is exact integer arithmetic. Conditional
    * spread: the per-doc quality scan is the cost center and a streaming
    * micro-batch arrives as one partition (the [[SourceCurate.sourceStats]]
    * measurement — 90 s vs ~6 s per 50k-doc batch at 32 cores); a
    * well-partitioned warehouse scan is left alone. */
  private[graft] def scored(docs: DataFrame): DataFrame = {
    val spread = docs.sparkSession.sparkContext.defaultParallelism
    // size-estimate spread gate, NOT `.rdd.getNumPartitions`: partition-
    // counting an adaptive frame executes its upstream stages (the
    // curate_budget input frame is a semi-join — the old probe re-ran it
    // once per scored() call; see Multimodal.decodeInput's measured case)
    val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val d = if (est < BigInt(spread.toLong) * (32L << 20)) docs.repartition(spread)
            else docs
    TextAnalysis.quality(d)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .withColumn("micro", round(col("quality") * lit(1000000.0)).cast("bigint"))
      // integral division — `div`, not `/` (which is DOUBLE division in
      // the DataFrame API): the binning must be exact integer arithmetic
      .withColumn("bin", expr("micro div 1000"))
  }

  /** The token-weighted score histogram — one row per occupied bin:
    * `(bin, n_docs, n_tokens)`, bin ∈ [0, 1000] a priori. Every column a
    * per-doc sum ⇒ exactly mergeable ([[mergeHistograms]]). One
    * map-side-combined aggregation; the shuffle carries bins × partitions
    * rows, never documents. */
  def scoreHistogram(docs: DataFrame): DataFrame =
    histogramOf(scored(docs))

  private[graft] def histogramOf(sc: DataFrame): DataFrame =
    sc.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("n_tokens"))
      .orderBy(col("bin"))

  /** Exact merge of two [[scoreHistogram]] tables over DISJOINT document
    * sets: per-bin column sums — `merge(hist(A), hist(B)) = hist(A ∪ B)`
    * (BudgetSelectSpec pins associativity; the `budget_hist_merged`
    * oracle proves the identity against engine-independent ground
    * truth). */
  def mergeHistograms(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("bin"))
      .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("n_tokens"))
      .orderBy(col("bin"))

  /** Threshold derivation — driver-side suffix sum over the ≤1001
    * collected bins (bounded a priori — the seed-centroid collect
    * pattern). Returns `(t, remaining)`: `t` = the largest bin whose
    * from-the-top cumulative tokens EXCEED the budget (−1 when the whole
    * corpus fits — everything lands `above`); `remaining` = budget minus
    * the tokens of all bins strictly above `t`. */
  private[graft] def thresholdOf(hist: DataFrame, budgetTokens: Long): (Long, Long) = {
    require(budgetTokens >= 0L, s"budgetTokens must be >= 0, got $budgetTokens")
    val bins = hist.select(col("bin"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    var acc = 0L
    for ((b, tok) <- bins) {
      if (acc + tok > budgetTokens) return (b, budgetTokens - acc)
      acc += tok
    }
    (-1L, 0L)
  }

  /** The decision tail shared by the batch, from-histogram, indexed and
    * auto rungs — byte-identical by construction. Boundary resolution is
    * the two-level exact prefix: per-micro token sums (≤1000 distinct
    * micro values inside one bin, a priori) collected and prefix-summed
    * on the driver in `(micro DESC)` order, then a per-doc running sum
    * windowed PARTITIONED BY micro, ordered by doc_id — offsets + window
    * equal the single `(micro DESC, doc_id)` running sum exactly
    * (associativity over a consistent total order; BudgetSelectSpec pins
    * two-level ≡ naive). */
  private def decide(sc: DataFrame, t: Long, remaining: Long): DataFrame = {
    val outCols = Seq(col("doc_id"), col("quality"), col("n_tokens"),
      col("bin"), col("region"), col("kept"))
    // non-boundary rows never consult the running sum — keeping them OUT
    // of the window's input means the micro exchange shuffles only the
    // boundary bin (~1/bins of the corpus), not the whole frame
    val outside = sc.where(col("bin") =!= t)
      .withColumn("region",
        when(col("bin") > t, lit("above")).otherwise(lit("below")))
      .withColumn("kept", col("bin") > t)
      .select(outCols: _*)
    val boundary = sc.where(col("bin") === t)
    // ≤1000 rows by construction: micro ∈ [t·1000, (t+1)·1000)
    val microSums = boundary.groupBy(col("micro"))
      .agg(sum(col("n_tokens")).as("__mtok")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    val offMap: Map[Long, Long] = {
      var acc = 0L
      microSums.map { case (m, tok) => val o = (m, acc); acc += tok; o }.toMap
    }
    val all =
      if (offMap.isEmpty) outside
      else {
        val wRun = Window.partitionBy(col("micro")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        outside.unionByName(boundary
          .withColumn("region", lit("boundary"))
          .withColumn("kept",
            element_at(typedlit(offMap), col("micro")) +
              sum(col("n_tokens")).over(wRun) <= remaining)
          .select(outCols: _*))
      }
    all.orderBy(col("doc_id"))
  }

  /** Keep the highest-scoring documents whose tokens fit `budgetTokens` —
    * one row per document: `(doc_id, quality, n_tokens, bin, region ∈
    * {above, boundary, below}, kept)`. The corpus is scored once (the
    * frame is checkpointed locally — it feeds both the histogram and the
    * per-doc pass); the threshold is bins-sized driver arithmetic; only
    * the boundary bin is ever ordered, partitioned by micro value. */
  def selectByBudget(docs: DataFrame, budgetTokens: Long): DataFrame = {
    // scored once, two consumers (histogram + decision) — the
    // sourceGateAuto localCheckpoint boundary
    val sc = scored(docs).localCheckpoint()
    val (t, remaining) = thresholdOf(histogramOf(sc), budgetTokens)
    decide(sc, t, remaining)
  }

  /** [[selectByBudget]] with the threshold derived from a PRECOMPUTED
    * histogram — the from-stats rung ([[SourceCurate.sourceGateFromStats]]'s
    * sibling): composes with [[mergeHistograms]] state or the
    * catalog-pinned histogram index. The docs frame is scored for the
    * per-doc pass (O(docs)); the threshold costs O(bins) regardless of
    * how much evidence the histogram accumulates. NOTE the semantics:
    * the threshold reflects the HISTOGRAM's corpus — pass the same docs'
    * histogram for the batch identity, or merged evidence for the
    * incremental posture. */
  def selectByBudgetFromHistogram(docs: DataFrame, hist: DataFrame,
                                  budgetTokens: Long): DataFrame = {
    val (t, remaining) = thresholdOf(hist, budgetTokens)
    decide(scored(docs).localCheckpoint(), t, remaining)
  }

  /** The AUTO rung — budget as a FRACTION of the corpus's own tokens:
    * `B = total_tokens · keepPct ÷ 100` in Long arithmetic (the DCLM
    * "keep the top X%" posture, token-weighted). Self-dialing: no
    * absolute token number to rot as the corpus grows. */
  def selectTopPct(docs: DataFrame, keepPct: Int): DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, s"keepPct in [0,100], got $keepPct")
    val sc = scored(docs).localCheckpoint()
    val hist = histogramOf(sc)
    val total = hist.agg(sum(col("n_tokens")).cast("bigint")).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r                  => r.getLong(0)
    }
    val (t, remaining) = thresholdOf(hist, total * keepPct / 100L)
    decide(sc, t, remaining)
  }

  /** Achieved-vs-target audit — per-region totals beside the budget:
    * `(region, n_docs, n_tokens, kept_docs, kept_tokens, budget,
    * achieved_tokens, fill_ratio)` — `achieved_tokens` = the selection's
    * total kept tokens (same value on every row — the quantity a curator
    * checks first), `fill_ratio` = achieved/budget at 6 dp. The
    * boundary row shows how much of the cut happened at doc granularity;
    * a fill ratio well below 1 with an empty boundary means the budget
    * exceeded the corpus. */
  def budgetAudit(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val d = selectByBudget(docs, budgetTokens)
    // ≤3 rows (one per region); two consumers (achieved collect + output)
    val per = d.groupBy(col("region"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("n_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).cast("bigint")
          .as("kept_tokens"))
      .localCheckpoint()
    val achieved = per.agg(sum(col("kept_tokens")).cast("bigint")).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r                  => r.getLong(0)
    }
    per.withColumn("budget", lit(budgetTokens))
      .withColumn("achieved_tokens", lit(achieved))
      .withColumn("fill_ratio",
        if (budgetTokens == 0L) lit(null).cast("double")
        else round(lit(achieved).cast("double") / lit(budgetTokens).cast("double"), 6))
      .orderBy(col("region"))
  }

  /** The incremental admission — the running-evidence form the streaming
    * rung runs per batch: `incoming` judged under the threshold of
    * `histState` MERGED with the batch's own histogram (evidence up to
    * and including this batch — the [[SourceCurate.sourceFilterIncremental]]
    * posture). DECLARED bin-granular semantics: the incremental form
    * admits strictly-above-threshold documents only — a doc-level
    * boundary prefix needs a total order over ALL history, which an
    * unbounded stream cannot replay — so it under-admits by at most the
    * boundary bin's share vs the batch rule (BudgetSelectSpec pins
    * incremental ≡ the batch frame's `above` region when the state holds
    * the rest of the corpus). Pure given (state, batch). */
  def selectIncremental(incoming: DataFrame, histState: DataFrame,
                        budgetTokens: Long): DataFrame = {
    val sc = scored(incoming).localCheckpoint()
    val (t, _) = thresholdOf(
      mergeHistograms(histState, histogramOf(sc)), budgetTokens)
    sc.select(col("doc_id"), col("quality"), col("n_tokens"), col("bin"),
        (col("bin") > t).as("admitted"))
      .orderBy(col("doc_id"))
  }

  /** Registry name of the catalog-managed score-histogram index. */
  private[graft] def scoreHistogramIndexName: String =
    "documents-score-histogram"

  /** The catalog-pinned score histogram: the warehouse documents scored
    * ONCE at build, the ≤1001-bin evidence stored — tied with
    * [[SourceCurate.sourceStatsIndex]] for smallest index in the
    * registry; every later threshold or planning query ("how many tokens
    * clear quality q?") probes the stored rows without touching the
    * corpus. Same registry citizenship as every indexed twin. */
  private[graft] def scoreHistogramIndex(spark: SparkSession, dir: String,
                                         policy: graft.core.IndexPolicy): graft.core.IndexMeta =
    CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = scoreHistogramIndexName, kind = "score-histogram",
      sourcePath = s"$dir/documents.parquet",
      params = Map("bins" -> (MaxBin + 1L).toString),
      policy = policy) { out =>
      Tables.write(scoreHistogram(graft.core.Tables.documents(spark, dir)))
        .mode("overwrite").parquet(s"$out/hist")
    }

  /** [[selectByBudget]] with the threshold served from the stored
    * histogram — the indexed rung: re-budgeting (a curator sweeping B)
    * never re-aggregates the corpus; decisions byte-identical to the
    * inline form over the same corpus (the oracle re-derives from raw
    * documents). */
  def selectByBudgetIndexed(spark: SparkSession, dir: String,
                            budgetTokens: Long,
                            policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame =
    selectByBudgetFromHistogram(
      graft.core.Tables.documents(spark, dir),
      Tables.read(spark,
        s"${scoreHistogramIndex(spark, dir, policy).path}/hist"),
      budgetTokens)
}
