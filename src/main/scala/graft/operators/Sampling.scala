package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Deterministic data selection — the sampling/splitting surface of a
  * training-data pipeline. Everything here derives from a content-stable
  * hash of the record id, NOT from an RNG: the same record lands in the
  * same sample/split on every run, every engine, and every cluster size,
  * which is what makes training sets reproducible and leak-free (a record
  * can never migrate from test to train between pipeline runs).
  *
  * All expressions are narrow codegen'd built-ins; sampling composes with
  * pushdown (the bucket predicate travels to the scan) and adds no
  * shuffle.
  */
object Sampling {

  /** Stable bucket in [0, buckets) from the id's md5 — the shared
    * [[graft.functions.LshFunctions.hash56]] fingerprint mod buckets
    * (DuckDB: `('0x' || substr(md5(id::VARCHAR), 1, 14))::UBIGINT %
    * buckets`). */
  def hashBucket(idCol: Column, buckets: Int = 100): Column =
    pmod(graft.functions.LshFunctions.hash56(idCol.cast("string")),
      lit(buckets.toLong))

  /** Topic-balance report — DataComp/SemDeDup-style cluster accounting
    * over the DOCUMENT corpus: embed every document with the
    * deterministic `local/hash-64` embedder (the ingest code path — a
    * declared JVM fence, off every hot path), Lloyd-train `nCells`
    * centroids with the [[graft.operators.Ann.trainCentroids]] contract
    * (fixed steps, seeded from the first ids, no RNG — oracle-able), and
    * report per-cluster volume share and mean heuristic quality. The view
    * that says "this corpus is 40% one topic" BEFORE sampling decisions;
    * thin the fat cells with [[cellBalancedSample]], reweigh sources with
    * [[graft.operators.TextAnalysis.doremiWeights]].
    *
    * Scale shape: embedding + assignment are narrow per-row passes;
    * training is one keyed aggregation per step with `nCells × dim`
    * doubles of driver state; the report is a cell-keyed count plus a
    * 1-row total broadcast. */
  def topicBalance(docs: DataFrame, nCells: Int = 8, iters: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val embed = udf((b: Array[Byte]) =>
      graft.core.Embedders.get("local/hash-64")(b))
    // persisted for the loop: every Lloyd step re-reads the vectors, and
    // re-embedding the corpus per step is iters× the dominant cost (the
    // qualityClassifier xtr contract; ~0.05% of corpus bytes at d=64)
    val vecs = docs.select(col("doc_id").as("vec_id"),
        embed(col("text").cast("binary")).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (cents, _) = graft.operators.Ann.trainCentroids(
        vecs, nCells, maxIters = iters, tol = 0.0)
      val q = TextAnalysis.quality(docs)
        .select(col("doc_id").as("vec_id"), col("quality"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      // the report is ≤ nCells rows — materialize it while the vector
      // cache is live, hand back a local frame
      val rows = graft.operators.Ann.assignCells(vecs, cents)
        .join(q, Seq("vec_id"))
        .groupBy(col("cell").cast("bigint").as("cell"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 6).as("mean_quality"))
        .crossJoin(broadcast(total))
        .select(col("cell"), col("n_docs"),
          round(col("n_docs").cast("double") / col("n_total"), 6).as("share"),
          col("mean_quality"))
        .orderBy(col("cell"))
        .collect()
      import spark.implicits._
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSeq.toDF("cell", "n_docs", "share", "mean_quality")
        .orderBy(col("cell"))
    } finally vecs.unpersist(false)
  }

  /** Keep ~`percent`% of rows, deterministically. */
  def sampleByPercent(df: DataFrame, idCol: String, percent: Int): DataFrame =
    df.where(hashBucket(col(idCol)) < percent)

  /** Stable train/val/test split assignment (80/10/10 by default) for the
    * given id column. */
  def splitColumn(idCol: String, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(col(idCol))
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** The documents a larger sample adds over a smaller one — EXCEPT
    * (distinct set difference) over the two deterministic selections.
    * Because hash-bucket membership is monotone in the rate, this is
    * exactly the increment a pipeline must process when widening a
    * sample — nothing previously processed reappears. */
  def sampleDelta(docs: DataFrame, idCol: String = "doc_id",
                  fromPct: Int = 10, toPct: Int = 20): DataFrame =
    sampleByPercent(docs, idCol, toPct).select(col(idCol))
      .except(sampleByPercent(docs, idCol, fromPct).select(col(idCol)))
      .orderBy(col(idCol))

  /** Token-budget batch packing: assign documents to training batches of
    * ~`budget` tokens by binning the per-stratum exclusive prefix sum of
    * token counts — the deterministic, distributed-friendly packing
    * contract (true greedy bin packing is sequentially order-dependent;
    * offset binning gives every engine and every run the same batches).
    *
    * Scale shape: the window is keyed by (lang, shard) where shard =
    * hash56(doc_id) % `shards` — keying by lang alone puts each language
    * on ONE reducer, and at 100 TB the dominant language (≈half a web
    * corpus) becomes a single-task sort. Sharding bounds every window
    * partition at stratum/shards while staying deterministic: the shard
    * is a content hash, not a partition index. Batch ids are
    * shard-offset (`local * shards + shard`) so ids never collide across
    * shards of the same language; each emitted batch still packs
    * ~`budget` tokens. `shards` is the parallelism dial — raise it with
    * corpus size. */
  def packBatches(docs: DataFrame, budget: Int = 4096, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0, s"shards must be positive, got $shards")
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.toks).cast("bigint").as("n_tok"),
        hashBucket(col("doc_id"), shards).as("shard"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      // floor before the cast: double→int casts truncate here but round
      // in other engines; floor() is exact for token sums (≪ 2^53)
      .select(col("doc_id"), col("lang"), col("n_tok"), col("shard"), col("cum_tok"),
        (floor((col("cum_tok") - col("n_tok")) / lit(budget.toDouble))
          .cast("bigint") * lit(shards.toLong) + col("shard")).as("batch_id"))
      .orderBy(col("doc_id"))
  }

  /** Exact sequence packing — the GPT-style pretraining layout: documents
    * are concatenated per language stratum in doc_id order and chopped
    * into fixed `seqLen`-token training sequences; each document's row
    * reports its global token offset and the first/last sequence it lands
    * in (a document may span a boundary — the standard pack-and-chop
    * accepts that). Unlike [[packBatches]] (greedy whole-doc binning,
    * order-free), this needs the EXACT global running token offset.
    *
    * A naive `sum over (partition by lang order by doc_id)` is one
    * reducer per language — the skew ceiling packBatches already refused.
    * Instead this runs the classic two-level scan (Blelloch) as DataFrame
    * ops: documents shard by `doc_id div shardWidth` (deterministic and
    * order-aligned, unlike a hash shard), each (lang, shard) window
    * computes a LOCAL prefix sum over ≤ shardWidth rows, shard token
    * totals aggregate to a table corpus/shardWidth long whose own prefix
    * sum (the only per-lang ordered pass) runs over that much smaller
    * table, and the exclusive shard offsets broadcast-join back:
    * `start = shard_offset + local_cum − n_tok`. `shardWidth` is the
    * scale dial: the default 0 means AUTO — `≈ √N` from one cheap count
    * ([[shardGroupWidth]]), which bounds BOTH levels at ~√N rows (the
    * local windows and the offsets table alike) for any corpus size: at
    * 10B docs, width 10⁵ → 10⁵-row offset broadcast. An explicit positive
    * width is honored unchanged (the spec's equality tests pin that the
    * output is width-INDEPENDENT — width only decomposes the scan). */
  def packSequences(docs: DataFrame, seqLen: Int = 1024,
                    shardWidth: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(shardWidth >= 0, s"shardWidth must be >= 0 (0 = auto), got $shardWidth")
    val width = if (shardWidth > 0) shardWidth else shardGroupWidth(docs.count())
    val base = docs.select(col("doc_id"), col("lang"),
      size(TextAnalysis.toks).cast("bigint").as("n_tok"),
      expr(s"doc_id div $width").as("shard"))
    val wLocal = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("local_cum", sum(col("n_tok")).over(wLocal))
    val wShard = Window.partitionBy(col("lang")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy(col("lang"), col("shard"))
      .agg(sum(col("n_tok")).as("shard_tok"))
      .withColumn("shard_off", sum(col("shard_tok")).over(wShard) - col("shard_tok"))
      .select(col("lang"), col("shard"), col("shard_off"))
    local.join(broadcast(offsets), Seq("lang", "shard"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (col("shard_off") + col("local_cum") - col("n_tok")).as("start"))
      .withColumn("seq_first", expr(s"start div $seqLen"))
      .withColumn("seq_last", expr(s"(start + greatest(n_tok, 1) - 1) div $seqLen"))
      .orderBy(col("doc_id"))
  }

  /** AUTO group width for the two-level prefix scans: `max(128, ⌈√N⌉)`.
    * Balances the decomposition — the local windows hold ≤ width rows and
    * the offsets table ⌈N/width⌉ rows, so BOTH levels are ≤ ~√N for any
    * N (the offsets broadcast at 10¹² docs is 10⁶ rows ≈ a few MB). The
    * 128 floor keeps tiny inputs on the round-8-verified decomposition.
    * One `count()` buys the bound — a metadata-cheap aggregate next to
    * the tokenization pass that follows. */
  private[graft] def shardGroupWidth(n: Long): Int =
    math.max(128L, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toLong)
      .min(Int.MaxValue.toLong).toInt

  /** Token-budget SHARD assignment — the export layout step after packing:
    * reading the corpus in doc_id order, a document belongs to shard
    * `floor(tokens_before_it / tokensPerShard)`, so every shard except the
    * last carries ≥ `tokensPerShard` whitespace tokens (a shard closes
    * when the running sum crosses its budget; the crossing document
    * overhangs into its own shard's count, the standard greedy layout).
    * [[graft.io.Export.writeShards]] turns the assignment into
    * partitioned files + a manifest.
    *
    * Scale shape: the [[packSequences]] two-level distributed prefix scan
    * without the language key — local running sums inside `shardWidth`-doc
    * id groups, group offsets via a window over ≤ docs/shardWidth rows
    * (the only unpartitioned step), offsets broadcast back. Never a
    * single-reducer global window over documents; with the default AUTO
    * width (≈ √N, [[shardGroupWidth]]) both levels stay ~√N-bounded at
    * any corpus size. */
  def tokenShards(docs: DataFrame, tokensPerShard: Long,
                  shardWidth: Int = 0,
                  // tokens already exported before this frame — the
                  // continuation offset the STREAMING export carries
                  // across micro-batches ([[graft.streaming.Streaming
                  // .streamShardExport]]); 0 for a one-shot batch export
                  baseTokens: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokensPerShard > 0, s"tokensPerShard must be positive, got $tokensPerShard")
    require(shardWidth >= 0, s"shardWidth must be >= 0 (0 = auto), got $shardWidth")
    require(baseTokens >= 0, s"baseTokens must be non-negative, got $baseTokens")
    val width = if (shardWidth > 0) shardWidth else shardGroupWidth(docs.count())
    val base = docs.select(col("doc_id"),
      size(TextAnalysis.toks).cast("bigint").as("n_tok"),
      expr(s"doc_id div $width").as("__grp"))
    val wLocal = Window.partitionBy(col("__grp")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("local_cum", sum(col("n_tok")).over(wLocal))
    val wGrp = Window.orderBy(col("__grp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy(col("__grp")).agg(sum(col("n_tok")).as("grp_tok"))
      .withColumn("grp_off", sum(col("grp_tok")).over(wGrp) - col("grp_tok"))
      .select(col("__grp"), col("grp_off"))
    local.join(broadcast(offsets), Seq("__grp"))
      .select(col("doc_id"), col("n_tok"),
        expr(s"($baseTokens + grp_off + local_cum - n_tok) div $tokensPerShard").as("shard"))
      .orderBy(col("doc_id"))
  }

  /** Training-mixture accounting per source — the data-mixing stage of
    * LLM pretraining (the temperature-scaled sampling used by multilingual
    * corpora: weight_s ∝ tokens_s^alpha, renormalized). For each source:
    * document and whitespace-token totals, the mixture weight
    * `w_s = tokens_s^alpha / Σ_t tokens_t^alpha`, and the expected number
    * of epochs over the source when a run draws `budgetTokens` by those
    * weights — the number a curator reads to spot sources a mixture will
    * over-repeat (epochs ≫ 1: memorization/diminishing-returns risk) or
    * drown out. `alpha = 1` is natural/proportional sampling, `alpha → 0`
    * approaches uniform; 0.3–0.7 are the usual rebalancing temperatures.
    *
    * Scale shape: ONE groupBy(source) aggregation (map-side combined —
    * the corpus is touched once, reducers = #sources), then the 1-row
    * denominator broadcast back onto the per-source rows (the BM25 1-row
    * corpus-stats shape). Nothing data-sized ever shuffles or reaches the
    * driver. */
  def sourceMixture(docs: DataFrame, alpha: Double = 0.5,
                    budgetTokens: Long = 10000000L): DataFrame =
    sourceMixtureFromTokenStats(sourceTokenStats(docs), alpha, budgetTokens)

  /** Mergeable per-source token evidence — `(source, docs, tokens)`, every
    * column a per-doc sum, so `merge(stats(A), stats(B)) = stats(A ∪ B)`
    * holds EXACTLY (the [[graft.operators.SourceCurate.sourceStats]]
    * mergeability argument, restricted to the two columns a mixture
    * needs). The state the incremental/streaming draw rungs accumulate. */
  def sourceTokenStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(size(TextAnalysis.toks).cast("bigint")).as("tokens"))

  /** Exact merge of [[sourceTokenStats]] tables over disjoint corpora. */
  def mergeTokenStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("source"))
      .agg(sum(col("docs")).cast("bigint").as("docs"),
        sum(col("tokens")).cast("bigint").as("tokens"))

  /** [[sourceMixture]]'s weight/epoch rule over an existing per-source
    * token-stats table — the from-stats rung: composes with
    * [[mergeTokenStats]] state (the incremental/streaming draws) and with
    * the catalog-pinned source-stats index ([[sourceMixtureIndexed]]),
    * byte-identical to the inline form over the same corpus (the rounding
    * grid is shared code). */
  def sourceMixtureFromTokenStats(per: DataFrame, alpha: Double = 0.5,
                                  budgetTokens: Long = 10000000L): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val denom = per.agg(sum(pow(col("tokens"), lit(alpha))).as("denom"))
    per.crossJoin(broadcast(denom))
      .select(col("source"), col("docs"), col("tokens"),
        round(pow(col("tokens"), lit(alpha)) / col("denom"), 6).as("weight"),
        round(pow(col("tokens"), lit(alpha)) / col("denom")
          * lit(budgetTokens.toDouble) / col("tokens"), 6).as("epochs"))
      .orderBy(col("source"))
  }

  /** [[sourceMixture]] served from the CATALOG-PINNED per-source stats
    * index ([[graft.operators.SourceCurate.sourceStatsIndex]] — its
    * `n_tokens` IS the whitespace token count the mixture weighs, so one
    * stored table feeds both the host gate and the mixture planner): the
    * corpus is never re-tokenized to re-plan a mixture at a new
    * temperature or budget — the per-call cost is a sources-sized scan.
    * Weights byte-identical to the inline form (the oracle re-derives
    * them from raw documents). */
  def sourceMixtureIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                           alpha: Double = 0.5, budgetTokens: Long = 10000000L,
                           minQuality: Double = 0.3,
                           policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame =
    sourceMixtureFromTokenStats(
      Tables.read(spark,
        s"${SourceCurate.sourceStatsIndex(spark, dir, minQuality, policy).path}/stats")
        .select(col("source"), col("n_docs").as("docs"),
          col("n_tokens").as("tokens")),
      alpha, budgetTokens)

  /** [[sourceMixture]]'s EXECUTABLE half — materialize the epoch plan:
    * each document's repetition count under the temperature-scaled
    * mixture, `floor(epochs_s)` plus one more with probability
    * `frac(epochs_s)` by the deterministic 56-bit id hash (the same
    * hash-threshold device as [[hashBucket]] splits, at full resolution).
    * Per source, Σ n_repeats·tokens then lands on `weight_s · budget` in
    * expectation with the per-doc draw reproducible across engines, runs,
    * and partitionings — the property an auditable mixture needs (a rerun
    * or a resumed job re-draws IDENTICAL repetitions). A training loader
    * consumes (doc_id, n_repeats) directly.
    *
    * Scale shape: the mixture table is sources-sized and broadcast; the
    * per-doc draw is one narrow codegen projection — the corpus is
    * touched once, nothing shuffles. Exact cross-engine: epochs is the
    * 6-dp-rounded mixture value (identical doubles), and the threshold
    * `floor(frac·2^56)` is one correctly-rounded multiply + floor on
    * identical inputs — integer comparison from there. */
  def mixtureDraw(docs: DataFrame, alpha: Double = 0.5,
                  budgetTokens: Long = 10000000L): DataFrame =
    mixtureDrawFrom(docs, sourceMixture(docs, alpha, budgetTokens))

  /** The draw tail shared by [[mixtureDraw]] (whole-corpus evidence) and
    * [[mixtureDrawIncremental]] (running evidence): per-doc repetition
    * counts from a mixture frame's `(source, epochs)` rows. NULL-source
    * docs are excluded — a mixture weight is a per-DOMAIN quantity, and
    * an unattributable doc has none (unlike the host GATE's cold-start
    * keep, there is no safe default epoch count). */
  private[graft] def mixtureDrawFrom(docs: DataFrame, mixFrame: DataFrame): DataFrame = {
    import graft.functions.LshFunctions
    val mix = mixFrame.select(col("source"), col("epochs"))
    docs.join(broadcast(mix), Seq("source"))
      .select(col("doc_id"), col("source"),
        (floor(col("epochs")).cast("bigint") +
          when(LshFunctions.hash56(col("doc_id").cast("string")) <
              floor((col("epochs") - floor(col("epochs")))
                * lit(72057594037927936.0)).cast("bigint"),
            lit(1L)).otherwise(lit(0L))).as("n_repeats"))
      .orderBy(col("doc_id"))
  }

  /** [[mixtureDraw]] on RUNNING evidence — the incremental rung: the
    * batch is drawn under the mixture computed from `tokenState`
    * ([[sourceTokenStats]] accumulated over everything seen) MERGED with
    * the batch's own stats — evidence up to and including this batch,
    * the [[graft.operators.SourceCurate.sourceFilterIncremental]]
    * first-evidence discipline applied to mixture planning. Pure given
    * (state, batch) — the streaming replay contract; with state = the
    * rest of the corpus this reproduces the batch rows of the whole-corpus
    * draw exactly (the oracle's identity). */
  def mixtureDrawIncremental(incoming: DataFrame, tokenState: DataFrame,
                             alpha: Double = 0.5,
                             budgetTokens: Long = 10000000L): DataFrame =
    mixtureDrawFrom(incoming, sourceMixtureFromTokenStats(
      mergeTokenStats(tokenState, sourceTokenStats(incoming)),
      alpha, budgetTokens))

  /** The mixture AUDIT — achieved vs planned, per source: a materialized
    * draw's repeated-token volume (`Σ n_repeats · n_tok`) against the
    * plan's target (`weight · budget`), with the achieved/target ratio.
    * The deterministic fractional draw lands each source NEAR its target
    * (the hash threshold is unbiased) but a curator publishing a mixture
    * wants the realized number, not the expectation — this is the row
    * they read. One groupBy(source) over the draw joined to per-doc token
    * counts; the plan side is sources-sized and broadcast. */
  def mixtureAudit(docs: DataFrame, alpha: Double = 0.5,
                   budgetTokens: Long = 10000000L): DataFrame = {
    val plan = sourceMixture(docs, alpha, budgetTokens)
      .select(col("source"), col("weight"))
    val drawn = mixtureDraw(docs, alpha, budgetTokens)
      .join(docs.select(col("doc_id"),
        size(TextAnalysis.toks).cast("bigint").as("n_tok")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_repeats") * col("n_tok")).cast("bigint")
        .as("achieved_tokens"))
    drawn.join(broadcast(plan), Seq("source"))
      .select(col("source"), col("achieved_tokens"),
        round(col("weight") * lit(budgetTokens.toDouble), 6).as("target_tokens"),
        round(col("achieved_tokens").cast("double")
          / (col("weight") * lit(budgetTokens.toDouble)), 6).as("fill_ratio"))
      .orderBy(col("source"))
  }

  /** Cluster-balanced (diversity) sampling over an embedding table — the
    * curation move that equalizes cluster representation instead of
    * source representation ([[sourceMixture]]'s semantic twin): assign
    * every vector to its seeded-centroid cell (the shared IVF assignment
    * contract), then keep at most `perCell` vectors per cell, chosen by
    * the deterministic id-hash order — so over-dense regions of embedding
    * space are thinned and sparse regions survive whole, and the draw is
    * reproducible across runs, engines, and partitionings (no RNG).
    * Emits an audit row per vector: (vec_id, cell, cell_rank, keep).
    *
    * Scale shape: one fused assignment pass, then ONE cell-keyed window —
    * per-partition state is the hottest cell's rows, which is exactly
    * what nCells dials (same granularity argument as
    * [[Dedup.semanticDedup]]). Nothing is collected; no global sort. */
  def cellBalancedSample(e: DataFrame, nCells: Int = 16,
                         perCell: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(perCell > 0, s"perCell must be positive, got $perCell")
    val cents = Ann.seedCentroids(e, nCells)
    val w = Window.partitionBy(col("cell"))
      .orderBy(hashBucket(col("vec_id"), 1000000), col("vec_id"))
    Ann.assignCells(e, cents)
      .select(col("vec_id"), col("cell").cast("bigint").as("cell"))
      .withColumn("cell_rank", row_number().over(w).cast("bigint"))
      .withColumn("keep", col("cell_rank") <= perCell)
      .orderBy(col("vec_id"))
  }

  /** Quality-weighted downsampling (the C4/FineWeb curation move): keep
    * probability rises with the document's quality quartile — low-quality
    * text is thinned, high-quality text survives intact — and the keep
    * decision is the deterministic id-hash bucket, not an RNG, so the
    * selection is reproducible across runs, engines, and cluster sizes.
    *
    * Quartile boundaries come from ONE exact-percentile aggregation row
    * broadcast back onto the corpus (the same 1-row-stats shape as BM25's
    * corpus statistics): no global sort, no unpartitioned window. At
    * 100 TB swap `percentile` for `percentile_approx` — identical plan,
    * sketch-sized state.
    *
    * Emits every document with its quartile and verdict (an audit row per
    * input, like [[graft.operators.CorpusFilter]]); the training pipeline
    * filters `keep` downstream. */
  def qualitySample(docs: DataFrame, keepPct: Seq[Int] = Seq(10, 25, 50, 100)): DataFrame = {
    require(keepPct.length == 4, "one keep percentage per quartile")
    val q = TextAnalysis.quality(docs).select(col("doc_id"), col("quality"))
    val th = q.agg(
      round(expr("percentile(quality, 0.25D)"), 6).as("q1"),
      round(expr("percentile(quality, 0.50D)"), 6).as("q2"),
      round(expr("percentile(quality, 0.75D)"), 6).as("q3"))
    val bin = when(col("quality") < col("q1"), lit(0L))
      .when(col("quality") < col("q2"), lit(1L))
      .when(col("quality") < col("q3"), lit(2L))
      .otherwise(lit(3L))
    val pcts = array(keepPct.map(p => lit(p.toLong)): _*)
    q.crossJoin(broadcast(th))
      .select(col("doc_id"), col("quality"), bin.as("bin"))
      .withColumn("keep",
        hashBucket(col("doc_id")) < element_at(pcts, (col("bin") + 1).cast("int")))
      .orderBy(col("doc_id"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    * each document draws key = ln(u)/w from a deterministic hash-uniform
    * u ∈ (0, 1] and weight w, and the k largest keys ARE an exact weighted
    * sample without replacement — the one-pass answer to "give me 10k
    * docs, longer/better ones proportionally more likely" that a naive
    * cumulative-weight approach needs a global prefix sum for.
    *
    * Scale shape: narrow per-row key computation, then `orderBy + limit`
    * ⇒ `TakeOrderedAndProject` — a per-partition bounded heap merged on
    * the driver (k·partitions rows), never a global sort. No RNG: u
    * derives from the md5-based [[graft.functions.LshFunctions.hash56]],
    * so membership is stable across runs, partitionings, and engines —
    * and the same keys make the sample INCREMENTALLY maintainable (a
    * streaming reservoir keeps the running top-k key set; appending a
    * batch can only replace, never reshuffle, prior members). Keys are
    * rounded to 9 dp with doc_id tie-break so both engines rank
    * identically. */
  def weightedSample(docs: DataFrame, k: Int = 200,
                     weightCol: String = "n_chars"): DataFrame = {
    val u = (graft.functions.LshFunctions.hash56(col("doc_id").cast("string"))
      .cast("double") + 1.0) / lit(7.2057594037927936e16)
    val w = greatest(col(weightCol), lit(1L)).cast("double")
    docs.select(col("doc_id"),
        greatest(col(weightCol), lit(1L)).cast("bigint").as("w"),
        round(log(u) / w, 9).as("key"))
      .orderBy(desc("key"), asc("doc_id")).limit(k)
  }

  /** Leakage-safe train/test split: assign splits by near-dup CLUSTER, not
    * by document, so a test document can never have a near-duplicate in
    * train (the classic eval-inflation leak a per-doc hash split permits —
    * two mirror copies hash independently and straddle the boundary).
    * `pairs` is any near-dup pair table (a < b) from the [[Dedup]] family;
    * documents join their connected component's min-id, and the split
    * hashes the GROUP id, so every member lands on the same side by
    * construction. Singletons hash their own id — identical to the plain
    * split for unduplicated docs.
    *
    * Scale shape: [[Dedup.dedupGroups]] over the pair graph only, then one
    * narrow split projection — no extra shuffle beyond the group join. */
  def leakSafeSplit(docs: DataFrame, pairs: DataFrame, trainPct: Int = 80): DataFrame =
    Dedup.dedupGroups(docs, pairs)
      .select(col("doc_id"), col("group_id"),
        when(hashBucket(col("group_id")) < trainPct, lit("train"))
          .otherwise(lit("test")).as("split"))
      .orderBy(col("doc_id"))

  /** Per-language split audit: row counts and token sums per (lang,
    * split) — the sanity check run before training that the split
    * proportions hold within every stratum. */
  def splitAudit(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), splitColumn("doc_id").as("split"),
        size(TextAnalysis.toks).cast("bigint").as("n_tok"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy(col("lang"), col("split"))
}
