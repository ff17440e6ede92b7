package graft

import graft.core.Tables
import graft.operators.{Ann, AsofJoin, RangeJoin, Relational, Similarity}

/** Plan-shape regression guards: these shapes ARE the scale contract the
  * operators were designed around (see PLANS.md). A refactor that silently
  * introduces a shuffle or loses a pushdown should fail here, not in a
  * production-scale run.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("topk_single: TakeOrderedAndProject, no shuffle") {
    val p = plan(Similarity.topKSingle(spark, dir, 0L, 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
  }

  test("topk_filtered: label predicate pushed into the parquet scan") {
    val p = plan(Similarity.topKFiltered(spark, dir, 0L, 10, 3))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,3)"), p)
  }

  test("ann_topk: fully narrow — no shuffle, no join") {
    val p = plan(Ann.annTopk(spark, dir, 0L, 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange") && !p.contains("Join"), s"not narrow:\n$p")
  }

  test("ann_topk_indexed: probe prunes index partitions on the bucket key") {
    val df = Ann.annTopkIndexed(spark, dir, 0L, 10)
    val p = plan(df)
    assert(p.contains("PartitionFilters") && p.contains("key#"),
      s"no partition pruning on the bucket key:\n$p")
  }

  test("ann_range: narrow threshold probe — no shuffle, no join, no global sort of data") {
    val p = plan(Ann.annRange(spark, dir, 0L, 0.2))
    // the ONLY allowed exchange is the final ORDER BY's range partitioning
    // of the (already-filtered, small) result; any hash exchange means the
    // probe itself shuffled
    val badExchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("rangepartitioning"))
      .toSeq
    assert(badExchanges.isEmpty, s"unexpected shuffle: $badExchanges\n$p")
    assert(!p.contains("Join"), s"not narrow:\n$p")
  }

  test("ivf_topk: narrow probe filter + TakeOrderedAndProject") {
    val p = plan(Ann.ivfTopk(spark, dir, 0L, 10, 8, 2))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange") && !p.contains("Join"), s"not narrow:\n$p")
  }

  test("ivf_topk_indexed: probe prunes index partitions on the cell id") {
    val p = plan(Ann.ivfTopkIndexed(spark, dir, 0L, 10, 8, 2))
    assert(p.contains("PartitionFilters") && p.contains("cell#"),
      s"no partition pruning on the cell id:\n$p")
  }

  test("ivf_topk2: fine layer reaches the plan through equi-joins, never a corpus-sized broadcast") {
    val p = plan(Ann.ivfTopk2(spark, dir, 0L, 10, 16, 4, 2, 4))
    // the hierarchical contract: the only literal is the coarse layer —
    // the fine centroids and the corpus candidates arrive via equi-joins
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("IdentityBroadcastMode"), s"corpus-sized broadcast:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[ccell#\d+""".r
      .findFirstIn(p).isDefined, s"fine layer not equi-joined on the coarse cell:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[fcell#\d+""".r
      .findFirstIn(p).isDefined, s"candidate gate not keyed on the fine cell:\n$p")
  }

  test("ivf_topk2_indexed: probe prunes index partitions on the FINE cell id") {
    val p = plan(Ann.ivfTopk2Indexed(spark, dir, 0L, 10, 16, 4, 2, 4))
    assert(p.contains("PartitionFilters") && p.contains("fcell#"),
      s"no partition pruning on the fine cell id:\n$p")
    // the probe subtree is gone entirely: candidate read is a pruned scan,
    // no join anywhere
    assert(!p.contains("Join"), s"indexed probe not narrow:\n$p")
  }

  test("page_rank_ann2 edges: ccell+fcell equi-joins, no corpus broadcast, rank limit before the exchange") {
    val p = plan(graft.operators.Centrality.annEdges2(Tables.embeddings(spark, dir)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("IdentityBroadcastMode"), s"corpus-sized broadcast:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[ccell#\d+""".r
      .findFirstIn(p).isDefined, s"fine resolution not keyed on the coarse cell:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[fcell#\d+""".r
      .findFirstIn(p).isDefined, s"candidate join not keyed on the fine cell:\n$p")
    assert(p.contains("WindowGroupLimit"), s"no partial rank limit:\n$p")
  }

  test("sim_join_topk: broadcast query side + rank limit before the exchange") {
    val p = plan(Similarity.batchSimilarityJoin(spark, dir, 8, 5))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pair-producing join:\n$p")
    // top-down string: the lines after the scoring pass are its input side
    val lines = p.linesIterator.toSeq
    val pass = lines.indexWhere(_.contains("MapPartitions"))
    assert(pass >= 0, s"no scoring pass:\n$p")
    val below = lines.drop(pass + 1)
    assert(below.exists(_.contains("Scan parquet")), s"scoring pass not fed by the scan:\n$p")
    assert(!below.exists(l => l.contains("Exchange") || l.contains("Sort")),
      s"corpus shuffled or sorted before scoring:\n$p")
    // above it: ONE hash exchange, on query_id, carrying the ≤ Q·k per-partition
    // candidates; the only other exchange is the final ORDER BY's range
    // partitioning of the ≤ Q·k result rows
    val exchanges = lines.take(pass).filter(_.contains("Exchange"))
    val hashed = exchanges.filter(_.contains("hashpartitioning"))
    assert(hashed.size == 1 && hashed.head.contains("hashpartitioning(query_id#"),
      s"candidates not shuffled once by query_id:\n$p")
    assert(exchanges.diff(hashed).forall(_.contains("rangepartitioning(query_id#")),
      s"unexpected exchange above the scoring pass:\n$p")
  }

  test("token_topk: bounded-heap k-selection, not a global vocabulary sort") {
    val p = plan(graft.operators.TextAnalysis.tokenTopK(Tables.documents(spark, dir), 20))
    assert(p.contains("TakeOrderedAndProject"), s"k-selection not a bounded heap:\n$p")
    // the ranking window must sit ABOVE the k-row limit (later line in the
    // top-down string = deeper in the plan; Window must come before
    // TakeOrderedAndProject when reading top-down)
    val lines = p.linesIterator.toSeq
    val window = lines.indexWhere(_.contains("Window"))
    val topk = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(window >= 0 && window < topk,
      s"ranking window runs below the limit (whole-vocabulary sort):\n$p")
  }

  test("pricing_summary: date cutoff pushed into the parquet scan") {
    val p = plan(Relational.pricingSummary(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("range join: bucketized EQUI-join, not a nested-loop inequality join") {
    val p = plan(RangeJoin.eventCountsInRange(Tables.events(spark, dir)))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"inequality join degenerated:\n$p")
    assert(p.contains("Join"), p)
  }

  test("as-of join: single keyed window pass, no join at all") {
    val p = plan(AsofJoin.eventsAsof(Tables.events(spark, dir)))
    assert(!p.contains("Join"), s"as-of should be join-free:\n$p")
    assert(p.contains("Window"), p)
  }

  test("top_customers: bounded-heap top-k after aggregation, customer broadcast") {
    val p = plan(Relational.topCustomers(spark, dir, 20))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not a bounded heap:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"customer dim not broadcast:\n$p")
  }

  test("shipping_priority: date cutoffs pushed into both fact scans") {
    val p = plan(Relational.shippingPriority(spark, dir))
    assert(p.contains("GreaterThan(l_shipdate"), s"lineitem cutoff not pushed:\n$p")
    assert(p.contains("LessThan(o_orderdate"), s"orders cutoff not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("anti/semi joins: hash-based existence checks, not nested loops") {
    val anti = plan(Relational.ordersWithoutLineitems(spark, dir))
    assert(anti.contains("LeftAnti"), anti)
    assert(!anti.contains("BroadcastNestedLoopJoin") && !anti.contains("CartesianProduct"), anti)
    val semi = plan(Relational.activeCustomers(spark, dir))
    assert(semi.contains("LeftSemi"), semi)
    assert(semi.contains("PushedFilters") && semi.contains("LessThan(o_orderdate"),
      s"cutoff not pushed:\n$semi")
  }

  test("revenue_by_nation: dimension joins are broadcast") {
    val p = plan(Relational.revenueByNation(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_recall: the ANN arm is a band-key EQUI-join — never a cartesian") {
    val p = plan(Ann.annRecall(spark, dir, nQueries = 4, k = 5))
    assert(!p.contains("CartesianProduct"), s"cartesian in recall audit:\n$p")
    // the exact arm scores the corpus against its broadcast query set in
    // one pass; the ANN arm hash-joins the broadcast exploded key list —
    // the corpus is never built
    assert(p.contains("BroadcastHashJoin"), s"ANN arm lost the key equi-join:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rank-limit pushdown missing:\n$p")
  }

  test("ivf_recall: candidates come from a cell equi-join on the fused assignment") {
    val df = Ann.ivfRecall(spark, dir, nQueries = 4, k = 5, nCells = 8, nProbe = 2)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in recall audit:\n$p")
    assert(p.contains("nearest_centroid"), s"fused assignment expression missing:\n$p")
    // one corpus pass: both arms are selected in a MapPartitions over the
    // scan, with no join, window or shuffle of corpus rows before it
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Window"), p)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    assert(root.collect { case m: org.apache.spark.sql.execution.MapPartitionsExec => m }
      .exists(m => m.find(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]).isDefined &&
        m.find(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]).isEmpty),
      s"no MapPartitions fed directly by the scan:\n$p")
    // one shuffle, of candidates keyed by query; the final order is local
    assert("hashpartitioning\\(query_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("rangepartitioning"), s"range exchange for <= nQueries rows:\n$p")
  }

  test("hard_negatives / knn_label_audit: rank limit runs before the exchange") {
    val e = Tables.embeddings(spark, dir)
    Seq(plan(graft.operators.Mining.hardNegatives(e, 4)),
        plan(graft.operators.EmbeddingStats.knnLabelAudit(e, k = 5))).foreach { p =>
      assert(p.contains("BroadcastNestedLoopJoin"), p) // scored pass: corpus x broadcast(anchors)
      assert(p.contains("WindowGroupLimit"), s"rank-limit pushdown missing:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("user_sequences: history cap is a WindowGroupLimit, shuffle keyed by user") {
    val p = plan(graft.operators.Sessionize.userSequences(Tables.events(spark, dir)))
    assert(p.contains("WindowGroupLimit"), s"latest-N cap lost its pushdown:\n$p")
    assert(p.contains("hashpartitioning(user_id"), s"not keyed by user_id:\n$p")
  }

  test("bigram_novelty: bounded head set broadcast-anti-joins the probe before the tail join") {
    val p = plan(graft.operators.TextAnalysis.bigramNovelty(Tables.documents(spark, dir)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise blowup in the df join:\n$p")
    // the BROADCAST side must be the bounded (<= 64k) head set, applied as
    // an ANTI join that strips the Zipf mass off the probe — broadcasting
    // the rare TAIL would OOM at web scale (most gram types are rare), and
    // an unfiltered gram-keyed shuffle join re-creates the round-7 hot-key
    // hazard. The remaining tail join may shuffle: its per-key multiplicity
    // is capped by the rank-64k df.
    assert("""BroadcastHashJoin \[g#\d+\], \[g#\d+\], LeftAnti""".r
      .findFirstIn(p).isDefined, s"head set not broadcast-anti-joined:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"head set not bounded by limit:\n$p")
  }

  test("lm_score: head of the model broadcasts; probe never shuffles on the raw token key") {
    val p = plan(graft.operators.TextAnalysis.lmCrossEntropy(Tables.documents(spark, dir)))
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    // hot tokens ("the") must meet the model map-side: the bounded head is
    // the broadcast side of a left outer join against the token stream; the
    // only BroadcastNestedLoopJoin allowed is the 1-row totals cross-join
    assert("""BroadcastHashJoin \[w#\d+\], \[w#\d+\], LeftOuter""".r
      .findFirstIn(p).isDefined, s"head model not broadcast-joined:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"head set not bounded by limit:\n$p")
  }

  test("dsir_weights: both fixed-size models broadcast; probe never shuffles on feat") {
    val p = plan(graft.operators.TextAnalysis.dsirWeights(Tables.documents(spark, dir)))
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    assert(!p.contains("SortMergeJoin"), s"model join fell back to a shuffle join:\n$p")
    // the hashed feature space bounds each model at `buckets` rows, so BOTH
    // model joins must meet the token stream map-side — no head/tail split
    // is needed and no join may shuffle on the feature key
    assert("""BroadcastHashJoin \[feat#\d+L?\], \[feat#\d+L?\], LeftOuter""".r
      .findAllIn(p).size >= 2, s"fixed-size models not broadcast-joined:\n$p")
  }

  test("lm_score_bigram: all three model joins broadcast their Zipf heads") {
    val p = plan(graft.operators.TextAnalysis.lmCrossEntropyBigram(Tables.documents(spark, dir)))
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    // unigram (cur), context (prev), bigram (prev,cur): each probe meets
    // its model head map-side; hot tokens never shuffle on a raw token key
    assert("""BroadcastHashJoin \[cur#\d+\], \[cur#\d+\], LeftOuter""".r
      .findFirstIn(p).isDefined, s"unigram head not broadcast:\n$p")
    assert("""BroadcastHashJoin \[prev#\d+\], \[prev#\d+\], LeftOuter""".r
      .findFirstIn(p).isDefined, s"context head not broadcast:\n$p")
    assert("""BroadcastHashJoin \[prev#\d+, cur#\d+\], \[prev#\d+, cur#\d+\], LeftOuter""".r
      .findFirstIn(p).isDefined, s"bigram head not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"heads not bounded by limit:\n$p")
  }

  test("source_overlap: one corpus aggregate; the pairwise stage touches only the sketch table") {
    val p = plan(graft.operators.Dedup.sourceOverlap(Tables.documents(spark, dir)))
    // the corpus side is a single source-keyed aggregation (partial
    // map-side); the inequality self-join is allowed to be a
    // BroadcastNestedLoopJoin because both sides are the sources x seeds
    // sketch table, never corpus data
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    assert("""BroadcastNestedLoopJoin BuildRight, Inner, \(source_a#\d+ < source_b#\d+\)""".r
      .findFirstIn(p).isDefined, s"pairwise stage not the bounded sketch join:\n$p")
  }

  test("dedup_semantic: pairs come from a cell equi-join, never a cross product") {
    val p = plan(graft.operators.Dedup.semanticDedup(Tables.embeddings(spark, dir)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs blowup:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell#\d+""".r
      .findFirstIn(p).isDefined, s"pair join not keyed on the cell:\n$p")
  }

  test("page_rank_ann edges: cell equi-join, no corpus-sized broadcast, rank limit before the exchange") {
    val p = plan(graft.operators.Centrality.annEdges(Tables.embeddings(spark, dir)))
    // the whole point of the ANN edge builder: nothing all-pairs — the
    // exact builder's IdentityBroadcastMode corpus broadcast must be gone
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("IdentityBroadcastMode"), s"corpus-sized broadcast:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell#\d+""".r
      .findFirstIn(p).isDefined, s"candidate join not keyed on the cell:\n$p")
    // only ≤ k·(probed cells) rows per src may reach the top-k exchange
    assert(p.contains("WindowGroupLimit"), s"no partial rank limit:\n$p")
  }

  test("dedup_spans: df join is an equi-join on the shingle hash") {
    val p = plan(graft.operators.Dedup.spanDedup(Tables.documents(spark, dir)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise blowup:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[h#\d+""".r
      .findFirstIn(p).isDefined, s"df join not keyed on the shingle hash:\n$p")
  }

  test("pack_sequences: local windows keyed by (lang, shard); offsets broadcast back") {
    val p = plan(graft.operators.Sampling.packSequences(Tables.documents(spark, dir)))
    // the corpus-sized window must partition by lang AND shard — a
    // lang-only window is the one-reducer-per-language cumsum this
    // operator exists to avoid
    assert("""hashpartitioning\(lang#\d+, shard#\d+""".r.findFirstIn(p).isDefined,
      s"local prefix window not sharded:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets join not broadcast:\n$p")
  }

  test("token_shards: corpus window keyed by the id group — never SinglePartition over documents") {
    val p = plan(graft.operators.Sampling.tokenShards(Tables.documents(spark, dir), 500L))
    // the corpus-sized window must partition by the auto-width id group;
    // the only unpartitioned window runs over the <= N/width offset rows
    assert("""hashpartitioning\(__grp#\d+""".r.findFirstIn(p).isDefined,
      s"local prefix window not grouped:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets join not broadcast:\n$p")
  }

  test("cell_sample: one window, keyed by the cell — never SinglePartition") {
    val p = plan(graft.operators.Sampling.cellBalancedSample(Tables.embeddings(spark, dir)))
    assert("""hashpartitioning\(cell#\d+""".r.findFirstIn(p).isDefined,
      s"window not keyed by cell:\n$p")
    assert(!p.contains("SinglePartition"), s"unkeyed window:\n$p")
  }

  test("source_mix: denominator is a 1-row broadcast, corpus aggregates once") {
    val p = plan(graft.operators.Sampling.sourceMixture(Tables.documents(spark, dir)))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoop"),
      s"denominator not broadcast:\n$p")
    // exactly one aggregation pass over the corpus (partial+final pairs
    // for the per-source agg and the 1-row denominator reduce)
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("attribution (batch): hash equi-join on the user key, interval as residual") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, dir)
    val p = plan(graft.streaming.Streaming.attributeClicks(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "purchase")))
    assert(p.contains("HashJoin"), s"interval join lost its equi-key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"degenerated to a pairwise time join:\n$p")
  }

  test("ppl_buckets: threshold table broadcast; bucketing never shuffles on lang") {
    val p = plan(graft.operators.TextAnalysis.perplexityBuckets(Tables.documents(spark, dir)))
    // langs x 2 doubles must meet the scored corpus map-side — a shuffled
    // lang join is the one degenerate shape this operator rules out
    assert("""BroadcastHashJoin \[lang#\d+\], \[lang#\d+\], LeftOuter""".r
      .findFirstIn(p).isDefined, s"threshold join not broadcast on lang:\n$p")
    assert(!"""SortMergeJoin \[lang#\d+\]""".r.findFirstIn(p).isDefined,
      s"shuffled lang join:\n$p")
  }

  test("token_cms: sketch broadcast to the probe; no shuffled joins anywhere") {
    val p = plan(graft.operators.TextAnalysis.tokenCms(Tables.documents(spark, dir)))
    assert(p.contains("BroadcastHashJoin"), s"sketch probe not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"sketch surfaces must stay bounded-broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not a bounded heap:\n$p")
  }

  test("bpe merge step: pure aggregation over the word table — no joins at all") {
    val p = plan(graft.operators.Bpe.pairCounts(
      graft.operators.Bpe.symbolized(Tables.documents(spark, dir))))
    assert(!p.contains("Join"), s"pair statistics must not join:\n$p")
    // one vocab-keyed agg then one pair-keyed agg: exactly two exchanges
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"pair step should shuffle exactly twice (word agg, pair agg):\n$p")
  }

  test("retention: cohort sizes broadcast onto the matrix; no cartesian") {
    val p = plan(graft.operators.Sessionize.retentionCohorts(Tables.events(spark, dir)))
    assert(p.contains("BroadcastHashJoin"), s"cohort-size join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("doremi_weights: post-scoring stages are bounded — 1-row broadcasts, no raw-token shuffle joins") {
    val p = plan(graft.operators.TextAnalysis.doremiWeights(Tables.documents(spark, dir)))
    // the corpus mean and the normalizer must be broadcast 1-row sides
    assert("BroadcastNestedLoopJoin|BroadcastExchange IdentityBroadcastMode".r
      .findFirstIn(p).isDefined, s"global stats not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("indexed incremental dedup: reference side reads the stored index, not documents") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val incoming = docs.where(graft.operators.Sampling.hashBucket(col("doc_id")) >= 50)
    // ensure both indexes exist (BuildIfMissing), then assert the probe
    // plan's reference side comes from the stored index under the catalog's
    // _indexes root: documents.parquet appears strictly FEWER times than in
    // the inline plan (only the incoming-side scans remain — 1 for exact,
    // 3 for near: shingle mine, jaccard join-back, final restore)
    def docScans(p: String) = "documents\\.parquet".r.findAllIn(p).length
    val reference = docs.where(graft.operators.Sampling.hashBucket(col("doc_id")) < 50)
    for ((probe, inline, idxKind) <- Seq(
      (() => graft.operators.Dedup.exactIncrementalIndexed(spark, dir, incoming),
        () => graft.operators.Dedup.exactIncremental(incoming, reference), "dedup-fp"),
      (() => graft.operators.Dedup.ngramNearIncrementalIndexed(spark, dir, incoming),
        () => graft.operators.Dedup.ngramNearIncremental(incoming, reference), "dedup-band"))) {
      probe().collect() // builds on first touch
      val p = plan(probe())
      assert(docScans(p) < docScans(plan(inline())),
        s"$idxKind: indexed plan still scans documents as often as inline:\n$p")
      assert(p.contains("_indexes"), s"$idxKind: stored index not in the scan path:\n$p")
    }
  }

  test("expensive-array explodes: no generate-inferred projection copy in any Filter") {
    // InferFiltersFromGenerate + pushdown once inlined the whole winnowing
    // projection into the scan Filter, where the lambda-nested window form
    // re-evaluated the O(len) hash build per position — O(len²) digests in
    // a single pre-repartition task (648 s at sf0.1; see PLANS.md). The
    // operators now use explode_outer + a null filter (which the rule
    // skips) and argument-position zip_with folds; this guard pins the
    // observable symptom — no Filter node may carry the expensive
    // expression (hash56 / a split-based gram build) in these plans.
    def filterLines(p: String) = p.linesIterator.filter(_.contains("Filter"))
    val docs = Tables.documents(spark, dir)
    val pw = plan(graft.operators.TextAnalysis.winnowPairs(docs))
    assert(!filterLines(pw).exists(_.contains("hash56")),
      s"hash56 inside a Filter — inferred generate filter is back:\n$pw")
    val pr = plan(graft.operators.TextAnalysis.repetition(docs))
    assert(!filterLines(pr).exists(_.contains("split(")),
      s"gram build inside a Filter — inferred generate filter is back:\n$pr")
    val pd = plan(graft.operators.Dedup.spanDedup(docs))
    assert(!filterLines(pd).exists(_.contains("hash56")),
      s"shingle hash inside a Filter — inferred generate filter is back:\n$pd")
  }

  test("near-dedup verify joins: shingle/signature tables are NEVER the broadcast side") {
    // Catalyst's size estimate for the shingled corpus derives from the
    // parquet scan, but the materialized hs arrays are ~8 bytes/char — in
    // round 10 it broadcast that side of the sa/sb verify joins (~240 MB
    // at sf0.1, the dominant GC cost; wrong side at ANY scale). The
    // operators pin shuffle-hash with the bounded candidate side as
    // build; this guard fails if a refactor drops the hints and the
    // estimates flip the join back.
    val docs = Tables.documents(spark, dir)
    def noBroadcastOfShingles(p: String, label: String): Unit = {
      val lines = p.linesIterator.toSeq
      lines.zipWithIndex.filter(_._1.contains("BroadcastExchange")).foreach {
        case (_, i) =>
          // the broadcast PAYLOAD is described by the immediate child op's
          // output list: an hs/sa/sb array column there means the shingle
          // sets themselves are being broadcast (band keys derived FROM hs
          // deeper in the subtree are fine — they are narrow strings)
          val child = lines.drop(i + 1).headOption.getOrElse("")
          assert(!child.contains("hs#") && !child.contains("AS sa") &&
            !child.contains("AS sb"),
            s"$label: shingle arrays in a broadcast payload:\n$child\n$p")
      }
    }
    noBroadcastOfShingles(plan(graft.operators.Dedup.ngramNear(docs)), "ngramNear")
    noBroadcastOfShingles(plan(graft.operators.Dedup.minhashNear(docs)), "minhashNear")
    val bucket = graft.operators.Sampling.hashBucket(
      org.apache.spark.sql.functions.col("doc_id"))
    noBroadcastOfShingles(plan(graft.operators.Dedup.ngramNearIncremental(
      docs.where(bucket >= 50), docs.where(bucket < 50))), "ngramNearIncremental")
    // spanDedup's df join: the distinct-shingle table must be a
    // shuffle-hash build, never broadcast (it grows with the corpus)
    val pd2 = plan(graft.operators.Dedup.spanDedup(docs))
    assert(pd2.contains("ShuffledHashJoin"),
      s"spanDedup df join lost its shuffle-hash pin:\n$pd2")
  }

  test("trimSpans: word-count shapes only — no cartesian, no corpus-wide window") {
    val p = plan(graft.operators.Dedup.trimSpans(Tables.documents(spark, dir)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // reassembly is a doc-keyed aggregation, not a global sort of tokens
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("tokenShards: the only single-partition window is over the group offsets") {
    val p = plan(graft.operators.Sampling.tokenShards(
      Tables.documents(spark, dir), 10000L))
    // local running sums are keyed by the id group; the offsets window is
    // SinglePartition but over ≤ docs/shardWidth rows by construction
    val singles = p.linesIterator.filter(_.contains("SinglePartition")).size
    assert(singles <= 2, s"unexpected single-partition stages:\n$p")
    assert(p.contains("Window"), p)
  }

  test("bitext minePairs: cell equi-join candidates, rank limits before the exchanges, no cartesian") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val p = plan(graft.operators.Bitext.minePairs(
      e.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("src_id"), col("embedding").as("src_vec")),
      e.where(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("tgt_id"), col("embedding").as("tgt_vec")),
      k = 4, tau = 1.0, nCells = 8, nProbe = 4))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"corpus×corpus not cell-blocked:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell#\d+""".r
      .findFirstIn(p).isDefined, s"candidates not keyed on the probe cell:\n$p")
    assert(p.contains("WindowGroupLimit"), s"no partial rank limit:\n$p")
  }

  test("semanticIncremental: the BATCH side broadcasts — history streams, never shuffles") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val bucket = graft.operators.Sampling.hashBucket(col("vec_id"))
    val p = plan(graft.operators.Dedup.semanticIncremental(
      e.where(bucket >= 50), e.where(bucket < 50)))
    // the corpus-hit join must be a BroadcastHashJoin building the LEFT
    // (batch) side: without the pinned direction Catalyst sort-merge-joins
    // and shuffles the whole reference per snapshot (measured 81 s vs 6 s
    // at a 10k batch / 1M reference — ScaleSmoke `semantic incr probe`)
    assert("""BroadcastHashJoin \[cell#\d+L?\], \[cell#\d+L?\], Inner, BuildLeft""".r
      .findFirstIn(p).isDefined, s"batch side not broadcast on the cell join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("semanticDedupSplit: sizes table broadcast, pairing equi-joined on (cell, band, key)") {
    val e = Tables.embeddings(spark, dir)
    val p = plan(graft.operators.Dedup.semanticDedupSplit(e, maxCell = 24))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("IdentityBroadcastMode"), s"non-equi pairing:\n$p")
    // the pair self-join keys on (cell, band, key) — the full sub-bucket
    // key in one equi-join, never a within-cell cross product
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell#\d+L?, band#\d+, key#\d+""".r
      .findFirstIn(p).isDefined, s"pairing not keyed on (cell, band, key):\n$p")
  }

  test("bitext minePairs2: ccell+fcell equi-joins, no corpus-sized broadcast or cartesian") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val p = plan(graft.operators.Bitext.minePairs2(
      e.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("src_id"), col("embedding").as("src_vec")),
      e.where(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("tgt_id"), col("embedding").as("tgt_vec")),
      k = 4, tau = 1.0, nFine = 8, nCoarse = 3, wCoarse = 2, nProbe = 4))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("IdentityBroadcastMode"), s"corpus-sized broadcast:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[ccell#\d+""".r
      .findFirstIn(p).isDefined, s"fine layer not equi-joined on the coarse cell:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[fcell#\d+""".r
      .findFirstIn(p).isDefined, s"candidates not keyed on the fine cell:\n$p")
  }

  test("bitext minePairsIncremental: the BATCH probe side broadcasts — the corpus assignment streams") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val batch = e.where(col("vec_id") % 2 === 0 &&
        graft.operators.Sampling.hashBucket(col("vec_id")) >= 50)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_vec"))
    val p = plan(graft.operators.Bitext.minePairsIncremental(
      batch, graft.operators.Bitext.tgtSide(spark, dir)))
    // the pinned-direction lesson: a filtered parquet batch is
    // size-estimated at the whole file, so without the hint Catalyst
    // sort-merge-shuffles the stored corpus per snapshot
    assert("""BroadcastHashJoin \[cell#\d+L?\], \[cell#\d+L?\], Inner, BuildLeft""".r
      .findFirstIn(p).isDefined, s"batch probe side not broadcast on the cell join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("WindowGroupLimit"), s"no partial rank limit:\n$p")
  }

  test("videoNear / videoNearHamming: frame pairing is keyed, capped, never a cartesian") {
    import org.apache.spark.sql.functions.{col, concat, length, lit, octet_length}
    val header = graft.operators.Multimodal.mp4VideoFramesHeader()
    val corpus = Tables.documents(spark, dir)
      .where(octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), concat(lit(header), col("text").cast("binary")).as("blob"))
    val pe = plan(graft.operators.Dedup.videoNear(spark, corpus))
    assert(!pe.contains("CartesianProduct") && !pe.contains("BroadcastNestedLoop"),
      s"exact frame vote not keyed on the hash:\n$pe")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[fhash#\d+""".r
      .findFirstIn(pe).isDefined, s"frames not equi-joined on fhash:\n$pe")
    val ph = plan(graft.operators.Dedup.videoNearHamming(spark, corpus, agreeBands = 2))
    assert(!ph.contains("CartesianProduct") && !ph.contains("BroadcastNestedLoop"),
      s"banded frame vote lost its bucket keying:\n$ph")
    // the constant-band guard is IN the plan: bucket size filtered to the cap
    assert(ph.contains("size(bucket"), s"bucket-size cap missing from the plan:\n$ph")
  }

  test("video bigram vote: equi-join on the (fhash, nhash) bigram key, never a nested loop") {
    import org.apache.spark.sql.functions._
    val header = graft.operators.Multimodal.mp4VideoFramesHeader()
    val corpus = Tables.documents(spark, dir)
      .where(octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), concat(lit(header), col("text").cast("binary")).as("blob"))
    val p = plan(graft.operators.Dedup.videoNearBigram(spark, corpus))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bigram vote lost its key:\n$p")
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[fhash#\d+L?, nhash#\d+""".r
      .findFirstIn(p).isDefined, s"bigrams not equi-joined on (fhash, nhash):\n$p")
  }

  test("chunk-blocked candidate expansion: work units repartition on the chunk pair, no join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one bucket above pairExplodeMax forces multi-chunk work units
    val keyed = (0 until 600).map(i => (0, 0L, i.toLong)).toDF("band", "key", "doc_id")
    val p = plan(graft.operators.Dedup.candidatePairs(
      keyed, "band", "key", "doc_id", maxBucket = 4096))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the expansion is join-free (one aggregate consumer, chunk slices
    // carried in the work-unit row itself)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"chunk expansion must not self-join:\n$p")
    // the repartition key must include gi/gj — a (band, key)-only key puts
    // a giant bucket's quadratic expansion into the partitions holding its
    // hot key
    assert("""hashpartitioning\(band#\d+, key#\d+L?, gi#\d+, gj#\d+""".r
      .findFirstIn(p).isDefined, s"chunk pair missing from the repartition key:\n$p")
    // and the expansion parallelism is PINNED against AQE byte-coalescing
    assert(p.contains("REPARTITION_BY_NUM"), s"pinned repartition missing:\n$p")
  }

  test("curate_multimodal media arms: verdicts join the text flags on doc_id, no cartesian") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val payload = expr("repeat(md5(cast(doc_id div 2 as string)), 16)").cast("binary")
    val blobs = docs.select(col("doc_id"), payload.as("blob"))
    val p = plan(graft.operators.Curate.pipelineMultimodal(spark, docs, blobs))
    assert(!p.contains("CartesianProduct"), s"cartesian in the composed frame:\n$p")
  }

  test("text treatment forms: collapse + rep mine + restore stay equi-joined, never a cartesian") {
    val docs = Tables.documents(spark, dir)
    Seq(graft.operators.Dedup.minhashDedup(docs),
        graft.operators.Dedup.ngramDedup(docs)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"treatment form lost a key:\n$p")
      // the restore is a fingerprint equi-join (fp carried as the key)
      assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[fp#\d+""".r
        .findFirstIn(p).isDefined, s"member restore not keyed on fp:\n$p")
    }
  }

  test("semanticDedupAuto saturated arm: rep mine + member restore keyed, never a nested loop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // replica corpus saturates at fanoutMax = 2 (the DedupSpec device)
    val a = Array.tabulate(64)(i => if (i < 8) 1.0 else 0.0).toSeq
    val e = ((1L to 8L).map(i => (i, a)) ++
      Seq((11L, a.updated(0, 1.0 + 1e-9)),
        (20L, Array.tabulate(64)(i => if (i >= 30 && i < 38) 1.0 else 0.0).toSeq)))
      .toDF("vec_id", "embedding")
    val p = plan(graft.operators.Dedup.semanticDedupAuto(e, fanoutMax = 2.0))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"saturated semantic arm lost a key:\n$p")
    // the member restore is hash-keyed (Catalyst may key it on the group
    // key itself or on the derived __rep — either is the equi-join
    // contract; a nested loop is the failure)
    assert("""(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[(?:embedding|__rep)#\d+""".r
      .findFirstIn(p).isDefined, s"member restore not hash-keyed:\n$p")
  }

  test("videoStillMatches: cross-side band-key equi-join, never frames x images") {
    import spark.implicits._
    val header = graft.operators.Multimodal.mp4VideoFramesHeader()
    val t = (0 until 96).map(i => ('a' + (i * 7) % 26).toChar).mkString
      .getBytes("US-ASCII")
    val videos = Seq((1L, header ++ t)).toDF("doc_id", "blob")
    val images = Seq((10L, java.util.Arrays.copyOfRange(t, 0, 32))).toDF("doc_id", "blob")
    val p = plan(graft.operators.Dedup.videoStillMatches(spark, videos, images))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"cross-modal mine lost a key:\n$p")
  }

  test("verbatimOverlap: hash-keyed co-occurrence equi-join + pair-scoped windows, never all-pairs") {
    import spark.implicits._
    val docs = Seq((1L, "q w e r t y u i o p"), (2L, "z1 z2 e r t y u i z3 z4"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.Dedup.verbatimOverlap(docs, minRunTokens = 5))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"overlap mine lost the hash key:\n$p")
    // the island window partitions by (pair, diagonal) — a corpus-global
    // window is the scale failure. An empty partition spec prints with the
    // ORDERING as the first argument (`windowspecdefinition(pa#.. ASC
    // ...`), never as empty parens, so match that shape directly.
    assert("""windowspecdefinition\(\w+#\d+L? (ASC|DESC)""".r
      .findFirstIn(p).isEmpty,
      s"global window in the island merge:\n$p")
    assert("""windowspecdefinition\(a_id#\d+L?, b_id#\d+L?, diag#\d+L?""".r
      .findFirstIn(p).isDefined, s"island window not pair-scoped:\n$p")
    // the cross-side (incremental/decontamination) merge keeps the same
    // contract: hash-keyed co-occurrence join, pair-scoped islands
    val pi = plan(graft.operators.Dedup.verbatimIncremental(
      docs.where(org.apache.spark.sql.functions.col("doc_id") === 1L),
      docs.where(org.apache.spark.sql.functions.col("doc_id") === 2L),
      minRunTokens = 5))
    assert(!pi.contains("CartesianProduct") && !pi.contains("BroadcastNestedLoop"),
      s"cross-side run merge lost the hash key:\n$pi")
    assert("""windowspecdefinition\(inc_id#\d+L?, ref_id#\d+L?, diag#\d+L?""".r
      .findFirstIn(pi).isDefined, s"cross-side island window not pair-scoped:\n$pi")
  }

  test("source_gate: the gate arms collapse into ONE per-doc scan pass (executed adaptive plan)") {
    val docs = Tables.documents(spark, dir)
    val df = graft.operators.SourceCurate.sourceGate(docs)
    // r19: with repetition fused into a narrow per-row pass
    // (WordGramStats), the quality/repetition/pii arms no longer carry an
    // aggregation barrier each — Catalyst merges all three into a SINGLE
    // scan + source-keyed aggregation. The regression this guard watches
    // for is the text being scanned/shuffled once PER ARM: pin at most
    // one text-bearing exchange (the spread) in the final adaptive plan
    // and no doc_id-keyed gate joins.
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    val spread = """Exchange RoundRobinPartitioning""".r.findAllIn(p).size
    val reused = """Reused(Exchange|QueryStage)""".r.findAllIn(p).size
    assert(spread + reused <= 2,
      s"gate arms re-spread the text per arm (spread=$spread reused=$reused):\n$p")
    val gateJoins = """SortMergeJoin \[doc_id""".r.findAllIn(p).size
    assert(gateJoins == 0,
      s"per-doc gate arms must fuse into one pass, not join on doc_id:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("budget_select: the boundary window is micro-partitioned over boundary rows only") {
    val docs = Tables.documents(spark, dir)
    val total = graft.operators.BudgetSelect.scoreHistogram(docs)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("n_tokens"))).collect()(0).getLong(0)
    val df = graft.operators.BudgetSelect.selectByBudget(docs, total / 3)
    val p = plan(df)
    // the running-prefix window must be PARTITIONED (by micro) — a
    // partitionless window is the single-task global sort this family
    // exists to avoid
    val windows = """Window \[""".r.findAllIn(p).toSeq
    assert(windows.nonEmpty, s"expected the boundary window:\n$p")
    assert("""windowspecdefinition\(micro#""".r.findFirstIn(p).isDefined,
      s"window must partition by micro:\n$p")
    // and its input is the boundary-bin FILTER, not the whole frame —
    // the micro exchange shuffles ~1/bins of the corpus
    assert("""Exchange hashpartitioning\(micro#""".r.findFirstIn(p).isDefined,
      s"boundary exchange missing:\n$p")
    assert("""\(bin#\d+L = \d+\)""".r.findFirstIn(p).isDefined,
      s"window input must be filtered to the boundary bin:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("budget_hist: one partial/final aggregation keyed by bin — shuffle is bins-sized") {
    val p = plan(graft.operators.BudgetSelect.scoreHistogram(
      Tables.documents(spark, dir)))
    assert("""HashAggregate\(keys=\[bin#""".r.findFirstIn(p).isDefined, p)
    // partial aggregation map-side: the exchange carries bin keys, so at
    // most bins x partitions rows cross the wire
    assert("""Exchange hashpartitioning\(bin#""".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("Window") && !p.contains("Join"), s"not one agg:\n$p")
  }

  test("source-partitioned scan: the gate's keep-set prunes partitions at planning time") {
    val docs = Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-srcpart-").toString + "/docs"
    graft.operators.SourceCurate.writeBySource(docs, path)
    val kept = Seq("src1", "src3", "src5")
    val df = graft.operators.SourceCurate.prunedScan(spark, path, kept)
    val p = plan(df)
    // the IN predicate must land in PartitionFilters (file pruning),
    // not as a post-scan Filter over all sources' bytes
    assert("""PartitionFilters: \[[^\]]*source""".r.findFirstIn(p).isDefined,
      s"source predicate did not reach PartitionFilters:\n$p")
    // and the pruned scan reads exactly the kept sources' rows
    assert(df.select("source").distinct().collect().map(_.getString(0)).toSet
      == kept.toSet)
  }
}
