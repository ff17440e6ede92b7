package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.{GraftDatabase, IndexPolicy, Tables}
import graft.operators.{CatalogOps, Dedup, Ingest, Multimodal, Sampling}

/** Structured Streaming surface — beyond-reference (SURVEY.md §7.5: the
  * reference is fully synchronous; streaming is engine-native surface a
  * training-data pipeline needs for continuous ingest).
  *
  * Design: the streaming transforms are the SAME logical operators as the
  * batch path — [[eventCounts]] runs identically over a batch DataFrame
  * (oracle-checkable) and a streaming one (incremental with watermark
  * state); ingest reuses the batch chunk/embed/validate pipeline per
  * micro-batch via foreachBatch, so exactly one code path owns the
  * semantics.
  */
object Streaming {

  /** Windowed event aggregation: tumbling window per event_type. On a
    * streaming input the 25h watermark bounds state; on a batch input the
    * same plan computes the full history. Window start is emitted as a
    * column so results are schema-stable across both modes. */
  def eventCounts(events: DataFrame, windowLength: String = "1 day",
                  watermark: Option[String] = Some("25 hours"),
                  approxDistinct: Boolean = true): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    // approx_count_distinct (HLL, mergeable, bounded state) is the scale
    // default; exact countDistinct only for cross-engine oracle checks
    // (HLL sketches differ between engines).
    val users =
      if (approxDistinct) approx_count_distinct(col("user_id"))
      else count_distinct(col("user_id"))
    src
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        users.as("n_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("n_users"))
  }

  /** Semi-structured enrichment: parse the `props` JSON column with an
    * explicit schema (`from_json` — a codegen'd expression, no UDF; a
    * malformed document yields NULLs, counted per type as a data-quality
    * signal) and aggregate the extracted fields per event type. Narrow
    * parse + one aggregation shuffle; runs identically over a stream
    * (with watermark) or batch history like [[eventCounts]]. */
  def propsStats(events: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    events
      // from_json is an interpreted (non-codegen) Jackson parse — the most
      // expensive narrow stage here. Pinned repartition so it runs on every
      // core even when the source is a single-split file (at production
      // scale the split count supplies this parallelism for free).
      .repartition(events.sparkSession.sparkContext.defaultParallelism, col("user_id"))
      .withColumn("k", from_json(col("props"), schema).getField("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_parsed"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** One closed user session: contiguous activity with < `gap` between
    * consecutive events. */
  final case class UserSession(user_id: Long, n_events: Int,
                               start: Timestamp, end: Timestamp)

  /** Internal per-user session accumulator (public: encoders codegen
    * against it). */
  final case class SessionState(n: Int, start: Long, last: Long)

  /** Custom streaming state via flatMapGroupsWithState: gap-based
    * sessionization per user. A session closes when the user is silent for
    * `gapMinutes` (event-time timeout keyed off the watermark), emitting one
    * row per closed session. State is one small struct per active user —
    * bounded, watermark-evicted; the canonical shape for custom streaming
    * aggregation the built-in windowed operators can't express. */
  def sessionize(events: Dataset[(Long, Timestamp)], gapMinutes: Int = 30,
                 watermark: String = "1 hour"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    events.toDF("user_id", "ts")
      .withWatermark("ts", watermark)
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId, s.n, new Timestamp(s.start), new Timestamp(s.last)))
          } else {
            val sorted = rows.map(_._2.getTime).toSeq.sorted
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(n = s.n + 1, last = t))
                case Some(s) =>
                  closed ::= UserSession(userId, s.n, new Timestamp(s.start), new Timestamp(s.last))
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exact]]: drop any record whose content
    * fingerprint was already seen, with the fingerprint state bounded by
    * the watermark horizon (`dropDuplicatesWithinWatermark` keeps one
    * state row per fingerprint and evicts it once the watermark passes —
    * without the watermark bound, a dedup stream's state grows without
    * limit). The fingerprint is the same sha256 the batch operator and the
    * exact-dedup oracle use, so a record admitted here is exactly one the
    * batch pipeline would have kept. */
  def dedupStream(records: DataFrame, textCol: String = "text",
                  tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    records
      .withColumn("fp", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-stream attribution join: every (user, purchase) paired with
    * ALL of that user's clicks inside the trailing attribution window —
    * the interval-join twin of the as-of join
    * ([[graft.operators.AsofJoin]] keeps only the LAST click; attribution
    * models weight every touch). One function serves both modes, the
    * batch/stream unification contract of this module: with
    * `watermark = None` it is the batch query the DuckDB oracle checks
    * (`attribution`); with a watermark it is a genuine stream-stream
    * inner join.
    *
    * Scale shape: the join keys on user_id (one hash shuffle per side —
    * at 100 TB the classic keyed co-partition), and in stream mode the
    * time-interval predicate plus BOTH watermarks let Spark derive state
    * eviction: each side buffers only (watermark delay + attribution
    * window) of events per user, so state is bounded no matter how long
    * the streams run — an interval condition without watermarks would
    * buffer both streams forever. */
  def attributeClicks(clicks: DataFrame, purchases: DataFrame,
                      attributionHours: Int = 24,
                      watermark: Option[String] = None): DataFrame = {
    val c0 = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p0 = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
    val c = watermark.fold(c0)(w => c0.withWatermark("click_ts", w))
    val p = watermark.fold(p0)(w => p0.withWatermark("purchase_ts", w))
    c.join(p,
        col("c_user") === col("p_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $attributionHours HOURS"),
        "inner")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"), col("value"))
  }

  /** Stream-static similarity enrichment: a stream of query vectors
    * (`query_id`, `query_vec`) scored per micro-batch against the static
    * embedding corpus, emitting each query's exact top-k. The scoring is
    * the SAME operator as the batch path
    * ([[graft.operators.Similarity.similarityJoin]]): the micro-batch is
    * collected and broadcast as the query block, the corpus is scored in
    * one pass and never shuffles, each corpus partition keeps only k
    * candidates per query, and the rank limit bounds the output at k rows
    * per query. */
  def streamSimilarity(queryStream: DataFrame, corpus: DataFrame, k: Int,
                       checkpointDir: String)(sink: DataFrame => Unit): StreamingQuery =
    eachBatch(queryStream, checkpointDir) { (batch, _) =>
      sink(graft.operators.Similarity.similarityJoin(corpus, batch, k))
    }

  /** The micro-batch sink contract every `foreachBatch` stream here runs
    * under: checkpointed at `checkpointDir`, triggered `AvailableNow`
    * (drain what is available, then stop), and an EMPTY micro-batch is
    * skipped before `body` runs — no sink call, state write or listing
    * happens for it. `body` gets the batch and its id; per-batch state
    * goes through the batch-state store ([[appendBatchState]]). */
  private def eachBatch(stream: DataFrame, checkpointDir: String)
                       (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) body(batch, batchId)
      }
      .start()

  /** Continuous DEDUPED collection ingest — [[streamIngest]] with the
    * per-batch admission decided by
    * [[graft.operators.Dedup.exactIncremental]] against the collection's
    * CURRENT contents: a chunk whose text already lives in the collection
    * (from an earlier batch, or an earlier row of this batch) is silently
    * dropped rather than erred — the idempotent sink an at-least-once
    * upstream (re-crawls, replayed topics) needs. Idempotence covers BOTH
    * identity axes: already-stored ids are dropped even when re-delivered
    * with changed text, and in-batch id repeats collapse deterministically
    * — otherwise a replay would make the catalog's duplicate-id validation
    * throw and permanently poison the checkpointed batch. Composition of
    * existing operators end-to-end: incremental dedup decides, the batch
    * ingest pipeline embeds and appends.
    *
    * Scale shape: per micro-batch, one fingerprint hash join of the batch
    * against the collection's distinct-fingerprint set and one append —
    * the collection is never rewritten and never shuffled beyond the
    * distinct aggregation ([[graft.operators.Dedup.exactIncremental]]'s
    * scaladoc: at warehouse scale that distinct-fp side is a maintained
    * index, not a recompute).
    *
    * Concurrency contract: ONE deduped sink per collection. The
    * existing-contents snapshot and the admission decision run outside the
    * collection's mutation lock (the lock guards only the append), so two
    * concurrent deduped sinks feeding the same collection can both snapshot
    * before either appends and admit the same text under different ids —
    * text-level idempotence holds only against content visible at snapshot
    * time. The checkpoint already implies this topology (two sinks sharing
    * a checkpoint dir is a Spark error); cross-sink text dedup, if ever
    * needed, is the periodic batch [[graft.operators.Dedup.exact]] pass. */
  def streamIngestDeduped(db: GraftDatabase, collectionId: String, chunks: DataFrame,
                          embedderId: String, checkpointDir: String): StreamingQuery =
    eachBatch(chunks, checkpointDir) { (batch, _) =>
      // persisted for the batch: `existing` (the collection scan — the
      // side that grows without bound) is consumed by three subplans
      // (id anti-join, fingerprint index, addRecords' own dup check)
      // and `uniq` by two; uncached, each consumer re-scans parquet.
      // At warehouse scale the persisted existing IS the maintained
      // dedup index the exactIncremental scaladoc describes.
      val existing = db.records(collectionId)
        .select(col("id"), decode(col("blob"), "UTF-8").as("chunk")).persist()
      // idempotence needs BOTH axes deduped, or a replay poisons the
      // checkpoint (addRecords throws, every restart replays the same
      // batch): ids — collapse in-batch repeats deterministically
      // (min chunk) and left-anti away ids already stored, even under
      // changed text; texts — the incremental dedup admits only
      // corpus-fresh, batch-first content
      val uniq = batch.groupBy(col("id")).agg(min(col("chunk")).as("chunk"))
        .join(existing.select(col("id")), Seq("id"), "left_anti").persist()
      // embed ONCE: the isEmpty probe and addRecords share this cache;
      // addRecords reads a caller-persisted batch as given (its
      // one-evaluation contract) instead of caching it a second time
      val records = Ingest.makeRecords(batch.sparkSession,
        uniq.join(
          Dedup.exactIncremental(uniq, existing, idCol = "id", textCol = "chunk")
            .where(col("keep")).select(col("id")),
          Seq("id"), "left_semi"),
        embedderId).persist()
      try {
        if (!records.isEmpty) db.addRecords(collectionId, records)
      } finally {
        records.unpersist(); uniq.unpersist(); existing.unpersist()
      }
    }

  /** Continuous NEAR-dedup admission gate: per micro-batch, (1) mine
    * near-dup pairs WITHIN the batch and keep one representative per
    * family ([[graft.operators.Dedup.ngramNear]] + `resolveKeepers` — an
    * at-least-once source replays and re-crawls near-identical pages
    * inside one batch too), then (2) check survivors against the
    * CATALOG-MANAGED stored shingle index of the reference corpus
    * ([[graft.operators.Dedup.ngramNearIncrementalIndexed]]) and hand only
    * corpus-fresh documents to `sink`. The gate itself is STATELESS given
    * the index — restart replays produce identical admissions (same index
    * version, same batch ⇒ same verdicts), so the checkpoint alone gives
    * idempotent delivery to an idempotent sink.
    *
    * The index is resolved per batch under `policy` (default
    * [[graft.core.IndexPolicy.FailIfMissing]]: an admission gate should
    * never silently pay a full history re-shingle — build the index
    * explicitly, or pass BuildIfMissing in tests). Index maintenance is
    * the orchestrator's: admitted batches do NOT update the index
    * (near-dup admission within the stream's own history is the in-batch
    * mine; cross-batch stream self-dedup belongs to the periodic batch
    * pass, exactly like [[streamIngestDeduped]]'s contract).
    *
    * Scale shape per batch: the in-batch mine is the banded equi-join on
    * batch-sized input; the index probe is O(batch) — band keys equi-join
    * the stored tiny bands table, shingle sets decode only for matched
    * candidates. Nothing scans, shuffles, or rewrites history. */
  def streamNearDedupAdmit(spark: SparkSession, dir: String, docs: DataFrame,
                           checkpointDir: String,
                           refBucketMax: Int = 100, // whole corpus — the oracle's 50-bucket split is a test device
                           n: Int = 8, seeds: Int = 12, bands: Int = 4,
                           jaccardThreshold: Double = 0.5,
                           policy: IndexPolicy = IndexPolicy.FailIfMissing)
                          (sink: DataFrame => Unit): StreamingQuery =
    indexedTextGate(spark, dir, docs, checkpointDir, policy,
        Dedup.ngramBandIndexName(refBucketMax, n))(
      batch => Dedup.ngramNear(batch, n = n, seeds = seeds, bands = bands,
        jaccardThreshold = jaccardThreshold),
      kept => Dedup.ngramNearIncrementalIndexed(spark, dir, kept,
        refBucketMax = refBucketMax, n = n, seeds = seeds, bands = bands,
        jaccardThreshold = jaccardThreshold, policy = policy))(sink)

  /** The shared per-batch body of the index-backed text gates
    * ([[streamNearDedupAdmit]], [[streamSigDedupAdmit]],
    * [[streamVerbatimDedupAdmit]]): `inBatchPairs` mines the batch and
    * `resolveKeepers` keeps one representative per family; `indexedAdmit`
    * judges those keepers against the stored index (its `keep` column);
    * the admitted documents go to `sink`; then [[vacuumIfRebuilt]]. */
  private def indexedTextGate(spark: SparkSession, dir: String, docs: DataFrame,
                              checkpointDir: String, policy: IndexPolicy,
                              indexName: String)
                             (inBatchPairs: DataFrame => DataFrame,
                              indexedAdmit: DataFrame => DataFrame)
                             (sink: DataFrame => Unit): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, _) =>
      def keep(rows: DataFrame, verdicts: DataFrame): DataFrame =
        rows.join(verdicts.where(col("keep")).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      val batchKept = keep(batch, Dedup.resolveKeepers(batch, inBatchPairs(batch)))
      sink(keep(batchKept, indexedAdmit(batchKept)))
      vacuumIfRebuilt(spark, dir, policy, indexName)
    }

  /** Under RebuildIfStale a long-running gate replaces its index whenever
    * the corpus fingerprint moves, and rebuilds never delete (buildIndex
    * retains superseded versions for in-flight readers) — so without GC
    * the gate accumulates one full index copy per rebuild, unbounded.
    * Called after the sink has consumed the batch (this batch only ever
    * read the CURRENT version — a rebuild this batch means the probe
    * resolved the new one); the gate vacuums ITS OWN index name only:
    * other indexes on the database keep their quiet-window vacuum
    * contract. */
  private def vacuumIfRebuilt(spark: SparkSession, dir: String,
                              policy: IndexPolicy, indexName: String): Unit =
    if (policy == IndexPolicy.RebuildIfStale)
      CatalogOps.indexRegistry(spark, dir).vacuumIndex(indexName)

  /** [[streamNearDedupAdmit]]'s SIGNATURE-ONLY twin: the same two-stage
    * admission (in-batch near-dedup, then admission against the stored
    * history index) with the MinHash agreeing-seed estimate as the
    * verify on both stages — per-batch cost and stored-index footprint
    * are signature-sized (`seeds` longs per doc), never shingle-sized.
    * The gate for throughput-bound ingest where the near-dup decision
    * tolerates the ±1/√seeds estimator error; swap in
    * [[streamNearDedupAdmit]] when the boundary must be exact-Jaccard.
    * Same statelessness/replay contract and RebuildIfStale self-vacuum. */
  def streamSigDedupAdmit(spark: SparkSession, dir: String, docs: DataFrame,
                          checkpointDir: String,
                          refBucketMax: Int = 100,
                          shingleSize: Int = 3, seeds: Int = 12, bands: Int = 6,
                          estThreshold: Double = 0.5,
                          policy: IndexPolicy = IndexPolicy.FailIfMissing)
                         (sink: DataFrame => Unit): StreamingQuery =
    indexedTextGate(spark, dir, docs, checkpointDir, policy,
        Dedup.wordSigIndexName(refBucketMax, shingleSize))(
      batch => Dedup.minhashNearApprox(batch, shingleSize = shingleSize,
        seeds = seeds, bands = bands, estThreshold = estThreshold),
      kept => Dedup.minhashNearIncrementalApproxIndexed(spark, dir, kept,
        refBucketMax = refBucketMax, shingleSize = shingleSize,
        seeds = seeds, bands = bands, estThreshold = estThreshold,
        policy = policy))(sink)

  /** [[streamNearDedupAdmit]]'s RUN-LENGTH twin — the verbatim admission
    * gate: per micro-batch, (1) in-batch verbatim dedup (documents sharing
    * a ≥ `minRunTokens` contiguous token run collapse to the smallest id
    * via [[graft.operators.Dedup.verbatimOverlap]] + `resolveKeepers`),
    * then (2) admission against the STORED positional-posting index
    * ([[graft.operators.Dedup.verbatimIncrementalIndexed]]) — the gate
    * that refuses documents QUOTING the seen corpus at length, which the
    * signature gates provably wave through (a long quote inside an
    * otherwise-fresh document moves Jaccard a few percent). Same
    * statelessness contract as the other text gates: GIVEN the index the
    * batch decision is pure, so commit-crash replay re-admits
    * byte-identical rows; FailIfMissing is the production default (a
    * stream consumes an orchestrated index, never races one into
    * existence); RebuildIfStale self-vacuums ONLY its own index name. */
  def streamVerbatimDedupAdmit(spark: SparkSession, dir: String, docs: DataFrame,
                               checkpointDir: String,
                               refBucketMax: Int = 100,
                               shingleSize: Int = 5, minRunTokens: Int = 20,
                               policy: IndexPolicy = IndexPolicy.FailIfMissing)
                              (sink: DataFrame => Unit): StreamingQuery =
    indexedTextGate(spark, dir, docs, checkpointDir, policy,
        Dedup.verbatimPosIndexName(refBucketMax, shingleSize))(
      batch => Dedup.verbatimOverlap(batch, shingleSize = shingleSize,
        minRunTokens = minRunTokens),
      kept => Dedup.verbatimIncrementalIndexed(spark, dir, kept,
        refBucketMax = refBucketMax, shingleSize = shingleSize,
        minRunTokens = minRunTokens, policy = policy))(sink)

  /** Continuous DECONTAMINATION gate — the [[streamVerbatimDedupAdmit]]
    * shape pointed at the EVAL suite: per micro-batch every incoming doc
    * probes the stored eval-slice posting index
    * ([[graft.operators.Dedup.decontaminateRunsIndexed]]'s table — a
    * benchmark suite is a fixed artifact, shingled once at registration)
    * and is REFUSED when it verbatim-contains a ≥ `minRunTokens` run of
    * any eval document (the GPT-3 13-gram collision rule as an admission
    * policy: contaminated data never enters the training store, instead
    * of being audited out later). Admitted rows go to `sink`; refused
    * rows go to `rejects` WITH their attribution (`max_run_tokens`,
    * `n_eval_hits`) — the forensics a curator re-tunes the rule from.
    *
    * No train-bucket cut: a stream's every incoming doc is a training
    * candidate (the bucket split is the batch pipeline's device). Same
    * statelessness contract as the other index gates: GIVEN the index the
    * batch decision is pure, so commit-crash replay re-admits
    * byte-identical rows; FailIfMissing is the production default;
    * RebuildIfStale self-vacuums only its own index name.
    *
    * Scale shape per batch: the eval posting table is benchmark-sized
    * (bounded); the batch side shingles once and streams through one hash
    * equi-join + (pair, diagonal) islands — never batch × eval. */
  def streamDecontamAdmit(spark: SparkSession, dir: String, docs: DataFrame,
                          checkpointDir: String,
                          evalFromPct: Int = 90,
                          shingleSize: Int = 5, minRunTokens: Int = 13,
                          // ignore eval-suite template boilerplate (the
                          // decontaminateRuns maxEvalDf cut) — without it a
                          // benchmark's repeated prompt format refuses every
                          // doc that shares the FORMAT, not the content
                          maxEvalDf: Int = 0,
                          policy: IndexPolicy = IndexPolicy.FailIfMissing)
                         (sink: DataFrame => Unit,
                          rejects: DataFrame => Unit = _ => ()): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, _) =>
      val audit = Dedup.decontamAuditAgainstIndex(
          spark, dir, batch, shingleSize, minRunTokens, evalFromPct,
          policy, maxEvalDf)
        // both routes consume the audit (the streamQualityAdmit
        // discipline); the runs re-mine otherwise
        .persist()
      try {
        sink(batch.join(
          audit.where(!col("contaminated")).select(col("doc_id")),
          Seq("doc_id"), "left_semi"))
        rejects(audit.where(col("contaminated")))
      } finally audit.unpersist(false)
      vacuumIfRebuilt(spark, dir, policy, Dedup.evalPosIndexName(evalFromPct, shingleSize))
    }

  /** Continuous quality-admission gate: per micro-batch, run the
    * [[graft.operators.CorpusFilter.decisions]] audit (heuristic quality ∧
    * non-repetition ∧ no-PII ∧ in-batch exact dedup) on the batch and
    * route — documents with `kept` to `sink`, the rest (with their full
    * per-gate audit row) to `rejects`, the quarantine stream a curation
    * pipeline keeps for gate forensics. Batches need (doc_id, text, lang).
    *
    * The gate is STATELESS per batch — every arm is a pure function of
    * the batch (the dedup arm collapses exact copies WITHIN the batch
    * only), so a replayed batch reproduces its admissions exactly and the
    * checkpoint alone gives idempotent delivery to idempotent sinks.
    * Corpus-level axes stack downstream: the stored-index near-dup gate
    * is [[streamNearDedupAdmit]], collection-contents exact dedup is
    * [[streamIngestDeduped]] — this gate is the cheap first stage that
    * keeps obvious garbage out of both.
    *
    * Scale shape per batch: quality/repetition/PII are narrow per-row
    * projections; the only shuffles are the batch-sized exact-dedup
    * fingerprint aggregation and the audit-join on doc_id. */
  def streamQualityAdmit(docs: DataFrame, checkpointDir: String,
                         minQuality: Double = 0.3)
                        (sink: DataFrame => Unit,
                         rejects: DataFrame => Unit = _ => ()): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, _) =>
      val audit = graft.operators.CorpusFilter
        .decisions(batch, minQuality)
        // both routes consume the audit; the arms re-run otherwise
        .persist()
      try {
        sink(batch.join(audit.where(col("kept")).select(col("doc_id")),
          Seq("doc_id"), "left_semi"))
        rejects(audit.where(!col("kept")))
      } finally audit.unpersist(false)
    }

  /** Continuous SOURCE-gate admission — the host-level door
    * ([[graft.operators.SourceCurate]]'s streaming rung): per micro-batch
    * the gate judges each source on its RUNNING evidence (accumulated
    * per-source stats state merged with the batch's own stats — evidence
    * up to and including this batch) and routes the batch's documents —
    * kept-source docs to `sink`, blocked-source docs to `rejects` WITH
    * the source's full verdict row (shares + per-rule booleans), the
    * attribution a curator re-tunes host thresholds from.
    *
    * State is the per-source mergeable stats table — bounded by the
    * NUMBER OF SOURCES, not documents (the smallest state of any gate
    * here); merging is exact ([[graft.operators.SourceCurate
    * .mergeSourceStats]]), so after any batching the accumulated state
    * equals `sourceStats(everything seen)` byte-for-byte — the identity
    * SourceCurateSpec pins. Decisions are a pure function of (state
    * strictly below, batch) — the batch-state store's replay discipline
    * ([[appendBatchState]]).
    *
    * DECLARED first-evidence semantics: a source is judged on what has
    * arrived so far, so its early documents can be admitted while the
    * full-corpus gate would block the source (and a source can flip to
    * blocked mid-stream as evidence accumulates — the spec pins both).
    * That is the honest streaming reading of a host gate: the published
    * pipelines' host verdicts also move between crawl snapshots; batch
    * re-audits reconcile history ([[graft.operators.SourceCurate
    * .sourceFilter]] over the stored corpus). */
  def streamSourceGateAdmit(docs: DataFrame, path: String,
                            checkpointDir: String,
                            minQuality: Double = 0.3,
                            minAvgQuality: Double = 0.2,
                            maxRepetitiveShare: Double = 0.5,
                            maxPiiShare: Double = 0.5,
                            minDocs: Long = 5L,
                            compactEvery: Int = 16)
                           (sink: DataFrame => Unit,
                            rejects: DataFrame => Unit = _ => ()): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val S = graft.operators.SourceCurate
      val batchStats = S.sourceStats(batch, minQuality)
        // two consumers (running merge + state write) — one compute
        .persist()
      try {
        val running = readBatchState(batch.sparkSession, s"$path/_srcstats", batchId)
          .fold(batchStats)(st => S.mergeSourceStats(st, batchStats))
        val verdict = S.sourceGateFromStats(running, minAvgQuality,
            maxRepetitiveShare, maxPiiShare, minDocs)
          .persist()
        try {
          // anti-join against BLOCKED sources (≡ semi-join against kept
          // for attributed docs, since every seen source gets exactly
          // one verdict) so NULL-source docs take the cold-start keep
          // — the [[graft.operators.SourceCurate.sourceFilter]] rule —
          // instead of vanishing from both sink and rejects
          sink(batch.join(
            verdict.where(!col("keep")).select(col("source")),
            Seq("source"), "left_anti"))
          rejects(batch.select(col("doc_id"), col("source"))
            .join(verdict.where(!col("keep")), Seq("source")))
        } finally verdict.unpersist(false)
        appendBatchState(batchStats, s"$path/_srcstats", batchId, compactEvery)
      } finally batchStats.unpersist(false)
    }

  /** Streaming token-budget admission — [[graft.operators.BudgetSelect]]'s
    * running-evidence rung: each micro-batch's documents are scored once
    * (batch-sized cost) and admitted iff their quality bin clears the
    * threshold derived from the RUNNING score histogram (accumulated
    * state MERGED with the batch's own — evidence up to and including
    * this batch, the [[streamSourceGateAdmit]] first-evidence
    * discipline). State is the ≤1001-bin histogram — the smallest
    * streaming state in the repo, bounded a priori regardless of stream
    * length; the per-batch cost is the batch's one quality scan plus a
    * bins-sized merge.
    *
    * Budget semantics, DECLARED: with `keepPct` set, the budget is that
    * fraction of the tokens SEEN SO FAR (the DCLM top-X% posture,
    * streamed — the threshold converges to the whole-corpus cut as
    * evidence lands); otherwise `budgetTokens` is an absolute target and
    * the threshold RATCHETS upward as accumulated evidence outgrows it.
    * Admission is bin-granular ([[graft.operators.BudgetSelect
    * .selectIncremental]]'s declared rule: a doc-level boundary prefix
    * needs a total order over all history, which an unbounded stream
    * cannot replay) and first-evidence: early admissions under a looser
    * threshold stay admitted. Decisions are PURE given (state, batch);
    * stats write after the sink, and replay follows the batch-state
    * store ([[appendBatchState]]) — StreamingSpec pins replay and state ≡
    * scoreHistogram(seen) byte-for-byte. */
  def streamBudgetAdmit(docs: DataFrame, path: String, checkpointDir: String,
                        budgetTokens: Long = Long.MaxValue,
                        keepPct: Option[Int] = None,
                        compactEvery: Int = 16)
                       (sink: DataFrame => Unit,
                        rejects: DataFrame => Unit = _ => ()): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val B = graft.operators.BudgetSelect
      // scored once; three consumers (batch hist, admit, reject)
      val sc = B.scored(batch).localCheckpoint()
      val batchHist = B.histogramOf(sc)
        // two consumers (running merge + state write) — one compute
        .persist()
      try {
        val running = readBatchState(batch.sparkSession, s"$path/_bhist", batchId)
          .fold(batchHist: DataFrame)(st => B.mergeHistograms(st, batchHist))
          .persist()
        try {
          val budget = keepPct.fold(budgetTokens) { pct =>
            val total = running.agg(sum(col("n_tokens")).cast("bigint"))
              .collect()(0) match {
              case r if r.isNullAt(0) => 0L
              case r                  => r.getLong(0)
            }
            total * pct / 100L
          }
          val (t, _) = B.thresholdOf(running, budget)
          sink(batch.join(
            sc.where(col("bin") > t).select(col("doc_id")),
            Seq("doc_id"), "left_semi"))
          rejects(batch.select(col("doc_id"))
            .join(sc.where(col("bin") <= t)
              .select(col("doc_id"), col("quality"), col("bin")), Seq("doc_id")))
        } finally running.unpersist(false)
        appendBatchState(batchHist, s"$path/_bhist", batchId, compactEvery)
      } finally batchHist.unpersist(false)
    }

  /** Continuous mixture planning — [[graft.operators.Sampling.mixtureDraw]]'s
    * streaming twin: each micro-batch's documents get their deterministic
    * repetition counts under the temperature mixture computed from RUNNING
    * per-source token evidence (accumulated [[graft.operators.Sampling
    * .sourceTokenStats]] state merged with the batch's own stats — evidence
    * up to and including this batch, the [[streamSourceGateAdmit]]
    * first-evidence discipline applied to mixture planning). State is
    * bounded by the NUMBER OF SOURCES; the per-batch cost is the batch's
    * one token aggregation plus a sources-sized merge.
    *
    * DECLARED first-evidence semantics: early batches are drawn under the
    * mixture of what has arrived so far, so a source's epoch rate drifts
    * toward its whole-corpus value as evidence lands (with state = the
    * rest of the corpus the batch rows equal the batch pipeline's draw
    * exactly — the [[graft.operators.Sampling.mixtureDrawIncremental]]
    * identity StreamingSpec pins). Stats are written FIRST; the store's
    * strictly-below reads ([[appendBatchState]]) keep a replayed batch
    * from self-inflating its evidence, so it re-draws identically. */
  def streamMixtureDraw(docs: DataFrame, path: String, checkpointDir: String,
                        alpha: Double = 0.5, budgetTokens: Long = 10000000L,
                        compactEvery: Int = 16)
                       (sink: DataFrame => Unit): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val batchStats = Sampling.sourceTokenStats(batch)
        // two consumers (running merge + state write) — one compute
        .persist()
      try {
        appendBatchState(batchStats, s"$path/_mixstats", batchId, compactEvery)
        val running = readBatchState(batch.sparkSession, s"$path/_mixstats", batchId)
          .fold(batchStats: DataFrame)(st => Sampling.mergeTokenStats(st, batchStats))
        sink(Sampling.mixtureDrawFrom(batch,
          Sampling.sourceMixtureFromTokenStats(running, alpha, budgetTokens)))
      } finally batchStats.unpersist(false)
    }

  /** Streaming snapshot diff — [[graft.operators.SnapshotDiff]]'s
    * per-batch rung: the NEW snapshot arrives as micro-batches and each
    * arriving document is judged against the STORED snapshot's hash
    * table (`oldHashes`, [[graft.operators.SnapshotDiff.contentHashes]]
    * of the previous crawl — static for the run, the narrow table a
    * broadcast or sort-merge join handles at any corpus size). The
    * verdict is PURE given (oldHashes, batch) — added/changed/unchanged
    * with both hashes, exactly [[graft.operators.SnapshotDiff
    * .corpusDiffFromHashes]] restricted to the batch's ids — so replay
    * identity is free (StreamingSpec pins batch-union ≡ batch diff).
    *
    * DECLARED close semantics: `removed` is a snapshot-CLOSE fact (a doc
    * is removed only when the whole new snapshot has arrived and it
    * never did), so no per-batch row can carry it. The stream
    * accumulates each batch's id set in the standard committed batch
    * state (`_seenids/b<id>` dirs, compacted); when the snapshot is
    * complete, [[snapshotRemoved]] reads the committed ids once and
    * anti-joins the stored hashes — old-side text never read, state
    * id-sized. Redelivered ids are harmless there (anti-join). */
  def streamSnapshotDiff(docs: DataFrame, oldHashes: DataFrame, path: String,
                         checkpointDir: String, compactEvery: Int = 16)
                        (sink: DataFrame => Unit): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      appendBatchState(batch.select(col("doc_id")), s"$path/_seenids", batchId,
        compactEvery)
      // left (not full-outer) join: absent-from-batch old docs are
      // not this batch's business — removed is the close's fact
      sink(graft.operators.SnapshotDiff
        .corpusDiffFromHashes(oldHashes, batch)
        .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .orderBy(col("doc_id")))
    }

  /** The snapshot-CLOSE step for [[streamSnapshotDiff]]: every stored
    * doc whose id never arrived in a committed batch — `(doc_id, status
    * = removed, old_hash)`. One anti-join of the narrow hash table
    * against the committed id state. */
  def snapshotRemoved(spark: SparkSession, path: String,
                      oldHashes: DataFrame): DataFrame = {
    val seen = readBatchState(spark, s"$path/_seenids", Long.MaxValue)
      .getOrElse(spark.range(0).select(col("id").as("doc_id")))
    oldHashes.join(seen.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("removed").as("status"),
        col("content_hash").as("old_hash"))
      .orderBy(col("doc_id"))
  }

  /** Continuous weighted-reservoir maintenance: a streaming (doc_id,
    * weight) source folds into a persisted k-row Efraimidis–Spirakis
    * sample — per micro-batch, prior reservoir ∪ batch → dedup by doc_id
    * (max weight wins deterministically, so an at-least-once redelivery
    * cannot double-enter a document) →
    * [[graft.operators.Sampling.weightedSample]]. Because the A-Res key
    * is a pure row function, the maintained reservoir is EXACTLY the
    * batch answer over everything ever streamed (the reservoir identity
    * SamplingSpec pins), and replaying a batch is a no-op — the sample is
    * exactly-once-equivalent under at-least-once delivery with no
    * dedup state beyond the k rows themselves.
    *
    * Persistence follows the index layout's written-last discipline:
    * each update writes a fresh `v<batchId>` parquet dir, then swaps the
    * tiny `_latest` marker; a crash between the two leaves the prior
    * marker valid, and a reader that finds no marker falls back to the
    * highest committed version. Scale: the reservoir is k rows by
    * construction — the collect is bounded, the per-batch cost is the
    * batch's narrow key projection + a k-bounded heap. */
  def streamWeightedReservoir(docs: DataFrame, k: Int, reservoirPath: String,
                              checkpointDir: String,
                              weightCol: String = "n_chars",
                              retainVersions: Int = 1): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val prior = readReservoir(spark, reservoirPath)
        .map(_.select(col("doc_id"), col("w").as(weightCol)))
        .getOrElse(Seq.empty[(Long, Long)].toDF("doc_id", weightCol))
      val merged = Sampling.weightedSample(
        batch.select(col("doc_id"), col(weightCol).cast("bigint").as(weightCol))
          .unionByName(prior)
          .groupBy(col("doc_id")).agg(max(col(weightCol)).as(weightCol)),
        k, weightCol)
      val rows = merged.collect() // bounded: k rows by construction
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      commitVersion(rows.toDF("doc_id", "w", "key"), reservoirPath, batchId,
        retainVersions)
    }

  /** The committed reservoir, or None before the first commit: the
    * `_latest` marker's version, falling back to the highest version dir
    * with a `_SUCCESS` commit if the marker is missing (crash window).
    * Retention contract: a resolved DataFrame stays readable only while
    * the writer commits fewer than its `retainVersions` (default 1)
    * further micro-batches — consume promptly, or raise the writer's
    * `retainVersions` for readers that lag. */
  def readReservoir(spark: SparkSession, reservoirPath: String): Option[DataFrame] =
    readLatestVersion(spark, reservoirPath)

  /** Continuous token-budget shard export — the streaming half of
    * [[graft.io.Export.writeShards]]: each micro-batch's documents are
    * assigned to shards CONTINUING the global running token count
    * ([[graft.operators.Sampling.tokenShards]] with `baseTokens` = the
    * cumulative total committed by prior batches) and appended as
    * `b<batchId>/shard=<k>/` files, so a pretraining reader sees one
    * ever-growing budget-sharded corpus across the life of the stream.
    *
    * Exactly-once-equivalence under at-least-once delivery, by
    * construction: (1) batch files land in a PER-BATCH directory written
    * with overwrite — a replayed batch replaces its own files, never
    * appends beside them; (2) the cumulative count is versioned state
    * read at the STRICT PREDECESSOR of the current batch id — a replay
    * cannot see the total its own failed attempt committed, so it
    * re-derives identical shard ids. `retainVersions` ≥ 1 keeps the
    * predecessor alive through the commit (the [[commitVersion]] crash
    * window); read the export back with [[readShardExport]]. */
  def streamShardExport(docs: DataFrame, path: String, checkpointDir: String,
                        tokensPerShard: Long,
                        retainVersions: Int = 1): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val prev = tokensBelow(batch.sparkSession, path, batchId)
      val assigned = Sampling.tokenShards(batch, tokensPerShard, baseTokens = prev)
      Tables.write(batch.join(assigned.select(col("doc_id"), col("shard")), Seq("doc_id")))
        .mode("overwrite").partitionBy("shard")
        .parquet(batchDir(path, batchId))
      commitTokens(assigned, prev, path, batchId, retainVersions)
    }

  /** The running token count committed by batches STRICTLY BELOW
    * `batchId` (the versioned `path/_state`), 0 before the first. */
  private def tokensBelow(spark: SparkSession, path: String, batchId: Long): Long =
    readVersionBelow(spark, s"$path/_state", batchId)
      .map(_.head().getLong(0)).getOrElse(0L)

  /** Commits `prev` plus the tokens of this batch's `assigned` shard rows
    * as version `batchId` of `path/_state`. */
  private def commitTokens(assigned: DataFrame, prev: Long, path: String,
                           batchId: Long, retainVersions: Int): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val batchTok = assigned.agg(coalesce(sum(col("n_tok")), lit(0L)))
      .head().getLong(0)
    commitVersion(Seq(prev + batchTok).toDF("cum_tokens"),
      s"$path/_state", batchId, retainVersions)
  }

  /** Streaming curation END-TO-END — [[graft.operators.Curate.pipeline]]
    * as a continuous sink: per micro-batch, every gate verdict
    * ([[graft.operators.CorpusFilter.decisions]]), the near-dup keeper
    * (in-batch signature mine + signature-only admission against the
    * ACCUMULATED cross-batch state), decontamination against the FIXED
    * `evalDocs` benchmark suite, the deterministic id-hash split, and the
    * token-budget shard CONTINUING the global running count — one
    * decision frame per batch under `path/b<id>`, readable as one corpus
    * via [[readCurate]].
    *
    * Batch ≡ stream: over any corpus streamed in doc_id-ORDERED batches,
    * the union of per-batch decision frames equals
    * `Curate.pipeline(corpus, approxNear = true)` with the same
    * parameters (StreamingSpec pins agreement and crash-replay identity).
    * The near arm decomposes exactly: any corpus pair (a < b) is found
    * either in b's own batch (in-batch mine, lower id keeps) or when b's
    * batch is admitted against the state that already holds a's signature
    * — which is why the state stores EVERY seen doc's signature, kept or
    * not (a rejected near-dup must still suppress its later copies, as it
    * does in the batch mine). Under UNORDERED arrival the gate degrades
    * to first-arrival-wins — the standard streaming-dedup semantics, no
    * longer the batch frame's lowest-id-wins.
    *
    * Exactly-once-equivalence under at-least-once delivery: every piece
    * of state — decisions, signatures, fingerprints, the cumulative token
    * count — follows the batch-state store's replay discipline
    * ([[appendBatchState]]); without the strictly-below reads a replayed
    * batch would self-match its failed attempt's signatures and reject
    * everything.
    *
    * Scale shape per batch: the arms' documented shapes on batch-sized
    * inputs; the cross-batch admission shuffles signature-sized rows only
    * (`seeds`×8 B per seen doc — the index-footprint argument of
    * [[graft.operators.Dedup.minhashNearIncrementalApproxIndexed]]). */
  def streamCurate(docs: DataFrame, evalDocs: DataFrame, path: String,
                   checkpointDir: String,
                   minQuality: Double = 0.3, tokensPerShard: Long = 10000L,
                   trainPct: Int = 80, benchFromPct: Int = 90,
                   shingleSize: Int = 3, seeds: Int = 12, bands: Int = 6,
                   estThreshold: Double = 0.5,
                   retainVersions: Int = 1,
                   compactEvery: Int = 16,
                   // run-rule decontamination arm — the streamed twin of
                   // Curate.pipeline(runDecontam = true)
                   runDecontam: Boolean = false,
                   // warehouse dir whose catalog-pinned eval posting index
                   // the run arm probes per micro-batch instead of
                   // re-shingling `evalDocs` every batch (the batch
                   // pipeline's evalIndexDir twin — one stored table, both
                   // frames; `evalDocs` is ignored by the run arm when
                   // set). Replay contract unchanged: given the stored
                   // index the batch decision is pure
                   evalIndexDir: Option[String] = None,
                   evalIndexPolicy: IndexPolicy = IndexPolicy.BuildIfMissing,
                   // HOST-level arm — the streamed twin of
                   // Curate.pipeline(sourceGate = true): per batch the
                   // source verdict comes from RUNNING evidence (the
                   // streamSourceGateAdmit state, accumulated under this
                   // sink's own path), so a single-batch stream equals
                   // the batch frame row-for-row while a multi-batch one
                   // carries the DECLARED first-evidence semantics — an
                   // early doc can be admitted where the full-corpus gate
                   // blocks its source (StreamingSpec pins both)
                   sourceGate: Boolean = false,
                   minAvgQuality: Double = 0.2): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      curateBatch(batch, evalDocs, path, batchId, minQuality,
        tokensPerShard, trainPct, benchFromPct, shingleSize, seeds,
        bands, estThreshold, retainVersions, compactEvery,
        mediaOk = None, runDecontam = runDecontam,
        evalIndexDir = evalIndexDir, evalIndexPolicy = evalIndexPolicy,
        sourceGate = sourceGate, minAvgQuality = minAvgQuality)
    }

  /** Streaming MULTIMODAL curation — [[graft.operators.Curate
    * .pipelineMultimodal]] as a continuous sink, closing the round-14
    * residual (the batch frame composed the media gate; the streamed
    * frame was text-only with [[streamMediaDedupAdmit]] running BESIDE
    * it, not inside the one decision frame). `docs` carries a nullable
    * `blob` column beside the text: per micro-batch every blob dispatches
    * on its header ([[graft.operators.Multimodal.modalityUdf]] — the
    * batch pipeline's exact convention) and each family's slice runs the
    * SAME per-batch admit logic as its standalone gate (literally the
    * shared functions) against family-scoped state under
    * `path/media/{image,audio,video}`; the verdict lands as `media_ok` in
    * the decision frame BEFORE the shard scan, so a media-dropped doc
    * never consumes shard budget — exactly the batch composition. No-blob
    * docs and non-media bytes' pass-throughs are vacuously media-clean.
    *
    * Batch ≡ stream: over any corpus streamed in doc_id-ORDERED batches
    * the union of per-batch frames equals
    * `Curate.pipelineMultimodal(corpus, blobs, approxNear = true)`
    * (StreamingSpec pins it row-for-row, with commit-crash replay
    * identity) — the media arm decomposes exactly as the near arm does:
    * an in-batch duplicate loses to the treatment form's in-batch
    * verdict, a cross-batch one to the family state that already holds
    * the earlier copy's signature. Replay/state discipline is inherited
    * unchanged from [[streamCurate]] (text) and the family gates
    * (media); a crash between family writes leaves the committed
    * families tainting — the [[streamMediaDedupAdmit]] argument. */
  def streamCurateMultimodal(docs: DataFrame, evalDocs: DataFrame,
                             path: String, checkpointDir: String,
                             minQuality: Double = 0.3,
                             tokensPerShard: Long = 10000L,
                             trainPct: Int = 80, benchFromPct: Int = 90,
                             shingleSize: Int = 3, seeds: Int = 12,
                             bands: Int = 6, estThreshold: Double = 0.5,
                             imgBands: Int = 8, maxHamming: Int = 6,
                             agreeBands: Int = 2,
                             windowSamples: Int = 16, hop: Int = 4,
                             audioMaxBytes: Int = 1 << 20, maxDt: Int = 8,
                             fanout: Int = 3, audioMinVotes: Int = 5,
                             keyPeaks: Int = 2,
                             maxFrames: Int = 16, videoMaxBytes: Int = 1 << 20,
                             videoMinVotes: Int = 3,
                             retainVersions: Int = 1,
                             compactEvery: Int = 16,
                             crossModal: Boolean = false,
                             crossModalStills: Option[DataFrame] = None): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      // each family's keepers + its own yields-no-verdict pass-through,
      // which is exactly the batch frame's vacuous-clean set
      val (typed, famAdmitted0) = mediaAdmitBatch(batch, s"$path/media",
        batchId, imgBands, maxHamming, agreeBands, windowSamples, hop,
        audioMaxBytes, maxDt, fanout, audioMinVotes, keyPeaks, maxFrames,
        videoMaxBytes, videoMinVotes, compactEvery)
      // the CROSS-MODAL arm: batch videos probed against stills. Both
      // hash tables are READ BACK from the state dirs the family gates
      // just wrote for this batch (b{batchId} survives compaction —
      // only ids < batchId compact; overwrite-mode makes a replayed
      // batch's read consistent), instead of re-running imagePHash /
      // videoFrameHashes on the batch slices — the second full
      // blob-decode pass per modality per micro-batch the r15 advice
      // flagged, and the recompute cost the batch frame's boundary
      // hunt measured dominant (584.7 s vs 202.9 s at 250k).
      //
      // Still source: `crossModalStills` (a catalog-pinned still-hash
      // index — [[graft.operators.Dedup.videoStillMatchesIndexed]]'s
      // table) makes the arm ORDER-INDEPENDENT by construction: the
      // stills are a build-time fact, so the verdict no longer depends
      // on whether images arrive before their matching videos. Absent
      // an index, the arm probes the image gate's accumulated state
      // (strictly below this batch) plus this batch's image hashes —
      // the batch frame drops a video on ANY corpus still; the
      // streamed frame reproduces it exactly whenever no matching
      // still arrives in a LATER batch than its video (the media
      // gates' ordered-arrival caveat, cross-modal edition).
      val famAdmitted =
        if (!crossModal) famAdmitted0
        else {
          val batchFrames =
            Tables.read(spark, batchDir(s"$path/media/video/_fr", batchId))
          val stills = crossModalStills match {
            case Some(idx) => idx.select(col("phash"))
            case None =>
              val batchImg =
                Tables.read(spark, batchDir(s"$path/media/image/_ph", batchId))
                  .select(col("phash"))
              readBatchState(spark, s"$path/media/image/_ph", batchId)
                .fold(batchImg)(st => batchImg.unionByName(st.select(col("phash"))))
          }
          val xm = Dedup.videoStillMatchesAgainst(batchFrames, stills)
          famAdmitted0.join(xm, Seq("doc_id"), "left_anti")
        }
      val mediaOk = typed.where(col("__mod") =!= "none")
        .select(col("doc_id"))
        .join(famAdmitted.select(col("doc_id"), lit(true).as("__adm"))
          .distinct(), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__adm"), lit(false)).as("media_ok"))
      curateBatch(batch.drop("blob"), evalDocs, path, batchId, minQuality,
        tokensPerShard, trainPct, benchFromPct, shingleSize, seeds,
        bands, estThreshold, retainVersions, compactEvery,
        mediaOk = Some(mediaOk))
    }

  /** One micro-batch of [[streamCurate]] / [[streamCurateMultimodal]]:
    * the full text decision frame (gates, cross-batch exact + near
    * dedup, decontamination, split, global-count shards), with
    * `mediaOk` — when present — joined as the `media_ok` gate column
    * (absent doc_id → vacuously true) and added to the `kept`
    * conjunction BEFORE the shard scan. */
  private def curateBatch(batch: DataFrame, evalDocs: DataFrame, path: String,
                          batchId: Long, minQuality: Double,
                          tokensPerShard: Long, trainPct: Int,
                          benchFromPct: Int, shingleSize: Int, seeds: Int,
                          bands: Int, estThreshold: Double,
                          retainVersions: Int, compactEvery: Int,
                          mediaOk: Option[DataFrame],
                          runDecontam: Boolean = false,
                          evalIndexDir: Option[String] = None,
                          evalIndexPolicy: IndexPolicy = IndexPolicy.BuildIfMissing,
                          sourceGate: Boolean = false,
                          minAvgQuality: Double = 0.2): Unit = {
    val spark = batch.sparkSession
    // host-arm reuse (r17 advice, the batch pipeline(sourceGate) fix's
    // streaming twin): with the source gate on, the per-doc gate scans
    // also feed the per-source evidence — run them ONCE as a measures
    // frame (spread first if the micro-batch arrived narrow, the
    // sourceStats discipline; per-batch localCheckpoint = the stream's
    // materialization boundary) and derive both consumers from it.
    val measures = if (!sourceGate) None else Some {
      val spreadN = spark.sparkContext.defaultParallelism
      val b = if (batch.rdd.getNumPartitions < spreadN)
        batch.repartition(spreadN) else batch
      graft.operators.CorpusFilter.decisionsWithMeasures(b, minQuality)
        .join(b.select(col("doc_id"), col("source")), Seq("doc_id"))
        .localCheckpoint(false)
    }
    val gates = measures.fold(
        graft.operators.CorpusFilter.decisions(batch, minQuality)
          .drop("kept"))(
        _.select(col("doc_id"), col("quality_ok"), col("repetition_ok"),
          col("pii_ok"), col("dedup_ok")))
    // cross-batch EXACT dedup: the in-batch min-id keeper in `gates`
    // only sees its own batch; a copy of an earlier batch's doc must
    // lose its dedup_ok exactly as the corpus-wide window drops it
    val fpOk = readBatchState(spark, s"$path/_fps", batchId) match {
      case Some(prior) =>
        batch.select(col("doc_id"), sha2(col("text"), 256).as("fp"))
          .join(prior.select(col("fp"), lit(false).as("__hit")).distinct(),
            Seq("fp"), "left")
          .select(col("doc_id"), coalesce(col("__hit"), lit(true)).as("__fp_ok"))
      case None => batch.select(col("doc_id"), lit(true).as("__fp_ok"))
    }
    val inKeep = Dedup.resolveKeepers(batch,
        Dedup.minhashNearApprox(batch, shingleSize = shingleSize,
          seeds = seeds, bands = bands, estThreshold = estThreshold))
      .select(col("doc_id"), col("keep").as("__in_ok"))
    val crossKeep = readBatchState(spark, s"$path/_sigs", batchId) match {
      case Some(state) =>
        Dedup.sigIncrementalAgainstState(batch, state,
            shingleSize = shingleSize, seeds = seeds, bands = bands,
            estThreshold = estThreshold)
          .select(col("doc_id"), col("keep").as("__x_ok"))
      case None => batch.select(col("doc_id"), lit(true).as("__x_ok"))
    }
    // both arms are stateless given evalDocs — or given the STORED eval
    // index when evalIndexDir is set (the replay contract either way); the
    // run arm is the batch pipeline(runDecontam = true)'s rule — a doc
    // clean by vocabulary overlap can verbatim-contain an eval passage —
    // and with the index it probes the registry-pinned postings instead of
    // re-shingling the eval corpus every micro-batch
    val deco = (if (runDecontam) evalIndexDir match {
        case Some(d) => Dedup.decontaminateRunsIndexed(spark, d, batch,
          trainPct = trainPct, evalFromPct = benchFromPct,
          policy = evalIndexPolicy)
        case None => Dedup.decontaminateRunsAgainst(
          batch, evalDocs, trainPct = trainPct)
      } else graft.operators.Decontaminate
        .contaminationAgainst(batch, evalDocs, trainPct = trainPct))
      .select(col("doc_id"), (!col("contaminated")).as("__dc"))
    val bucket = graft.operators.Sampling.hashBucket(col("doc_id"))
    val textFlags = batch.select(col("doc_id"), bucket.as("__b"))
      .join(gates, Seq("doc_id"))
      .join(fpOk, Seq("doc_id"))
      .join(inKeep, Seq("doc_id"))
      .join(crossKeep, Seq("doc_id"))
      .join(deco, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_ok"), col("repetition_ok"),
        col("pii_ok"), (col("dedup_ok") && col("__fp_ok")).as("dedup_ok"),
        (col("__in_ok") && col("__x_ok")).as("near_ok"),
        coalesce(col("__dc"), lit(true)).as("decontam_ok"), col("__b"))
    // HOST-level arm (the batch pipeline(sourceGate = true) twin): each
    // source judged on RUNNING evidence — accumulated per-source stats
    // state merged with this batch's own (written FIRST so the persisted
    // frame is materialized once; reads stay strictly below batchId, so a
    // replayed batch overwrites its own stats and never self-inflates)
    val withSource = if (!sourceGate) textFlags else {
      val S = graft.operators.SourceCurate
      val batchStats =
        S.sourceStatsFromMeasures(measures.get, minQuality).persist()
      appendBatchState(batchStats, s"$path/_srcstats", batchId, compactEvery)
      val running = readBatchState(spark, s"$path/_srcstats", batchId)
        .fold(batchStats: DataFrame)(st => S.mergeSourceStats(st, batchStats))
      val verdict = S.sourceGateFromStats(running, minAvgQuality)
        .select(col("source"), col("keep").as("__src"))
      val perDoc = batch.select(col("doc_id"), col("source"))
        // left + coalesce: NULL-source docs take the cold-start keep
        // (the [[graft.operators.SourceCurate.sourceFilter]] rule)
        .join(verdict, Seq("source"), "left")
        .select(col("doc_id"),
          coalesce(col("__src"), lit(true)).as("source_ok"))
        // sources-sized verdict resolved NOW so batchStats can release
        // after this batch instead of leaking into the stream's lifetime
        .localCheckpoint(false)
      perDoc.count()
      batchStats.unpersist(false)
      textFlags.join(perDoc, Seq("doc_id"))
    }
    val gateCols = Seq("quality_ok", "repetition_ok", "pii_ok",
      "dedup_ok", "near_ok", "decontam_ok") ++
      (if (sourceGate) Seq("source_ok") else Nil) ++
      (if (mediaOk.isDefined) Seq("media_ok") else Nil)
    val withMedia = mediaOk match {
      case Some(m) =>
        withSource.join(m.withColumnRenamed("media_ok", "__m"), Seq("doc_id"), "left")
          .withColumn("media_ok", coalesce(col("__m"), lit(true))).drop("__m")
      case None => withSource
    }
    // the Curate.pipeline materialization boundary, per batch: the
    // flags frame has two consumers (kept-train shard scan + final)
    val flags = withMedia
      .withColumn("kept", gateCols.map(col).reduce(_ && _))
      .localCheckpoint(false)
    val prev = tokensBelow(spark, path, batchId)
    val assigned = Sampling.tokenShards(
      batch.join(flags.where(col("kept") && col("__b") < trainPct)
          .select(col("doc_id")), Seq("doc_id"), "left_semi"),
      tokensPerShard, baseTokens = prev)
    Tables.write(flags.join(assigned.select(col("doc_id"), col("shard")), Seq("doc_id"), "left")
      .select(col("doc_id") +: gateCols.map(col) :+
        col("kept") :+
        when(!col("kept"), lit(null).cast("string"))
          .when(col("__b") < trainPct, lit("train"))
          .when(col("__b") < benchFromPct, lit("val"))
          .otherwise(lit("bench")).as("split") :+
        when(col("kept") && col("__b") < trainPct, col("shard"))
          .otherwise(lit(null).cast("bigint")).as("shard"): _*))
      .mode("overwrite").parquet(batchDir(path, batchId))
    appendBatchState(Dedup.wordSignatures(batch, shingleSize = shingleSize, seeds = seeds),
      s"$path/_sigs", batchId, compactEvery)
    appendBatchState(batch.select(sha2(col("text"), 256).as("fp")).distinct(),
      s"$path/_fps", batchId, compactEvery)
    commitTokens(assigned, prev, path, batchId, retainVersions)
  }

  /** Streaming IMAGE-dedup admission gate — the continuous twin of
    * [[graft.operators.Dedup.imageDedup]]: per micro-batch, in-batch
    * perceptual-hash components elect keepers (exact-grid collapse +
    * band-subset Hamming mine + min-label components), and whole in-batch
    * CLUSTERS are rejected when ANY member's hash sits within
    * `maxHamming` of the accumulated cross-batch state. The cluster-level
    * taint (not per-doc) is what preserves transitivity: a batch doc can
    * be chained to history only THROUGH a same-batch near-dup (c—b in
    * batch, b—a in state, c far from a); testing members individually
    * would re-admit c. Under doc_id-ordered arrival the admitted set
    * equals `imageDedup(corpus).where(keep)` exactly (StreamingSpec pins
    * an engineered chain); unordered arrival degrades to
    * first-arrival-wins.
    *
    * State: distinct phashes of EVERY seen doc (admitted or not — a
    * rejected near-dup must still suppress later copies), one long per
    * distinct grid, under the batch-state store's replay discipline
    * ([[appendBatchState]]). */
  def streamImageDedupAdmit(docs: DataFrame, path: String, checkpointDir: String,
                            bands: Int = 8, maxHamming: Int = 6,
                            agreeBands: Int = 2, compactEvery: Int = 16)
                           (sink: DataFrame => Unit): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      sink(batch.join(imageAdmitBatch(batch, path, batchId,
        bands, maxHamming, agreeBands, compactEvery), Seq("doc_id"), "left_semi"))
    }

  /** One micro-batch of [[streamImageDedupAdmit]]: returns the admitted
    * doc ids and writes/compacts this batch's `_ph` state — shared
    * verbatim with [[streamMediaDedupAdmit]]'s image arm. */
  private def imageAdmitBatch(batch: DataFrame, path: String, batchId: Long,
                              bands: Int, maxHamming: Int, agreeBands: Int,
                              compactEvery: Int): DataFrame = {
    val spark = batch.sparkSession
    val hashed = Multimodal.imagePHash(spark, batch).localCheckpoint(false)
    val groups = Dedup.imageDedup(spark, batch,
      bands = bands, maxHamming = maxHamming, agreeBands = agreeBands)
    val admitted = untaintedKeepers(groups,
      readBatchState(spark, s"$path/_ph", batchId).map(state =>
        Dedup.imageMatchesAgainst(hashed, state, bands, maxHamming, agreeBands)))
    // EAGERLY materialize before touching state: the caller's sink runs
    // after this function writes + compacts, and a lazy admit plan still
    // references the pre-compaction b-dirs — at the first compaction
    // boundary the deferred read hits deleted files (caught by the 50-batch
    // ScaleSmoke run: FAILED_READ_FILE at batch 16, the first compaction)
    val pinned = admitted.localCheckpoint(true)
    appendBatchState(hashed.select(col("phash")).distinct(), s"$path/_ph",
      batchId, compactEvery)
    pinned
  }

  /** Cluster-level taint shared by the image, audio and video gates: the
    * in-batch keepers of `groups` (doc_id, group_id, keep), minus every
    * group with ANY member among `hits` (doc ids matching cross-batch
    * state; None when there is no state yet). Tainting whole groups, not
    * single docs, is what keeps a chain c—b (in batch), b—a (in state)
    * rejected even when c is far from a. */
  private def untaintedKeepers(groups: DataFrame,
                               hits: Option[DataFrame]): DataFrame =
    hits.fold(groups.where(col("keep")).select(col("doc_id"))) { h =>
      val taintedGroups = h.join(groups, Seq("doc_id"))
        .select(col("group_id")).distinct()
      groups.where(col("keep"))
        .join(taintedGroups, Seq("group_id"), "left_anti")
        .select(col("doc_id"))
    }

  /** Streaming AUDIO-dedup admission gate — the continuous twin of
    * [[graft.operators.Dedup.audioDedup]], completing the modality matrix
    * (text exact/near/signature gates, image gate, this): per micro-batch,
    * in-batch envelope-collapse + landmark-vote components elect keepers,
    * and whole in-batch clusters are rejected when ANY member either
    * landmark-votes ≥ `minVotes` against the accumulated cross-batch state
    * or repeats a seen envelope verbatim (the exact arm — a copy too short
    * or too flat to carry `minVotes` of landmark evidence still suppresses
    * byte-identical replays). Cluster-level taint preserves transitivity,
    * exactly as [[streamImageDedupAdmit]] argues. NON-WAV rows pass
    * through untouched: an audio gate has no verdict on text or images —
    * composition with the other gates is the pipeline's job.
    *
    * State per batch: landmark rows of every seen WAV doc (admitted or
    * not — ≤ peaks·fanout bounded rows/doc) in `_lm`, distinct envelope
    * strings (budget-bounded fingerprints) in `_env`; both kept in the
    * batch-state store ([[appendBatchState]]). Under
    * doc_id-ordered arrival the admitted WAV set equals
    * `audioDedup(corpus).where(keep)`; unordered arrival degrades to
    * first-arrival-wins with the same invariants the image gate pins.
    *
    * `keyPeaks` is deliberately a SETUP-TIME dial here, not the per-batch
    * self-dial the batch forms got ([[graft.operators.Dedup
    * .audioDedupAuto]]): the cross-batch arm joins incoming landmarks
    * against ACCUMULATED state rows, so every batch must extract
    * landmarks under the SAME key shape — pair rows (`lc = dt2 = 0`) and
    * triple rows never vote against each other, and a mid-stream switch
    * would silently blind the gate to everything admitted before it.
    * Like `cents` on the semantic gate (and the PQ gate's codebook), the
    * dial is stream-constant by contract: run [[graft.operators.Dedup
    * .landmarkKeyAudit]] on a representative corpus BEFORE launching and
    * pick `keyPeaks` from the measured saturation — the audit is the
    * setup-time decision for streams, the per-mine decision for batch. */
  def streamAudioDedupAdmit(docs: DataFrame, path: String, checkpointDir: String,
                            windowSamples: Int = 16, hop: Int = 4,
                            maxBytes: Int = 1 << 20, maxDt: Int = 8,
                            fanout: Int = 3, minVotes: Int = 5,
                            compactEvery: Int = 16, keyPeaks: Int = 2)
                           (sink: DataFrame => Unit): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      sink(batch.join(audioAdmitBatch(batch, path, batchId,
        windowSamples, hop, maxBytes, maxDt, fanout, minVotes,
        compactEvery, keyPeaks), Seq("doc_id"), "left_semi"))
    }

  /** One micro-batch of [[streamAudioDedupAdmit]]: returns the admitted
    * doc ids (keepers plus the non-WAV pass-through) and writes/compacts
    * this batch's `_lm`/`_env` state — shared verbatim with
    * [[streamMediaDedupAdmit]]'s audio arm. */
  private def audioAdmitBatch(batch: DataFrame, path: String, batchId: Long,
                              windowSamples: Int, hop: Int, maxBytes: Int,
                              maxDt: Int, fanout: Int, minVotes: Int,
                              compactEvery: Int, keyPeaks: Int): DataFrame = {
    val spark = batch.sparkSession
    val lm = Multimodal.audioLandmarks(spark, batch,
      windowSamples = windowSamples, hop = hop, maxBytes = maxBytes,
      maxDt = maxDt, fanout = fanout, keyPeaks = keyPeaks)
      .localCheckpoint(false)
    val env = Multimodal.audioEnvelope(spark, batch,
      windowSamples = windowSamples, maxBytes = maxBytes, hop = hop)
      .select(col("doc_id"), col("env")).localCheckpoint(false)
    val groups = Dedup.audioDedup(spark, batch,
      windowSamples = windowSamples, hop = hop, maxBytes = maxBytes,
      maxDt = maxDt, fanout = fanout, minVotes = minVotes,
      keyPeaks = keyPeaks)
    // a crash between the two state writes may leave one side a batch
    // ahead — a missing side is EMPTY state, not no-state, so the
    // committed side still taints
    val keepers = untaintedKeepers(groups,
      (readBatchState(spark, s"$path/_lm", batchId),
        readBatchState(spark, s"$path/_env", batchId)) match {
        case (None, None) => None
        case (stLm, stEnv) => Some(Dedup.crossMatches(lm, env,
          stLm.getOrElse(lm.limit(0)),
          stEnv.getOrElse(env.select(col("env")).limit(0)),
          Dedup.landmarkKey, "ta", "env", minVotes))
      })
    // pass-through: rows with no envelope are not audio
    val admitted = keepers.unionByName(
      batch.select(col("doc_id"))
        .join(env.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      // eager: pin the admit rows BEFORE compaction deletes the b-dirs the
      // lazy plan reads (see imageAdmitBatch)
      .localCheckpoint(true)
    appendBatchState(lm, s"$path/_lm", batchId, compactEvery)
    appendBatchState(env.select(col("env")).distinct(), s"$path/_env",
      batchId, compactEvery)
    admitted
  }

  /** Streaming VIDEO-dedup admission gate — the continuous twin of
    * [[graft.operators.Dedup.videoDedup]], giving the video modality its
    * OWN gate (until now video blobs rode the image gate's first-sample
    * hash, which the multi-frame work showed a re-cut copy escapes). Per
    * micro-batch: in-batch [[graft.operators.Dedup.videoDedup]] keepers;
    * whole in-batch clusters rejected when ANY member either frame-VOTES
    * ≥ `minVotes` against accumulated cross-batch frame state (the
    * [[graft.operators.Dedup.videoNear]] offset vote — a re-cut copy of
    * a seen video still taints) or repeats a seen frame-hash FINGERPRINT
    * verbatim (the exact arm — a clip with fewer than `minVotes` frames
    * carries too little vote evidence, but its re-mux is still a
    * duplicate; [[streamAudioDedupAdmit]]'s two-arm argument verbatim).
    * Cluster-level taint preserves transitivity; non-MP4 rows (and
    * containers yielding no frame) pass through — composition with the
    * other gates is the pipeline's job.
    *
    * State per batch: ≤ `maxFrames` frame-hash rows per seen video in
    * `_fr`, distinct fingerprints in `_fp` — signature-sized both, kept
    * in the batch-state store ([[appendBatchState]]). Pixels never enter
    * state. */
  def streamVideoDedupAdmit(docs: DataFrame, path: String, checkpointDir: String,
                            maxFrames: Int = 16, maxBytes: Int = 1 << 20,
                            minVotes: Int = 3, compactEvery: Int = 16)
                           (sink: DataFrame => Unit): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      sink(batch.join(videoAdmitBatch(batch, path, batchId,
        maxFrames, maxBytes, minVotes, compactEvery), Seq("doc_id"), "left_semi"))
    }

  /** One micro-batch of [[streamVideoDedupAdmit]]: returns the admitted
    * doc ids (keepers plus the non-MP4 pass-through) and writes/compacts
    * this batch's `_fr`/`_fp` state — shared verbatim with
    * [[streamMediaDedupAdmit]]'s video arm. */
  private def videoAdmitBatch(batch: DataFrame, path: String, batchId: Long,
                              maxFrames: Int, maxBytes: Int, minVotes: Int,
                              compactEvery: Int): DataFrame = {
    val spark = batch.sparkSession
    val fr = Multimodal.videoFrameHashes(spark, batch,
      maxFrames = maxFrames, maxBytes = maxBytes)
      .localCheckpoint(false)
    val fp = Dedup.videoFingerprints(fr).localCheckpoint(false)
    val groups = Dedup.videoDedup(spark, batch,
      maxFrames = maxFrames, maxBytes = maxBytes, minVotes = minVotes)
    // a missing side is EMPTY state, not no-state (see audioAdmitBatch)
    val keepers = untaintedKeepers(groups,
      (readBatchState(spark, s"$path/_fr", batchId),
        readBatchState(spark, s"$path/_fp", batchId)) match {
        case (None, None) => None
        case (stFr, stFp) => Some(Dedup.crossMatches(fr, fp,
          stFr.getOrElse(fr.limit(0)),
          stFp.getOrElse(fp.select(col("fp")).limit(0)),
          Seq("fhash"), "frame_no", "fp", minVotes))
      })
    // pass-through: rows with no extracted frame are not videos
    val admitted = keepers.unionByName(
      batch.select(col("doc_id"))
        .join(fr.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .distinct())
      // eager: pin the admit rows BEFORE compaction deletes the b-dirs the
      // lazy plan reads (see imageAdmitBatch)
      .localCheckpoint(true)
    appendBatchState(fr, s"$path/_fr", batchId, compactEvery)
    appendBatchState(fp.select(col("fp")).distinct(), s"$path/_fp",
      batchId, compactEvery)
    admitted
  }

  /** Streaming MULTIMODAL media-dedup admission gate — the continuous twin
    * of [[graft.operators.Curate.pipelineMultimodal]]'s media arm: one
    * gate for a MIXED blob stream. Per micro-batch, every blob dispatches
    * on its header through [[graft.operators.Multimodal.modalityUdf]]
    * (the batch pipeline's exact convention: RIFF/WAVE → audio,
    * plausible-ftyp → video, everything else → the image family's fake
    * arm; null blob → pass through) and each family's slice runs the SAME
    * per-batch admit logic as its standalone gate — literally the shared
    * function, against family-scoped state under `path/image`,
    * `path/audio`, `path/video`. A doc is admitted iff its family's gate
    * admits it; the three families never see each other's rows or state,
    * exactly as in the batch composition.
    *
    * State/replay: each family keeps its own batch-state store
    * ([[appendBatchState]]), so the composed gate keeps every family's
    * replay-identity contract; a crash between
    * family writes leaves the committed families tainting (the two-arm
    * crash argument, one level up). */
  def streamMediaDedupAdmit(docs: DataFrame, path: String, checkpointDir: String,
                            bands: Int = 8, maxHamming: Int = 6,
                            agreeBands: Int = 2,
                            windowSamples: Int = 16, hop: Int = 4,
                            audioMaxBytes: Int = 1 << 20, maxDt: Int = 8,
                            fanout: Int = 3, audioMinVotes: Int = 5,
                            keyPeaks: Int = 2,
                            maxFrames: Int = 16, videoMaxBytes: Int = 1 << 20,
                            videoMinVotes: Int = 3,
                            compactEvery: Int = 16)
                           (sink: DataFrame => Unit): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val (typed, families) = mediaAdmitBatch(batch, path, batchId, bands,
        maxHamming, agreeBands, windowSamples, hop, audioMaxBytes, maxDt,
        fanout, audioMinVotes, keyPeaks, maxFrames, videoMaxBytes,
        videoMinVotes, compactEvery)
      val admitted = families.unionByName(
        typed.where(col("__mod") === "none").select(col("doc_id")))
      sink(batch.join(admitted, Seq("doc_id"), "left_semi"))
    }

  /** One micro-batch of the media dispatch shared by
    * [[streamMediaDedupAdmit]] and [[streamCurateMultimodal]]: tags each
    * `(doc_id, blob)` with its `__mod` family (`image`, `audio`, `video`,
    * or `none` for a null blob) and runs each family's slice through its
    * standalone gate's per-batch function against `root/{image,audio,
    * video}` state. Returns the tagged rows and the union of the three
    * families' admitted doc ids (`none` rows are the caller's call). */
  private def mediaAdmitBatch(batch: DataFrame, root: String, batchId: Long,
                              bands: Int, maxHamming: Int, agreeBands: Int,
                              windowSamples: Int, hop: Int,
                              audioMaxBytes: Int, maxDt: Int, fanout: Int,
                              audioMinVotes: Int, keyPeaks: Int,
                              maxFrames: Int, videoMaxBytes: Int,
                              videoMinVotes: Int,
                              compactEvery: Int): (DataFrame, DataFrame) = {
    val typed = batch
      .select(col("doc_id"), col("blob"))
      .withColumn("__mod", Multimodal.modalityUdf(col("blob")))
      .localCheckpoint(false)
    def slice(m: String): DataFrame =
      typed.where(col("__mod") === m).select(col("doc_id"), col("blob"))
    (typed, imageAdmitBatch(slice("image"), s"$root/image",
        batchId, bands, maxHamming, agreeBands, compactEvery)
      .unionByName(audioAdmitBatch(slice("audio"), s"$root/audio",
        batchId, windowSamples, hop, audioMaxBytes, maxDt, fanout,
        audioMinVotes, compactEvery, keyPeaks))
      .unionByName(videoAdmitBatch(slice("video"), s"$root/video",
        batchId, maxFrames, videoMaxBytes, videoMinVotes, compactEvery)))
  }

  /** Streaming SEMANTIC (embedding-space) admission gate — the continuous
    * twin of [[graft.operators.Dedup.semanticDedup]], completing the gate
    * set's modalities (text signatures, image hashes, audio landmarks,
    * now vectors — the natural gate for a vector-native store). Per
    * micro-batch each vector takes the batch form's verdict against
    * FIXED centroids (`cents`, the catalog's seeded or trained layer —
    * held constant across batches so cell geometry never drifts
    * mid-stream): dropped iff a LOWER-ID same-cell vector with cosine ≥
    * `tau` arrived in this batch, or ANY same-cell state vector matches.
    *
    * No cluster taint is needed, unlike the image/audio gates:
    * [[graft.operators.Dedup.semanticDedup]]'s verdict is non-transitive
    * by construction — ANY lower-id qualifying vector suppresses, keeper
    * or not — which is also exactly why state must hold EVERY seen
    * vector (admitted or rejected alike). Under vec_id-ordered arrival
    * the admitted set equals `semanticDedup(corpus).where(keep)`
    * (StreamingSpec pins it over the real embeddings table); unordered
    * arrival degrades to first-arrival-wins.
    *
    * State: (cell, embedding) per DISTINCT seen embedding — dim floats
    * per row, cell-keyed so the cross-batch check is the same
    * co-partitioned equi-join as the batch operator; kept in the
    * batch-state store ([[appendBatchState]]), whose strictly-below reads
    * keep a replayed batch from self-matching. */
  def streamSemanticDedupAdmit(vecs: DataFrame, cents: Seq[Seq[Double]],
                               path: String, checkpointDir: String,
                               tau: Double = 0.4, compactEvery: Int = 16)
                              (sink: DataFrame => Unit): StreamingQuery =
    eachBatch(vecs, checkpointDir) { (batch, batchId) =>
      semanticAdmitBatch(batch, batchId, cents, s"$path/_vecs", tau,
        compactEvery, "embedding", col("embedding"), identity)(sink)
    }

  /** One micro-batch of the semantic gates ([[streamSemanticDedupAdmit]],
    * [[streamSemanticDedupAdmitPq]]): cell assignment against the fixed
    * `cents`, the in-batch hit (a lower-id same-cell vector at cosine ≥
    * `tau`), the cross-batch hit against the state under `stateRoot`,
    * the sink, then this batch's state append. The gates differ only in
    * the stored row encoding — `encode` (over the assigned rows' columns)
    * stored as `stateCol` — and `decode`, which turns a stored value back
    * into the vector the cross-batch cosine reads. */
  private def semanticAdmitBatch(batch: DataFrame, batchId: Long,
                                 cents: Seq[Seq[Double]], stateRoot: String,
                                 tau: Double, compactEvery: Int,
                                 stateCol: String, encode: Column,
                                 decode: Column => Column)
                                (sink: DataFrame => Unit): Unit = {
    import graft.functions.VectorFunctions.cosine_sim
    val assigned = graft.operators.Ann.assignCells(
        batch.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("bigint").as("cell"))
      .localCheckpoint(false)
    val inHit = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .where(round(cosine_sim(col("a.embedding"), col("b.embedding")), 6) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    val crossHit = readBatchState(batch.sparkSession, stateRoot, batchId) match {
      case Some(state) =>
        assigned.join(state.withColumnRenamed(stateCol, "__sv"), Seq("cell"))
          .where(round(cosine_sim(col("embedding"), decode(col("__sv"))), 6) >= tau)
          .select(col("vec_id")).distinct()
      case None => assigned.select(col("vec_id")).limit(0)
    }
    val admitted = assigned.select(col("vec_id"))
      .join(inHit, Seq("vec_id"), "left_anti")
      .join(crossHit, Seq("vec_id"), "left_anti")
    sink(batch.join(admitted, Seq("vec_id"), "left_semi"))
    appendBatchState(assigned.select(col("cell"), encode.as(stateCol)).distinct(),
      stateRoot, batchId, compactEvery)
  }

  /** [[streamSemanticDedupAdmit]] with PQ-CODED state — the 100 TB
    * posture for the gate's one structural cost: the raw gate's contract
    * (non-transitive verdict ⇒ EVERY seen vector in state) makes `_vecs`
    * itself corpus-sized in raw doubles. Here state stores `(cell, code)`
    * — the vector's per-subspace PQ indices ([[graft.functions.PqCodes]],
    * M longs in place of `dim` doubles: 8× by schema at dim 64 / M 8,
    * more on disk where small ints RLE-compress; identical codes within a
    * cell also collapse under the distinct, which raw doubles rarely do).
    *
    * Declared semantics (the honest contract, spec-measured rather than
    * hand-waved): the cross-batch verdict matches the incoming RAW vector
    * against the QUANTIZED history — `cosine(v, decode(code)) ≥ tau`
    * ([[graft.functions.PqDecode]], the asymmetric-distance form: one
    * side exact, one side reconstructed). In-batch suppression is
    * unchanged (raw × raw). Once raw history is discarded there is no
    * exact re-check to fall back to — the admission delta vs the raw
    * gate IS the codebook's distortion, the quantity [[graft.operators
    * .Ann.pqError]] and `ivfpq_recall` audit; TRAIN with
    * [[graft.operators.Ann.trainPqCodebook]] and measure agreement on
    * the corpus BEFORE trusting the compressed gate, exactly as the
    * IVF-PQ read path demands. The measured curve on the real
    * embeddings table (StreamingSpec, tau 0.35) is not monotone in
    * "train harder": m=8/k=16 seeded 0.909 vs TRAINED 0.878 — at tiny k
    * the L2 means break angles that real-slice codewords keep. The
    * PRODUCTION setting: state width is M longs regardless of `kCodes`,
    * so the alphabet is free state-wise — m=16 over a trained 256-code
    * alphabet measures 0.991 and buys the 4× cut past the 0.98 bound
    * (r15; the r14 2×-cut point m=32/k=64 = 0.985 stays on the curve).
    * `residual = true` encodes `v − centroid(cell)` (the IVF-PQ layout;
    * train with [[graft.operators.Ann.trainResidualPqCodebook]]) —
    * measured WORSE than raw codes for this gate's threshold semantics
    * at every tried setting (0.937/0.969 at m=16 k=64/256, vs raw
    * 0.942/0.991; ties at m=32; still behind under Lloyd-TRAINED cells,
    * 0.917 vs 0.928 — the seeded-cells explanation was tested and
    * falsified): the read path's residual win does not transfer to
    * threshold admission — measure before choosing, never assume. The
    * codebook, `cents`, and
    * the residual flag are FIXED across batches — re-training or
    * re-flagging mid-stream would re-quantize nothing (history keeps
    * its codes) and silently misread state instead.
    *
    * StreamingSpec pins: replay identity ([[appendBatchState]]), the
    * measured admission agreement vs the raw gate
    * on the real embeddings table, and the state-width cut. */
  def streamSemanticDedupAdmitPq(vecs: DataFrame, cents: Seq[Seq[Double]],
                                 codebook: Seq[Seq[Seq[Double]]],
                                 path: String, checkpointDir: String,
                                 tau: Double = 0.4, compactEvery: Int = 16,
                                 residual: Boolean = false)
                                (sink: DataFrame => Unit): StreamingQuery = {
    import org.apache.spark.sql.graft.Bridge
    // residual = true: codes span v − centroid(cell) (the IVF-PQ
    // layout — train with Ann.trainResidualPqCodebook), decode adds
    // the centroid back before the cosine. State schema is identical
    // either way; like `cents` and the codebook, the flag is
    // STREAM-CONSTANT — flipping it mid-stream would misread every
    // code already in state.
    val cellCent = element_at(typedLit(cents), col("cell").cast("int"))
    val raw = col("embedding").cast("array<double>")
    val code = Bridge.column(graft.functions.PqCodes(Bridge.expression(
      if (residual) zip_with(raw, cellCent, (x, y) => x - y) else raw), codebook))
    def decode(c: Column): Column = {
      val d = Bridge.column(graft.functions.PqDecode(Bridge.expression(c), codebook))
      if (residual) zip_with(d, cellCent, (x, y) => x + y) else d
    }
    eachBatch(vecs, checkpointDir) { (batch, batchId) =>
      // code-GEOMETRY guard (r17; the r16 trainPqCodebook default
      // change m=8/kCodes=16 → 16/256 made this reachable): stored
      // codes are M longs over a kCodes alphabet with no self-
      // describing header, so a resume whose caller re-trained the
      // codebook under different (m, kCodes, residual) would silently
      // MISREAD every code already in state — admission verdicts
      // corrupt, no error. The geometry is recorded beside the state
      // on the first batch and validated on every subsequent one;
      // a mismatch is an orchestration error to surface, not paper
      // over (the index-registry definition-conflict posture).
      validatePqGeometry(batch.sparkSession, s"$path/_codes_geom",
        codebook.length, codebook.head.length, residual)
      semanticAdmitBatch(batch, batchId, cents, s"$path/_codes", tau,
        compactEvery, "code", code, decode)(sink)
    }
  }

  /** Streaming BITEXT-MINING sink — the continuous twin of
    * [[graft.operators.Bitext.minePairsIncrementalIndexed]], closing the
    * mining family's last matrix asymmetry (the round-12 verdict's
    * "batch only" note: every other mining family had batch +
    * incremental/indexed + streaming forms). Per micro-batch of SOURCE
    * sentences (`src_id`, `src_vec`), mutual-best ratio-margin pairs are
    * mined against the catalog's STORED target index — `FailIfMissing`
    * by default: a stream must consume an orchestrated index, never race
    * one into existence — and written to `path/b<batchId>` under the
    * per-batch overwrite + `_SUCCESS` discipline.
    *
    * Stateless GIVEN the index ([[streamNearDedupAdmit]]'s posture): a
    * batch's pairs depend only on its own rows and the stored layers, so
    * a commit-crash replay overwrites its dir with byte-identical pairs —
    * exactly-once-equivalent output under at-least-once delivery with NO
    * gate state at all. Per-snapshot backward-kNN scoping is
    * [[graft.operators.Bitext.minePairsIncremental]]'s declared
    * semantics: each batch's targets are ranked against that batch's
    * candidates (a parallel-corpus pipeline aligns each arriving shard,
    * it does not re-rank history). */
  def streamBitextMine(spark: SparkSession, dir: String, srcs: DataFrame,
                       path: String, checkpointDir: String,
                       k: Int = 4, tau: Double = 1.0, nCells: Int = 8,
                       nProbe: Int = 8,
                       policy: IndexPolicy = IndexPolicy.FailIfMissing): StreamingQuery =
    eachBatch(srcs, checkpointDir) { (batch, batchId) =>
      Tables.write(graft.operators.Bitext.minePairsIncrementalIndexed(spark, dir,
          batch, k, tau, nCells, nProbe, policy))
        .mode("overwrite").parquet(batchDir(path, batchId))
    }

  /** All committed batches of a [[streamBitextMine]] run as one mined-pair
    * table ([[readCommittedBatches]]). */
  def readMinedPairs(spark: SparkSession, path: String): Option[DataFrame] =
    readCommittedBatches(spark, path)

  /** All batches of a [[streamCurate]] run as one decision frame
    * ([[readCommittedBatches]]). */
  def readCurate(spark: SparkSession, path: String): Option[DataFrame] =
    readCommittedBatches(spark, path)

  /** All batches of a [[streamShardExport]] run as one DataFrame, the
    * shard column restored from the partition dirs
    * ([[readCommittedBatches]]). */
  def readShardExport(spark: SparkSession, path: String): Option[DataFrame] =
    readCommittedBatches(spark, path)

  /** Record-once / validate-always guard for PQ code geometry: the gate's
    * persisted codes carry no header, so the codebook shape that wrote
    * them must be the shape that reads them. Writes `(m, k_codes,
    * residual)` as a one-row parquet on first call; throws a
    * [[graft.core.GraftException]] naming both shapes on mismatch. */
  private def validatePqGeometry(spark: SparkSession, geomPath: String,
                                 m: Int, kCodes: Int, residual: Boolean): Unit = {
    import spark.implicits._
    if (isCommitted(fsOf(spark, geomPath), new Path(geomPath))) {
      val r = Tables.read(spark, geomPath).head()
      val (sm, sk, sr) = (r.getInt(0), r.getInt(1), r.getBoolean(2))
      if (sm != m || sk != kCodes || sr != residual)
        throw new graft.core.GraftException(
          s"PQ gate state at $geomPath was written with (m=$sm, kCodes=$sk, " +
            s"residual=$sr) but this resume supplies (m=$m, kCodes=$kCodes, " +
            s"residual=$residual); stored codes would be misread. Re-supply " +
            "the original codebook (note: trainPqCodebook defaults changed " +
            "m=8/kCodes=16 -> 16/256) or start a fresh state path")
    } else
      Tables.write(Seq((m, kCodes, residual)).toDF("m", "k_codes", "residual").coalesce(1))
        .mode("overwrite").parquet(geomPath)
  }

  // ---------------------------------------------------------------------
  // The batch-state store: the only code that knows the on-disk layout.
  // ---------------------------------------------------------------------

  /** Appends this micro-batch's state rows to the store under `root` —
    * the one write path of every stateful gate here — then runs the
    * [[compactBatchState]] schedule.
    *
    * Layout and replay discipline, shared by every sink in this file:
    *  - each batch's rows land in their own `b<id>` dir written with
    *    OVERWRITE, so a replayed batch replaces its failed attempt's rows
    *    instead of appending beside them;
    *  - a dir exists for readers only once its `_SUCCESS` marker does;
    *  - reads ([[readBatchState]]) take only ids STRICTLY BELOW the
    *    current batch, so a replayed batch never sees (self-matches
    *    against, or double-counts) its own failed attempt's rows;
    *  - every `compactEvery` batches the `b` dirs fold into one `c<id>`
    *    dir, which supersedes every `b` dir at or below its id;
    *  - small versioned state (reservoir, HLL registers, running token
    *    counts) is one `v<id>` dir per commit plus a `_latest` marker
    *    swapped last ([[commitVersion]]).
    * Per-batch OUTPUT dirs (decision frames, shard files, mined pairs)
    * use the same `b<id>` + `_SUCCESS` layout without compaction, read
    * back with [[readCommittedBatches]]. Ids are zero-padded to 20 digits
    * so name order is id order. */
  private def appendBatchState(df: DataFrame, root: String, batchId: Long,
                               compactEvery: Int): Unit = {
    Tables.write(df).mode("overwrite").parquet(batchDir(root, batchId))
    compactBatchState(df.sparkSession, root, batchId, compactEvery)
  }

  private def dirName(kind: Char, id: Long): String = f"$kind$id%020d"

  /** The `b<batchId>` dir under `root`: a batch's state or output. */
  private def batchDir(root: String, batchId: Long): String =
    s"$root/${dirName('b', batchId)}"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def isCommitted(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  private final case class StateDir(kind: Char, id: Long, path: Path)

  /** The committed dirs under `root` whose kind letter is in `kinds`,
    * ascending by id; empty when `root` does not exist. */
  private def committed(spark: SparkSession, root: String,
                        kinds: String): Seq[StateDir] = {
    val fs = fsOf(spark, root)
    val r = new Path(root)
    if (!fs.exists(r)) Nil
    else fs.listStatus(r).toSeq.map(_.getPath)
      .filter(p => kinds.contains(p.getName.head) && isCommitted(fs, p))
      .map(p => StateDir(p.getName.head, p.getName.drop(1).toLong, p))
      .sortBy(_.id)
  }

  /** The state visible below `batchId`: the latest committed `c` dir
    * with id < `batchId`, and the committed `b` dirs above it and below
    * `batchId`. A `b` dir the `c` dir covers is skipped even if its
    * cleanup delete never ran. */
  private def stateBelow(spark: SparkSession, root: String,
                         batchId: Long): (Option[StateDir], Seq[StateDir]) = {
    val dirs = committed(spark, root, "bc").filter(_.id < batchId)
    val base = dirs.filter(_.kind == 'c').lastOption
    val above = base.fold(-1L)(_.id)
    (base, dirs.filter(d => d.kind == 'b' && d.id > above))
  }

  private def unionOf(spark: SparkSession, dirs: Seq[StateDir]): DataFrame =
    dirs.map(d => Tables.read(spark, d.path.toString)).reduce(_ unionByName _)

  /** Accumulated per-batch state (signatures, fingerprints, stats) under
    * `rootPath`: the latest committed `c<id>` dir plus every committed
    * `b<id>` dir above it — all with id STRICTLY BELOW `batchId`, the
    * replay discipline of [[appendBatchState]]. None before any state. */
  private[streaming] def readBatchState(spark: SparkSession, rootPath: String,
                                        batchId: Long): Option[DataFrame] = {
    val (base, bDirs) = stateBelow(spark, rootPath, batchId)
    val dirs = base.toSeq ++ bDirs
    if (dirs.isEmpty) None
    else Some(unionOf(spark, dirs).coalesce(spark.sparkContext.defaultParallelism))
  }

  /** Fold the committed `b<id>` state dirs with id STRICTLY BELOW
    * `batchId` into one consolidated `c<maxCoveredId>` dir once `every`
    * of them sit above the previous consolidation; `every <= 0` never
    * compacts. Without this a long-running stream's state read grows
    * O(B) dirs per batch (O(B²) driver listings and parquet-read fan-ins
    * over a run) even though the per-row state is signature-sized. Rows
    * are preserved verbatim (plain union — admission decisions are
    * replay-identical before/after).
    *
    * Crash safety: the new `c` dir becomes visible only with its
    * `_SUCCESS`; [[readBatchState]] ignores dirs the latest `c` covers, so
    * the trailing deletes are pure cleanup and a crash at ANY point leaves
    * a readable, non-duplicating state set. The current batch's own dir is
    * never compacted (id < batchId) — a replayed batch still cannot see
    * its failed attempt's state. */
  private[streaming] def compactBatchState(spark: SparkSession, rootPath: String,
                                           batchId: Long, every: Int): Unit =
    if (every > 0) {
      val (base, bDirs) = stateBelow(spark, rootPath, batchId)
      if (bDirs.size >= every) {
        val dirs = base.toSeq ++ bDirs
        Tables.write(unionOf(spark, dirs)
          .coalesce(spark.sparkContext.defaultParallelism))
          .mode("overwrite")
          .parquet(s"$rootPath/${dirName('c', bDirs.last.id)}")
        val fs = fsOf(spark, rootPath)
        dirs.foreach(d => fs.delete(d.path, true))
      }
    }

  /** Every committed `b<id>` dir under `path` — the per-batch output of
    * [[streamCurate]], [[streamShardExport]] or [[streamBitextMine]] — as
    * one DataFrame in batch order (each dir reads as its own parquet
    * root); None before the first committed batch. */
  private def readCommittedBatches(spark: SparkSession,
                                   path: String): Option[DataFrame] = {
    val dirs = committed(spark, path, "b")
    if (dirs.isEmpty) None else Some(unionOf(spark, dirs))
  }

  /** Highest committed version STRICTLY BELOW `batchId` — the replay-safe
    * state read for sinks whose state ACCUMULATES (a replayed batch must
    * not observe the total its own failed attempt committed; contrast the
    * reservoir/HLL sinks, whose merges are idempotent and read latest). */
  private def readVersionBelow(spark: SparkSession, rootPath: String,
                               batchId: Long): Option[DataFrame] =
    committed(spark, rootPath, "v").filter(_.id < batchId).lastOption
      .map(d => Tables.read(spark, d.path.toString))

  /** Written-last version-swap read side, shared by every versioned
    * small-state store here (reservoir, HLL registers): the `_latest`
    * marker's version, else the highest committed `v` dir. */
  private def readLatestVersion(spark: SparkSession, rootPath: String): Option[DataFrame] = {
    val root = new Path(rootPath)
    val fs = fsOf(spark, rootPath)
    if (!fs.exists(root)) return None
    val marker = new Path(root, "_latest")
    val fromMarker =
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        val v = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
        Some(new Path(root, v)).filter(isCommitted(fs, _))
      } else None
    fromMarker.orElse(committed(spark, rootPath, "v").lastOption.map(_.path))
      .map(p => Tables.read(spark, p.toString))
  }

  /** Written-last version-swap commit: parquet the version dir, then swap
    * the tiny `_latest` marker — a crash between the two leaves the prior
    * marker valid. After the swap, all but the newest `retain` SUPERSEDED
    * versions are best-effort deleted: a long-running monitor stream
    * otherwise grows one directory per micro-batch without bound. The
    * retained window (default 1 — the immediate predecessor, which the
    * marker fallback's highest-`_SUCCESS` scan also needs for the crash
    * window) is the read-side contract: an EXTERNAL reader that resolved a
    * version via [[readLatestVersion]] keeps a live directory only while
    * it lags fewer than `retain` commits; readers that may lag further
    * (slow dashboards polling [[readReservoir]]/[[readDistinctEstimate]]
    * across micro-batches) should be given a larger `retainVersions`. A
    * delete failure never fails the batch — the next commit retries. */
  private def commitVersion(df: DataFrame, rootPath: String, batchId: Long,
                            retain: Int = 1): Unit = {
    val vdir = dirName('v', batchId)
    Tables.write(df.repartition(1)).mode("overwrite").parquet(s"$rootPath/$vdir")
    val fs = new Path(rootPath).getFileSystem(Tables.writeConf(df.sparkSession))
    val tmp = new Path(rootPath, "_latest.tmp")
    val out = fs.create(tmp, true)
    out.write(vdir.getBytes("UTF-8")); out.close()
    fs.delete(new Path(rootPath, "_latest"), false)
    fs.rename(tmp, new Path(rootPath, "_latest"))
    try {
      val stale = fs.listStatus(new Path(rootPath)).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("v") && p.getName < vdir)
        .sortBy(_.getName).dropRight(math.max(1, retain))
      stale.foreach(p => fs.delete(p, true))
    } catch { case _: java.io.IOException => () }
    ()
  }

  /** Continuous distinct-vocabulary monitor: fold each micro-batch's HLL
    * registers ([[graft.operators.TextAnalysis.hllRegisters]] over the
    * batch's lowercased whitespace tokens) into a persisted `(bucket,
    * reg)` table by bucket-keyed `max`. Register max-merge is IDEMPOTENT,
    * so an at-least-once redelivery cannot move the estimate — the
    * exactly-once-equivalence argument the weighted reservoir makes via
    * pure keys, here made by the algebra of the sketch itself. State is
    * ≤ 2^p rows regardless of stream volume; persistence follows the
    * written-last version/marker discipline.
    *
    * Read the running estimate back with [[readDistinctEstimate]]; the
    * registers also merge (again by `max`) with any batch-side
    * [[graft.operators.TextAnalysis.hllRegisters]] table — one sketch
    * algebra across batch and stream. */
  def streamDistinctMonitor(docs: DataFrame, registersPath: String,
                            checkpointDir: String, p: Int = 10,
                            retainVersions: Int = 1): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val T = graft.operators.TextAnalysis
      val tok = T.lowerTok(batch).select(col("w"))
      val prior = readLatestVersion(spark, registersPath)
        .map { df => requireSameP(df, p, registersPath); df.select(col("bucket"), col("reg")) }
        .getOrElse(Seq.empty[(Long, Long)].toDF("bucket", "reg"))
      val merged = T.hllRegisters(tok, p).unionByName(prior)
        .groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
      // bounded: <= 2^p rows by construction
      val rows = merged.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // p is persisted WITH the registers: an estimate over registers
      // built at a different precision is silently wrong, so readers
      // check it instead of trusting their default
      commitVersion(rows.toDF("bucket", "reg")
        .withColumn("p", lit(p)), registersPath, batchId, retainVersions)
    }

  /** The monitor's current 6-dp distinct estimate, or None before the
    * first committed batch. The stored precision must match `p` — a
    * mismatch raises instead of producing a plausible-but-wrong estimate
    * over a densification grid of the wrong size. Estimates collect
    * eagerly here, so the writer's `retainVersions` window (see
    * [[readReservoir]]) only matters to callers using
    * readLatestVersion-style lazy frames. */
  def readDistinctEstimate(spark: SparkSession, registersPath: String,
                           p: Int = 10): Option[Double] =
    readLatestVersion(spark, registersPath).map { regs =>
      requireSameP(regs, p, registersPath)
      graft.operators.TextAnalysis.hllEstimate(
          regs.select(col("bucket"), col("reg")), p)
        .select(round(col("e"), 6)).head().getDouble(0)
    }

  private def requireSameP(regs: DataFrame, p: Int, path: String): Unit =
    // an empty register table (all-empty batches so far) constrains nothing
    regs.select(col("p")).limit(1).collect().headOption.foreach { r =>
      if (r.getInt(0) != p)
        throw new graft.core.GraftException(
          s"HLL register store at $path was built with p=${r.getInt(0)}; " +
            s"refusing to estimate with p=$p")
    }

  /** Continuous collection ingest: any streaming (id, chunk) text source →
    * per-micro-batch chunk/embed/validate/append through the SAME batch
    * pipeline (Ingest.makeRecords + GraftDatabase.addRecords). Exactly-once
    * per micro-batch comes from the sink-side dedup the catalog's
    * duplicate-id validation provides. */
  def streamIngest(db: GraftDatabase, collectionId: String, chunks: DataFrame,
                   embedderId: String, checkpointDir: String): StreamingQuery =
    eachBatch(chunks, checkpointDir) { (batch, _) =>
      db.addRecords(collectionId,
        Ingest.makeRecords(batch.sparkSession, batch, embedderId))
    }

  /** Continuous IVF index maintenance: assign each streamed embedding to
    * its nearest FROZEN centroid (the exact assignment expression the
    * stored index was built with — [[graft.operators.Ann.assignCells]])
    * and append it to a cell-partitioned parquet delta area. Probes then
    * read base ∪ delta pruned to the probed cells
    * ([[graft.operators.Ann.ivfDeltaTopk]] is the batch-mode semantics
    * contract, oracle-checked), and [[graft.operators.Ann.ivfRecall]]
    * over the union is the retrain trigger.
    *
    * Spark-first exactly-once: this is the built-in FILE sink, not
    * foreachBatch — its `_spark_metadata` transaction log makes replayed
    * micro-batches invisible to readers that go through it, and
    * `partitionBy(cell)` lays the delta out so a probe's cell filter is
    * partition pruning, same as the base index. State is zero (the
    * centroids are a frozen literal); the only growth is the delta data
    * itself, which the next retrain folds into a new base version. */
  def streamIvfIngest(embStream: DataFrame, cents: Seq[Seq[Double]],
                      deltaPath: String, checkpointDir: String): StreamingQuery =
    graft.operators.Ann.assignCells(embStream, cents)
      .writeStream
      .format("parquet")
      .partitionBy("cell")
      .option("path", deltaPath)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
}
