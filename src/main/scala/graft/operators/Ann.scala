package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}

import graft.core.Tables
import graft.functions.VectorFunctions.cosine_sim

/** Approximate nearest-neighbor search — the scale path for O1/X1 when the
  * corpus is too large for exact brute-force scoring (SURVEY.md §4.2's LSH
  * escape hatch; referenced by `Similarity.batchSimilarityJoin`).
  *
  * Random-hyperplane LSH (SimHash): every vector gets `bands` bucket keys
  * (one per group of sign bits); a query probes only vectors sharing at
  * least one bucket key, then reranks the candidates with exact cosine.
  *
  * Scale shape: the whole plan is NARROW — scan → project bit signature
  * (constant plane matrix folded into codegen) → `arrays_overlap` filter
  * against the query's literal bucket keys → exact rerank →
  * `TakeOrderedAndProject`. No shuffle, no join; at 100 TB the filter
  * discards ~(1 - bands/2^r) of the corpus before any cosine is computed,
  * and with the signature precomputed as a stored column the probe becomes
  * a partition-prunable equi-lookup.
  */
object Ann {

  val DefaultBits = 16
  val DefaultBands = 4

  /** Band keys ("<band>:<bits>") for one vector, driver-side. Must mirror
    * [[bandKeysCol]] exactly. */
  private[operators] def bandKeys(v: Array[Double], bits: Int, bands: Int): Seq[String] = {
    val planes = Dedup.simhashPlanes(bits, v.length)
    val bs = planes.map { p =>
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * p(i); i += 1 }
      if (s >= 0) "1" else "0"
    }
    val r = bits / bands
    (0 until bands).map(b => s"$b:${bs.slice(b * r, b * r + r).mkString}")
  }

  /** Band keys as a column expression over `vecCol` — same planes, same bit
    * and key construction as [[bandKeys]]; see
    * [[graft.functions.LshFunctions.prefixed_band_keys]]. */
  private def bandKeysCol(vecCol: Column, bits: Int, bands: Int, dim: Int): Column =
    graft.functions.LshFunctions.prefixed_band_keys(vecCol, bits, bands, dim)

  /** LSH-probed approximate top-k: candidates = vectors sharing ≥1 bucket
    * key with the query, reranked by exact cosine. Deterministic (md5-seeded
    * planes), so the DuckDB oracle reproduces the same candidate set and
    * ranking. */
  def annTopk(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10,
              bits: Int = DefaultBits, bands: Int = DefaultBands): DataFrame = {
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    val qKeys = bandKeys(qv, bits, bands)
    rerank(Tables.embeddings(spark, dir).where(arrays_overlap(
      bandKeysCol(col("embedding"), bits, bands, qv.length), typedLit(qKeys))), qv, k)
  }

  /** LSH-probed cosine RANGE search: every record scoring ≥ `tau` against
    * the query, not a fixed k — the "find everything similar enough" shape
    * (near-dup lookups, retrieval recall sweeps). Same narrow probe plan as
    * [[annTopk]] with the threshold applied after exact rerank; the result
    * size is data-dependent by design, so there is no `limit` and the plan
    * ends at the filter, not a TakeOrdered. */
  def annRange(spark: SparkSession, dir: String, queryVecId: Long = 0L,
               tau: Double = 0.2, bits: Int = DefaultBits,
               bands: Int = DefaultBands): DataFrame = {
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    val qKeys = bandKeys(qv, bits, bands)
    Tables.embeddings(spark, dir)
      .where(arrays_overlap(
        bandKeysCol(col("embedding"), bits, bands, qv.length),
        typedLit(qKeys)))
      .select(col("vec_id"), col("label"),
        round(cosine_sim(col("embedding"), typedLit(qv)), 6).as("score"))
      .where(col("score") >= tau)
      .orderBy(desc("score"), asc("vec_id"))
  }

  /** LSH probe against a PERSISTED signature index: the corpus is written
    * once partitioned by bucket key (build step), so a probe reads only the
    * directories matching the query's keys — real partition pruning, the
    * on-disk layout [[annTopk]]'s scaladoc promises at 100 TB.
    * Same candidate set and ranking as [[annTopk]] (same planes, same keys),
    * so the same oracle applies.
    *
    * Index lifecycle is CATALOG-owned ([[graft.core.IndexMeta]]): the entry
    * is manifest-persisted with a source fingerprint and build params, and
    * the probe resolves it under `policy` — the driver-contract default
    * `BuildIfMissing` builds on first touch over the immutable testdata, a
    * production probe passes `FailIfMissing` and builds through an
    * orchestrated [[graft.core.GraftDatabase.buildIndex]] step. */
  def annTopkIndexed(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10,
                     bits: Int = DefaultBits, bands: Int = DefaultBands,
                     dim: Int = 64,
                     policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame = {
    val idx = CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = s"embeddings-ann-b$bits-w$bands", kind = "lsh-band",
      sourcePath = s"$dir/embeddings.parquet",
      params = Map("bits" -> bits.toString, "bands" -> bands.toString,
        "dim" -> dim.toString),
      policy = policy) { out =>
      Tables.write(Tables.embeddingsAtSourceWidth(spark, dir)
        .select(col("vec_id"), col("label"), col("embedding"),
          explode(bandKeysCol(col("embedding"), bits, bands, dim)).as("key")))
        .mode("overwrite").partitionBy("key").parquet(out)
    }
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    val qKeys = bandKeys(qv, bits, bands)
    rerank(Tables.read(spark, idx.path).where(col("key").isin(qKeys: _*))
      .dropDuplicates("vec_id"), qv, k)
  }

  /** Recall@k audit of the LSH probe against the exact scan — the index-
    * quality measurement to run BEFORE trusting [[annTopk]]'s candidate
    * generation on a production corpus. For each of the first `nQueries`
    * stored vectors: exact top-k (ground truth) vs banded-LSH top-k,
    * reporting `hits = |ANN ∩ exact|` and `recall = hits / k` per query.
    *
    * Scale shape: the exact arm is the batch similarity join (broadcast
    * query set, per-partition k-best selection before the exchange); the
    * ANN arm is an EQUI-join of exploded corpus band keys against the broadcast
    * query keys — no cartesian product anywhere, so the audit runs at
    * corpus scale for any query sample that fits a broadcast. At 100 TB
    * this runs over a hash-sampled query set
    * ([[graft.operators.Sampling]]) on a schedule, trending mean recall as
    * the corpus drifts away from the planes/centroids the index was built
    * with — the signal that triggers an index rebuild. */
  def annRecall(spark: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10,
                bits: Int = DefaultBits, bands: Int = DefaultBands,
                dim: Int = 64): DataFrame = {
    require(k > 0, s"k must be > 0 (recall divides by k), got $k")
    val e = Tables.embeddings(spark, dir)
    val queries = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        bandKeysCol(col("embedding"), bits, bands, dim).as("qks"))
    val exact = Similarity
      .similarityJoin(e, queries.select(col("query_id"), col("query_vec")), k)
      .select(col("query_id"), col("vec_id"))
    val corpusKeys = e.select(col("vec_id"), col("embedding"),
      explode(bandKeysCol(col("embedding"), bits, bands, dim)).as("key"))
    val queryKeys = queries
      .select(col("query_id"), col("query_vec"), explode(col("qks")).as("key"))
    // duplicate (query_id, vec_id) rows from multi-band matches are
    // identical, so the dedup is deterministic
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("vec_id"))
    val ann = corpusKeys.join(broadcast(queryKeys), Seq("key"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine_sim(col("embedding"), col("query_vec")), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"))
    val hits = exact.join(ann, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    queries.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 6).as("recall"))
      .orderBy(asc("query_id"))
  }

  /** Driver-side cosine with the same accumulation order as
    * [[graft.functions.CosineSimilarity.compute]] (and the oracle's SQL),
    * so centroid rankings agree bit-for-bit across engines. */
  private[operators] def cosine(x: Array[Double], y: Array[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < x.length) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
    }
    graft.functions.CosineSimilarity.fromParts(dot, nx, ny)
  }

  /** IVF-style approximate top-k: assign every vector to its most-similar
    * centroid cell, probe only the `nProbe` cells nearest the query, exact
    * rerank inside them.
    *
    * Centroids here are seeded deterministically (the first `nCells` stored
    * vectors) so the oracle can reproduce cell assignment exactly; a
    * production build replaces the seeding with k-means iterations — the
    * assignment/probe/rerank machinery (this operator) is unchanged.
    *
    * Scale shape: assignment is a narrow projection against a literal
    * centroid matrix; the probe is a `cell IN (...)` filter — with the cell
    * id materialized as a partition column, that's partition pruning, i.e.
    * the scan itself skips (nCells - nProbe)/nCells of the data. */
  /** Rung decision shared by every default entry point of the flat vs
    * two-level IVF family ([[ivfTopkAuto]], [[graft.operators.Dedup
    * .semanticDedupAuto]], [[graft.operators.Bitext.minePairsAuto]],
    * [[graft.operators.Centrality.annEdgesAuto]]) — the `autoAgreeBands`
    * / `maxCell = 0` auto-dial discipline applied to the rung choice the
    * round-12 verdict flagged: the two-level twins existed, but a user at
    * 10⁹ vectors had to KNOW to reach for them, because every default
    * entry point ran the flat rung with its `nCells × dim` plan literal +
    * driver collect.
    *
    * The dial is LITERAL SIZE, not throughput: the smoke table's measured
    * pain row is nCells = 8000 at dim 64 → a ~4 MB plan literal with
    * 11 MB task binaries shipped per stage (and the same doubles collected
    * on the driver), growing linearly in nCells — while at small nCells
    * the flat rung's fused in-core cosines beat the hierarchy's equi-join
    * (two-level is measured SLOWER at 1M vectors: 228 vs 188 s semantic,
    * 269 vs 111 s mining). So the flat rung stays the pick until the
    * literal itself is the problem: `flatCellMax = 4096` keeps plan
    * literals ≤ ~2 MB at dim 64 and is crossed exactly where the measured
    * 8000-cell row hurt. Above it, the coarse layer shrinks driver state
    * to ⌈√nCells⌉ rows (N^¼ at the √N cell dial) and the fine layer
    * becomes a TABLE. */
  private[graft] val FlatCellMax = 4096

  /** ⌈√nCells⌉ — the derived coarse-layer size when [[FlatCellMax]] sends
    * a default entry point to the two-level rung. */
  private[graft] def coarseFor(nCells: Int): Int =
    math.max(1, math.ceil(math.sqrt(nCells.toDouble)).toInt)

  /** [[ivfTopk]] with the flat-vs-two-level rung SELF-DIALED from the
    * requested cell count (see [[FlatCellMax]]). At `nCells ≤ flatCellMax`
    * this IS [[ivfTopk]] (same plan, same oracle); above, it is
    * [[ivfTopk2]] with `nFine = nCells`, `nCoarse = wCoarse =
    * ⌈√nCells⌉` — the coarse layer FULL-OPEN on the query side, because
    * the hierarchy's job here is retiring the plan literal and driver
    * collect, not adding an unasked recall cut: with `wCoarse = nCoarse`
    * the query ranks every fine centroid (as a distributed table pass)
    * exactly like the flat rung does in-core, so the only semantic
    * difference is [[assignCells2]]'s documented data-side
    * coarse-boundary caveat. RungPickerSpec pins auto ≡ explicit on both sides
    * of the threshold. */
  def ivfTopkAuto(spark: SparkSession, dir: String, queryVecId: Long = 0L,
                  k: Int = 10, nCells: Int = 16, nProbe: Int = 4,
                  flatCellMax: Int = FlatCellMax): DataFrame =
    if (nCells <= flatCellMax) ivfTopk(spark, dir, queryVecId, k, nCells, nProbe)
    else ivfTopk2(spark, dir, queryVecId, k, nCells, coarseFor(nCells),
      coarseFor(nCells), nProbe)

  def ivfTopk(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = seedCentroids(e, nCells)
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    ivfProbe(e, cents, qv, k, nProbe)
  }

  /** IVF probe against a PERSISTED cell-partitioned index (the on-disk
    * realization of [[ivfTopk]]'s scaladoc: the corpus written once
    * partitioned by cell id, so a probe's `cell IN (…)` filter becomes
    * real partition pruning — the scan never opens the other
    * (nCells − nProbe)/nCells of the data). Same centroids, same
    * assignment, same rerank ⇒ same oracle as [[ivfTopk]]. The stored
    * vectors keep the source's element type
    * ([[Tables.embeddingsAtSourceWidth]]) — a FLOAT source's index holds
    * half the vector bytes a widened copy would — and the rerank's
    * `cosine_sim` widens them, so scores are the same bits.
    *
    * Index lifecycle contract as [[annTopkIndexed]] — catalog-owned entry,
    * source-fingerprinted, resolved under `policy`. */
  def ivfTopkIndexed(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10,
                     nCells: Int = 16, nProbe: Int = 4,
                     policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame = {
    val e = Tables.embeddingsAtSourceWidth(spark, dir)
    val cents = seedCentroids(e, nCells)

    val idx = CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = s"embeddings-ivf-c$nCells", kind = "ivf-cell",
      sourcePath = s"$dir/embeddings.parquet",
      params = Map("nCells" -> nCells.toString),
      policy = policy) { out =>
      Tables.write(assignCells(e, cents))
        .mode("overwrite").partitionBy("cell").parquet(out)
    }
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    rerank(Tables.read(spark, idx.path).where(col("cell").isin(probe(cents, qv, nProbe): _*)),
      qv, k)
  }

  /** The exact rerank every probe ends in: the candidate rows' `vec_id`,
    * `label` and 6-dp cosine of `vec` against the query, top `k` by score
    * desc, `vec_id` asc on ties. */
  private def rerank(candidates: DataFrame, qv: Array[Double], k: Int,
                     vec: Column = col("embedding")): DataFrame =
    candidates
      .select(col("vec_id"), col("label"), round(cosine_sim(vec, typedLit(qv)), 6).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)

  /** Product-quantization codebook seeded from the first `kCodes` stored
    * vectors: codebook(m)(j) = subspace-m slice of seed vector j — the
    * same deterministic seeding contract as [[ivfTopk]]'s centroids, so
    * the oracle reproduces every code assignment exactly. A production
    * build replaces the seeding with per-subspace k-means
    * ([[kmeansStep]]'s shape, once per subspace); encode/score are
    * unchanged. */
  private[graft] def pqCodebook(e: DataFrame, m: Int, kCodes: Int,
                                    dim: Int): Seq[Seq[Seq[Double]]] =
    subspaces(seedCentroids(e, kCodes), m, dim)

  /** codebook(s)(j) = subspace-`s` slice of `vectors(j)`, for `m`
    * subspaces of `dim / m` components. */
  private def subspaces(vectors: Seq[Seq[Double]], m: Int,
                        dim: Int): Seq[Seq[Seq[Double]]] = {
    val dsub = dim / m
    (0 until m).map(s => vectors.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /** The PQ reconstruction column — the ONE place encode+decode lives;
    * see [[graft.functions.PqReconstruct]]. */
  private def pqReconstructCol(vecCol: Column, cb: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.PqReconstruct(
      Bridge.expression(vecCol.cast("array<double>")), cb))
  }

  /** PQ compression audit: per-label relative L2 reconstruction error —
    * the distortion check before shrinking an embedding store to M bytes
    * per vector (64×8B → 8B here). Narrow encode/decode + one label-keyed
    * aggregation; the [[graft.operators.EmbeddingStats.quantizationError]]
    * twin for vector (not scalar) quantization. Zero vectors carry no
    * defined relative error and are excluded in both engines. */
  def pqError(spark: SparkSession, dir: String, m: Int = 8, kCodes: Int = 16,
              dim: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions.{l2_dist, l2_norm}
    val e = Tables.embeddings(spark, dir)
    val cb = pqCodebook(e, m, kCodes, dim)
    val v = col("embedding").cast("array<double>")
    e.where(l2_norm(v) > 0.0)
      .select(col("label"),
        round(l2_dist(v, pqReconstructCol(col("embedding"), cb)) / l2_norm(v), 9)
          .as("rel_err"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        // micro-units mean of the 9-dp-rounded errors (order-free integer
        // sum; see TextAnalysis.doremiWeights rationale)
        round(sum(round(col("rel_err") * lit(1e9)).cast("bigint")).cast("double")
          / lit(1e9) / count(lit(1)), 6).as("avg_err"),
        round(max(col("rel_err")), 6).as("max_err"))
      .orderBy(col("label"))
  }

  /** PQ asymmetric-distance top-k: the RAW query scored against each
    * row's reconstruction (ADC) — the memory-bound ANN scan shape: at
    * scale the store holds only M small codes per vector, the codebook is
    * a per-executor constant, and scoring never touches the original
    * vectors. Plan stays scan → narrow reconstruct+score →
    * `TakeOrderedAndProject`; a production variant hoists the per-query
    * distance tables out of the loop, which changes arithmetic
    * (accumulation order) but not the plan. */
  def pqTopk(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10,
             m: Int = 8, kCodes: Int = 16, dim: Int = 64): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cb = pqCodebook(e, m, kCodes, dim)
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    rerank(e, qv, k, pqReconstructCol(col("embedding"), cb))
  }

  /** PQ ADC top-k against a PERSISTED code table — the compressed-store
    * realization of [[pqTopk]]: the index holds only (vec_id, label,
    * M codes) per vector (8 longs vs 64 doubles here; M bytes in a
    * production layout), the codebook is a per-executor constant, and the
    * probe scan decodes + scores without ever touching raw vectors —
    * the memory-/IO-bound ANN scan shape at 100 TB. Same codes, same
    * reconstruction, same scoring ⇒ same oracle as [[pqTopk]].
    * Index lifecycle contract as [[annTopkIndexed]]. */
  def pqTopkIndexed(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10,
                    m: Int = 8, kCodes: Int = 16, dim: Int = 64,
                    policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val e = Tables.embeddings(spark, dir)
    val cb = pqCodebook(e, m, kCodes, dim)

    val idx = CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = s"embeddings-pq-m$m-k$kCodes", kind = "pq-codes",
      sourcePath = s"$dir/embeddings.parquet",
      params = Map("m" -> m.toString, "kCodes" -> kCodes.toString,
        "dim" -> dim.toString),
      policy = policy) { out =>
      Tables.write(e.select(col("vec_id"), col("label"),
          Bridge.column(graft.functions.PqCodes(
            Bridge.expression(col("embedding").cast("array<double>")), cb)).as("codes")))
        .mode("overwrite").parquet(out)
    }
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    rerank(Tables.read(spark, idx.path), qv, k,
      Bridge.column(graft.functions.PqDecode(Bridge.expression(col("codes")), cb)))
  }

  /** Driver-side mirror of [[graft.functions.NearestCentroid]]: argmax raw
    * cosine, FIRST index on ties (strict `>`), 1-based — must agree with
    * the fused corpus-side assignment cell-for-cell. */
  private[operators] def nearestCell(cents: Seq[Seq[Double]], v: Array[Double]): Int = {
    var best = 1; var bestS = Double.NegativeInfinity; var i = 0
    while (i < cents.length) {
      val s = cosine(v, cents(i).toArray)
      if (s > bestS) { bestS = s; best = i + 1 }
      i += 1
    }
    best
  }

  /** RESIDUAL PQ codebook — the FAISS IVF-PQ layout: subquantizers are
    * trained on `v − centroid(cell(v))`, not on raw vectors, because inside
    * one cell the residuals are centered near zero and need far less code
    * range than raw corpus positions — better recall at identical M.
    * Deterministic seeding contract: `seeds` are the `kCodes` vectors AFTER
    * the centroid seeds (`vec_id ∈ [nCells, nCells+kCodes)`, a
    * [[seedVectors]] range), each minus its own assigned centroid. The
    * centroid seeds themselves are unusable here — their residual is
    * exactly zero by construction (each is its own nearest centroid at
    * cosine 1.0), which would degenerate every subquantizer codebook to K
    * copies of the zero vector. */
  private def residualCodebook(seeds: Seq[Seq[Double]], cents: Seq[Seq[Double]],
                               m: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    val resid = seeds.map { seed =>
      val s = seed.toArray
      val c = cents(nearestCell(cents, s) - 1)
      Array.tabulate(s.length)(i => s(i) - c(i)).toSeq
    }
    subspaces(resid, m, dim)
  }

  /** IVF-PQ: the standard billion-scale ANN layout (coarse cell probe ×
    * PQ-compressed RESIDUAL scan) — probe the `nProbe` cells nearest the
    * query, then ADC-score only the rows inside them against
    * `centroid(cell) + decode(encode(v − centroid(cell)))`. At scale the
    * two layers multiply: the scan opens nProbe/nCells of the partitions
    * AND reads M byte-codes per row instead of raw vectors (the centroid
    * add-back is a per-executor constant lookup). Residual encoding (vs
    * round-7's raw-vector codes) is what makes the coarse and fine layers
    * compose: the subquantizers only span within-cell offsets —
    * [[ivfPqRecall]] measures the recall gain. Centroids and residual
    * codebook share the deterministic seeding contract, so the oracle
    * reproduces both layers exactly. */
  def ivfPqTopk(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10,
                nCells: Int = 16, nProbe: Int = 4, m: Int = 8,
                dim: Int = 64): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // one read for both layers: centroids [0, nCells), residual seeds
    // [nCells, 2·nCells) — the residualCodebook contract with kCodes = nCells
    val seeds = seedVectors(e, Long.MinValue, 2L * nCells)
    val cents = seedsIn(seeds, Long.MinValue, nCells)
    val rcb = residualCodebook(seedsIn(seeds, nCells, 2L * nCells), cents, m, dim)
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    val probeCells = probe(cents, qv, nProbe)
    val cellCent = element_at(typedLit(cents), col("cell").cast("int"))
    rerank(assignCells(e, cents)
      .where(col("cell").isin(probeCells: _*))
      .withColumn("recon", zip_with(
        pqReconstructCol(
          zip_with(col("embedding").cast("array<double>"), cellCent, (x, y) => x - y), rcb),
        cellCent, (x, y) => x + y)), qv, k, col("recon"))
  }

  /** Recall@k audit: residual IVF-PQ vs round-7's raw-vector PQ, both
    * ADC-ranked against the exact cosine ranking WITHIN the same probed
    * cells — cell pruning is held constant, so the two recall columns
    * isolate pure encoding quality (the measurement that justifies the
    * residual layout; FAISS's IVFPQ makes the same argument). Output one
    * row per query: hits/recall for each encoding against the exact top-k
    * of the probed subset.
    *
    * Scale shape: one fused assignment pass over the corpus, candidates
    * from a broadcast (query, probe-cell) equi-join as in [[ivfRecall]];
    * the three rankings are narrow expressions + per-query
    * WindowGroupLimit over that one candidate set. */
  def ivfPqRecall(spark: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10,
                  nCells: Int = 16, nProbe: Int = 4, m: Int = 8,
                  dim: Int = 64): DataFrame = {
    require(k > 0, s"k must be > 0 (recall divides by k), got $k")
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    // one read for every layer: centroids and raw PQ seeds [0, nCells),
    // residual seeds [nCells, 2·nCells), queries [0, nQueries)
    val seeds = seedVectors(e, Long.MinValue, math.max(2L * nCells, nQueries))
    val cents = seedsIn(seeds, Long.MinValue, nCells)
    val rawCb = subspaces(cents, m, dim)
    val rcb = residualCodebook(seedsIn(seeds, nCells, 2L * nCells), cents, m, dim)
    val qRows = seeds.filter(_._1 < nQueries)
    val queries = qRows.toDF("query_id", "query_vec")
    val probeDf = qRows.flatMap { case (qid, qv) =>
      probe(cents, qv.toArray, nProbe).map(ci => (qid, ci.toLong, qv))
    }.toDF("query_id", "cell", "query_vec")
    val cellCent = element_at(typedLit(cents), col("cell").cast("int"))
    val cand = assignCells(e, cents).join(broadcast(probeDf), Seq("cell"))
      .withColumn("resid_recon", zip_with(
        pqReconstructCol(
          zip_with(col("embedding").cast("array<double>"), cellCent, (x, y) => x - y), rcb),
        cellCent, (x, y) => x + y))
      .withColumn("raw_recon", pqReconstructCol(col("embedding"), rawCb))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("vec_id"))
    def topK(v: Column): DataFrame = cand
      .select(col("query_id"), col("vec_id"),
        round(cosine_sim(v, col("query_vec")), 6).as("score"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"))
    val truth = topK(col("embedding"))
    def hitsOf(arm: DataFrame, name: String): DataFrame =
      truth.join(arm, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    queries.select(col("query_id"))
      .join(hitsOf(topK(col("resid_recon")), "hits_resid"), Seq("query_id"), "left")
      .join(hitsOf(topK(col("raw_recon")), "hits_raw"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_resid"), lit(0L)).as("hits_resid"),
        coalesce(col("hits_raw"), lit(0L)).as("hits_raw"),
        round(coalesce(col("hits_resid"), lit(0L)) / lit(k.toDouble), 6).as("recall_resid"),
        round(coalesce(col("hits_raw"), lit(0L)) / lit(k.toDouble), 6).as("recall_raw"))
      .orderBy(asc("query_id"))
  }

  /** One Lloyd iteration of IVF centroid training: assign every vector to
    * its max-cosine centroid, emit the new centroid components as
    * (cell, pos, mean, members) rows. Shuffle budget = one aggregation on
    * (cell, pos) — cells × dim groups, map-side partial — exactly the
    * [[graft.operators.EmbeddingStats.perLabelCohesion]] centroid shape;
    * a full training run is this operator iterated with the returned
    * centroids fed back in. Means are rounded to 9 dp so cross-engine /
    * cross-partitioning summation drift stays below the output precision. */
  def kmeansStep(e: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    assignCells(e, cents)
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(avg(col("v")), 9).as("m"), count(lit(1)).as("members"))
      .select(col("cell"), col("pos").cast("bigint").as("pos"), col("m"), col("members"))
      .orderBy(col("cell"), col("pos"))

  /** Full IVF centroid training: [[kmeansStep]] iterated to convergence.
    * Seeds from the first `nCells` stored vectors (the same deterministic
    * contract every IVF operator here uses), then loops Lloyd iterations
    * until the largest centroid-component shift falls to `tol` or
    * `maxIters` is hit. A cell that loses all members keeps its previous
    * centroid (standard empty-cluster fallback, deterministic).
    *
    * Scale shape: the corpus is only ever touched by [[kmeansStep]]'s one
    * keyed aggregation per iteration; the driver holds nCells × dim
    * doubles (the centroids), never corpus rows. The 9-dp mean rounding
    * inside kmeansStep makes every iteration — and so the whole training
    * run — reproducible across partitionings and engines.
    *
    * Returns (centroids, iterations run). `iterations < maxIters` ⇒
    * converged.
    *
    * The default `tol = 0.0` stops ONLY at an exact 9-dp fixpoint (after
    * rounding, two distinct means differ by ≥ 1e-9, so shift is either 0
    * or ≥ 1e-9) — which is what makes the training run SQL-oracle-able:
    * once a fixpoint is reached every further Lloyd step is the identity,
    * so an oracle that always unrolls exactly `maxIters` steps computes
    * the same centroids whether the loop exited early or not. A positive
    * tol would admit an early exit at a NON-fixpoint that a fixed-depth
    * oracle cannot reproduce. */
  def trainCentroids(e: DataFrame, nCells: Int = 16, maxIters: Int = 10,
                     tol: Double = 0.0): (Seq[Seq[Double]], Int) = {
    var cents: Array[Array[Double]] = seedCentroids(e, nCells).map(_.toArray).toArray
    require(cents.nonEmpty, "cannot seed centroids from an empty corpus")
    var iters = 0
    var shift = Double.MaxValue
    while (iters < maxIters && shift > tol) {
      val rows = kmeansStep(e, cents.map(_.toSeq).toSeq).collect()
      val next = cents.map(_.clone) // empty cells keep their centroid
      rows.foreach { r =>
        next(r.getLong(0).toInt - 1)(r.getLong(1).toInt) = r.getDouble(2)
      }
      shift = cents.iterator.zip(next.iterator)
        .flatMap { case (a, b) => a.iterator.zip(b.iterator) }
        .map { case (x, y) => math.abs(x - y) }.max
      cents = next
      iters += 1
    }
    (cents.map(_.toSeq).toSeq, iters)
  }

  /** Full PQ codebook training: per-subspace Lloyd iterated to a 9-dp
    * fixpoint — [[trainCentroids]]' discipline applied to the
    * subquantizers, and the step that turns the PQ family's deterministic
    * seeding ([[pqCodebook]]: subspace slices of the first `kCodes`
    * vectors) into a production codebook. Assignment uses
    * [[graft.functions.PqCodes]] ITSELF (L2 argmin, first index on ties) —
    * training and encoding can never disagree about which code a
    * subvector takes — and the update is the per-(subspace, code,
    * position) mean, all M subspaces in ONE keyed aggregation per
    * iteration (m·kCodes·dsub bounded groups; the corpus is touched once
    * per iteration, the driver holds only the codebook). A code that
    * loses all members keeps its previous centroid (the
    * [[trainCentroids]] empty-cluster fallback). Means round to 9 dp so
    * the run is reproducible across partitionings and engines, and
    * `tol = 0.0` stops only at an exact fixpoint — the property that
    * makes a fixed-depth SQL oracle exact.
    *
    * This is the SETUP-TIME step for [[graft.streaming.Streaming
    * .streamSemanticDedupAdmitPq]]: train here, measure the admission
    * agreement against the raw gate (StreamingSpec does), then launch
    * with the codebook stream-constant — the gate's scaladoc contract.
    *
    * Returns (codebook, iterations run); `iterations < maxIters` ⇒
    * converged.
    *
    * Defaults are the MEASURED production point (round-15 curve, sf0.1
    * synthetic embeddings, tau 0.35 agreement vs the raw semantic gate):
    * m=16/kCodes=256 trained raw measures **0.991** at 16 longs of state
    * per vector — the 4× state cut over the raw 64-double row. The curve
    * is non-monotone in the obvious dials: the earlier seeded m=8/k=16
    * point sits at 0.878 (inadequate for admission), and RESIDUAL
    * encoding — the textbook refinement — measured WORSE for threshold
    * admission at every tried setting (0.937/0.969; StreamingSpec pins
    * the residual curve `< 0.98` so a future flip must be promoted by a
    * new measurement, not assumed). kCodes is free state-wise (state
    * width is M longs regardless of the alphabet), so prefer widening
    * the alphabet before adding subspaces.
    *
    * BREAKING NOTE (r16→r17): the defaults moved m=8/kCodes=16 →
    * m=16/kCodes=256. A stored PQ state or codebook built under the old
    * defaults has a different state width (8 vs 16 longs) and an
    * incompatible code alphabet — recomputing a codebook with today's
    * defaults against yesterday's state would misread every stored code.
    * [[graft.streaming.Streaming.streamSemanticDedupAdmitPq]] now records
    * (m, kCodes, residual) beside its state and REFUSES a mismatched
    * resume; callers persisting codebooks elsewhere should do the same. */
  def trainPqCodebook(e: DataFrame, m: Int = 16, kCodes: Int = 256,
                      dim: Int = 64, maxIters: Int = 10,
                      tol: Double = 0.0): (Seq[Seq[Seq[Double]]], Int) =
    trainPqLoop(e, pqCodebook(e, m, kCodes, dim), dim, maxIters, tol)

  /** RESIDUAL-trained PQ codebook — [[trainPqCodebook]] run on
    * `v − centroid(cell(v))` with [[residualCodebook]]'s seeds: the
    * IVF-PQ layout's training step ([[ivfPqTopk]]'s scaladoc argument —
    * within one cell the residuals are centered near zero, so the same
    * code budget spans a far smaller range). This is the setup-time step
    * for the RESIDUAL form of [[graft.streaming.Streaming
    * .streamSemanticDedupAdmitPq]]: the gate's state stays (cell, code)
    * with identical schema; only what the codes MEAN changes, which is
    * why the residual flag — like the codebook and `cents` — is
    * stream-constant by contract. */
  def trainResidualPqCodebook(e: DataFrame, cents: Seq[Seq[Double]],
                              m: Int = 16, kCodes: Int = 64,
                              dim: Int = 64, maxIters: Int = 10,
                              tol: Double = 0.0): (Seq[Seq[Seq[Double]]], Int) =
    trainPqLoop(residualsOf(e, cents),
      residualCodebook(seedVectors(e, cents.length, cents.length + kCodes).map(_._2),
        cents, m, dim),
      dim, maxIters, tol)

  /** `(vec_id, embedding = v − centroid(cell(v)))` — the residual view of
    * a corpus under a fixed coarse quantizer, shared by residual training
    * and any residual encode audit. */
  private[graft] def residualsOf(e: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    assignCells(e.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"),
          element_at(typedLit(cents), col("cell").cast("int")),
          (x, y) => x - y).as("embedding"))

  /** The Lloyd loop shared by [[trainPqCodebook]] (raw seeds/vectors) and
    * [[trainResidualPqCodebook]] (residual seeds/vectors). */
  private def trainPqLoop(e: DataFrame, seed: Seq[Seq[Seq[Double]]],
                          dim: Int, maxIters: Int,
                          tol: Double): (Seq[Seq[Seq[Double]]], Int) = {
    var cb: Array[Array[Array[Double]]] =
      seed.map(_.map(_.toArray).toArray).toArray
    require(cb.forall(_.nonEmpty), "cannot seed a PQ codebook from an empty corpus")
    var iters = 0
    var shift = Double.MaxValue
    while (iters < maxIters && shift > tol) {
      val rows = pqTrainStep(e, cb.map(_.map(_.toSeq).toSeq).toSeq, dim).collect()
      val next = cb.map(_.map(_.clone))
      rows.foreach { r =>
        next(r.getLong(0).toInt)(r.getLong(1).toInt)(r.getLong(2).toInt) = r.getDouble(3)
      }
      shift = cb.iterator.zip(next.iterator)
        .flatMap { case (a, b) => a.iterator.zip(b.iterator) }
        .flatMap { case (a, b) => a.iterator.zip(b.iterator) }
        .map { case (x, y) => math.abs(x - y) }.max
      cb = next
      iters += 1
    }
    (cb.map(_.map(_.toSeq).toSeq).toSeq, iters)
  }

  /** One Lloyd iteration of PQ codebook training — [[kmeansStep]]'s shape
    * for the subquantizers: encode every vector with
    * [[graft.functions.PqCodes]] under the given codebook (L2 argmin,
    * first index on ties — the exact assignment the store uses), emit the
    * new codeword components as (s, code, p, mv, members) rows, 0-based
    * throughout. All M subspaces in ONE keyed aggregation (m·k·dsub
    * bounded groups); means round to 9 dp (the [[kmeansStep]]
    * reproducibility contract). */
  def pqTrainStep(e: DataFrame, codebook: Seq[Seq[Seq[Double]]],
                  dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val m = codebook.length
    require(m > 0 && dim % m == 0, s"dim $dim must be divisible by m $m")
    val dsub = dim / m
    val codes = Bridge.column(graft.functions.PqCodes(
      Bridge.expression(col("embedding").cast("array<double>")), codebook))
    e.select(codes.as("codes"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .select((col("pos") / dsub).cast("long").as("s"),
        element_at(col("codes"), (col("pos") / dsub).cast("int") + 1).as("code"),
        (col("pos") % dsub).cast("long").as("p"), col("v"))
      .groupBy(col("s"), col("code"), col("p"))
      .agg(round(avg(col("v")), 9).as("mv"), count(lit(1)).as("members"))
      .orderBy(col("s"), col("code"), col("p"))
  }

  /** The (s, code, p, mv) row layout of a PQ codebook — 0-based
    * throughout, matching [[pqTrainStep]]'s keys. Owned here so the
    * `pq_train_full` query/oracle and any persisted codebook share one
    * contract. */
  private[graft] def pqCodebookToDF(spark: SparkSession,
                                    cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (ks, s) =>
      ks.zipWithIndex.flatMap { case (cv, k) =>
        cv.zipWithIndex.map { case (v, p) => (s.toLong, k.toLong, p.toLong, v) }
      }
    }.toDF("s", "code", "p", "mv")
  }

  /** The (cell, pos, m) row layout of a centroid matrix — 1-based cells,
    * 0-based positions. The persisted `_centroids` / `_coarse_centroids`
    * parquet ([[writeCentroids]] / [[readCentroids]]) and the
    * `ivf_train_full` query/oracle all depend on this one layout. */
  private[graft] def centroidsToDF(spark: SparkSession,
                                   cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (v, p) =>
        ((i + 1).toLong, p.toLong, v) } }
      .toDF("cell", "pos", "m")
  }

  /** Persist a centroid matrix at `path` in the [[centroidsToDF]] layout. */
  private def writeCentroids(spark: SparkSession, cents: Seq[Seq[Double]],
                             path: String): Unit =
    Tables.write(centroidsToDF(spark, cents).coalesce(1)).mode("overwrite").parquet(path)

  /** The centroid matrix [[writeCentroids]] stored at `path`. */
  private def readCentroids(spark: SparkSession, path: String): Seq[Seq[Double]] = {
    val rows = Tables.read(spark, path).collect()
    val dim = rows.iterator.map(_.getLong(1)).max.toInt + 1
    val a = Array.ofDim[Double](rows.iterator.map(_.getLong(0)).max.toInt, dim)
    rows.foreach(r => a(r.getLong(0).toInt - 1)(r.getLong(1).toInt) = r.getDouble(2))
    a.map(_.toSeq).toSeq
  }

  /** Persist seed vectors at `path` as `(cidx, cv)` rows — 0-based index,
    * vector — the layout of the `cents+cells` and `coarse+fine+cells2`
    * index families. */
  private[graft] def writeSeedList(spark: SparkSession, cents: Seq[Seq[Double]],
                                   path: String): Unit = {
    import spark.implicits._
    Tables.write(cents.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cidx", "cv").coalesce(1))
      .mode("overwrite").parquet(path)
  }

  /** The seed vectors [[writeSeedList]] stored at `path`, in `cidx` order. */
  private[graft] def readSeedList(spark: SparkSession, path: String): Seq[Seq[Double]] =
    Tables.read(spark, path).orderBy(col("cidx")).select(col("cv")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq

  /** IVF probe against an index built from TRAINED centroids — the
    * production realization of [[ivfTopkIndexed]]'s scaladoc note: train
    * with [[trainCentroids]], persist the centroids BESIDE the
    * cell-partitioned index (a `_centroids` parquet — the leading
    * underscore keeps it invisible to the index's own partition
    * discovery), and probe later sessions from the stored centroids, so
    * probe-side cell ranking always uses the exact centroids the cells
    * were assigned with — index and probe can never drift apart.
    *
    * Index lifecycle contract as [[annTopkIndexed]]; the training contract
    * (maxIters, tol-0 fixpoint) is part of the registered params, so an
    * index trained under different rules is a definition mismatch, never
    * silently served. Crash safety comes from the catalog's manifest-last
    * registration — a crash mid-build leaves no entry, and the next
    * resolve rebuilds into a fresh version dir. */
  def ivfTopkTrained(spark: SparkSession, dir: String, queryVecId: Long = 0L,
                     k: Int = 10, nCells: Int = 16, nProbe: Int = 4,
                     maxIters: Int = 10,
                     policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame = {
    val idx = CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = s"embeddings-ivf-trained-c$nCells-i$maxIters", kind = "ivf-trained",
      sourcePath = s"$dir/embeddings.parquet",
      params = Map("nCells" -> nCells.toString, "maxIters" -> maxIters.toString,
        "tol" -> "0"),
      policy = policy) { out =>
      val (trained, _) = trainCentroids(Tables.embeddings(spark, dir), nCells, maxIters)
      Tables.write(assignCells(Tables.embeddingsAtSourceWidth(spark, dir), trained))
        .mode("overwrite").partitionBy("cell").parquet(out)
      writeCentroids(spark, trained, s"$out/_centroids")
    }
    val cents = readCentroids(spark, s"${idx.path}/_centroids")
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    rerank(Tables.read(spark, idx.path).where(col("cell").isin(probe(cents, qv, nProbe): _*)),
      qv, k)
  }

  /** Query-side probe list: top nProbe cells by (rounded) centroid cosine,
    * lowest cell index on ties — 1-based to match the oracle's
    * list_position. */
  private[graft] def probe(cents: Seq[Seq[Double]], qv: Array[Double], nProbe: Int): Seq[Int] =
    cents.zipWithIndex
      .map { case (c, i) =>
        // HALF_UP = round-away-from-zero, matching SQL round() semantics
        (BigDecimal(cosine(qv, c.toArray)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          i + 1)
      }
      .sortBy { case (s, i) => (-s, i) }
      .take(nProbe).map(_._2)

  /** Corpus-side cell assignment of the `vecCol` vectors: argmax centroid
    * cosine, first index on ties (1-based, matching the oracle's
    * list_position), as a `cell` column. The ONE place the assignment
    * expression lives — the stored index, the training step, and the
    * scan-time probe must agree cell-for-cell. Native fused expression:
    * see [[graft.functions.NearestCentroid]]. */
  private[graft] def assignCells(e: DataFrame, cents: Seq[Seq[Double]],
                                 vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    e.withColumn("cell", Bridge.column(graft.functions.NearestCentroid(
      Bridge.expression(col(vecCol).cast("array<double>")), cents)))
  }

  /** The probe side of a cell equi-join: one `(idCol, qv, cellCol)` row
    * per cell among the top `width` of `cents` for the `vecCol` vector,
    * `qv` the vector widened to DOUBLE. Cells rank by 6-dp cosine desc,
    * lower cell on ties — the [[probe]] contract as the fused
    * [[graft.functions.TopCells]] pass. `width` is clamped to
    * `cents.length` here, once for every caller: a side holding fewer
    * seed vectors than the probe width probes all of its cells. */
  private[graft] def probeCells(df: DataFrame, idCol: String, vecCol: String,
                                cents: Seq[Seq[Double]], width: Int,
                                cellCol: String = "cell"): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    df.select(col(idCol), col(vecCol).cast("array<double>").as("qv"),
      explode(Bridge.column(graft.functions.TopCells(
        Bridge.expression(col(vecCol).cast("array<double>")), cents,
        math.min(width, cents.length)))).as(cellCol))
  }

  /** The `n` LOWEST-`idCol` vectors of `df` as driver-side seeds, in id
    * order — the seeding contract for a side whose id space is not dense
    * (a split or filtered side), where [[seedCentroids]]' `vec_id < n`
    * range would miss. One bounded top-`n` collect. */
  private[graft] def lowestIdSeeds(df: DataFrame, idCol: String, vecCol: String,
                                   n: Int): Seq[Seq[Double]] =
    df.orderBy(col(idCol)).limit(n).select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq

  /** [[fineCentroids]] over the `nFine` LOWEST-`idCol` vectors of `df` (the
    * [[lowestIdSeeds]] contract): `(fcell, ccell, fv)` with `fcell` the
    * 1-based id rank. The `row_number` is the only single-partition
    * window, bounded by `nFine` rows by construction. */
  private[graft] def lowestIdFineCentroids(df: DataFrame, idCol: String, vecCol: String,
                                           coarse: Seq[Seq[Double]], nFine: Int): DataFrame =
    assignCells(df.orderBy(col(idCol)).limit(nFine)
        .select(col(idCol), col(vecCol).cast("array<double>").as("fv")), coarse, "fv")
      .withColumn("fcell", row_number().over(Window.orderBy(col(idCol))).cast("long"))
      .select(col("fcell"), col("cell").as("ccell"), col("fv"))

  /** The two-level probe side: [[probeCells]] over the top `wCoarse`
    * COARSE cells, the fine table's children of those cells joined on
    * `ccell`, and each id's top `nProbe` fine cells kept — one
    * `(idCol, qv, fcell)` row each, ranked by 6-dp cosine desc, lower
    * `fcell` on ties (the [[assignCells2]] contract) under a per-id
    * WindowGroupLimit. A fine cell has one coarse parent, so an id's
    * probed `fcell`s are distinct. */
  private[graft] def probeFineCells(df: DataFrame, idCol: String, vecCol: String,
                                    coarse: Seq[Seq[Double]], wCoarse: Int,
                                    fineTab: DataFrame, nProbe: Int): DataFrame =
    probeCells(df, idCol, vecCol, coarse, wCoarse, "ccell")
      .join(fineTab, Seq("ccell"))
      .withColumn("fs", round(cosine_sim(col("qv"), col("fv")), 6))
      .withColumn("frnk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(desc("fs"), asc("fcell"))))
      .where(col("frnk") <= nProbe)
      .select(col(idCol), col("qv"), col("fcell"))

  /** The stored vectors with `from <= vec_id < until` as `(vec_id, vector)`
    * pairs in ascending `vec_id` order, widened to DOUBLE — the ONE reader
    * of the deterministic seeding contract every IVF/PQ operator here
    * shares (reference point: the in-memory store scores ALL records per
    * query, `collection/collection.go:64-151`; seeding makes the
    * sub-linear probe oracle-reproducible). The range is a filter the scan
    * pushes down and the order is a driver sort of the collected rows, so
    * the read is one job with no sampling pass, no exchange and no Sort.
    * NULL ids never match; fewer rows come back when fewer exist. Driver
    * state is `(until − from) × dim` doubles — callers must keep the range
    * at the COARSE layer's size. A caller that needs several ranges reads
    * their span once and slices it with [[seedsIn]]. */
  private[graft] def seedVectors(e: DataFrame, from: Long,
                                 until: Long): Seq[(Long, Seq[Double])] =
    e.where(col("vec_id") >= from && col("vec_id") < until)
      .select(col("vec_id").cast("bigint"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq

  /** The first `n` stored vectors (`vec_id < n`) as a driver-side centroid
    * seed matrix — [[seedVectors]] without the ids. */
  private[graft] def seedCentroids(e: DataFrame, n: Long): Seq[Seq[Double]] =
    seedVectors(e, Long.MinValue, n).map(_._2)

  /** The vectors of one [[seedVectors]] read with `from <= vec_id < until`. */
  private[graft] def seedsIn(seeds: Seq[(Long, Seq[Double])], from: Long,
                             until: Long): Seq[Seq[Double]] =
    seeds.collect { case (id, v) if id >= from && id < until => v }

  /** The fine layer of the TWO-LEVEL coarse quantizer as a TABLE, never
    * driver state: one row per fine centroid — `(fcell, ccell, fv)` where
    * `fcell = vec_id + 1` (the seeding contract at the fine layer: fine
    * centroid j is stored vector j−1) and `ccell` is the fine centroid's
    * own coarse parent under [[assignCells]]'s raw-argmax contract.
    *
    * This is the structure that retires the flat IVF family's last scale
    * rung: a flat probe bakes `nCells × dim` doubles into every plan as a
    * literal and collects them driver-side — at the √N cell dial and
    * 10¹²-vector scale that is a ~0.5 GB plan literal per query. Here only
    * the COARSE layer (≈ √nFine ∝ N^¼ rows) is ever a literal; the fine
    * layer lives in this table and reaches the plan through equi-joins on
    * `ccell` (assignment/probe) and `fcell` (candidate pruning). */
  private[graft] def fineCentroids(e: DataFrame, coarse: Seq[Seq[Double]],
                                   nFine: Int): DataFrame =
    assignCells(e.where(col("vec_id") < nFine), coarse)
      .select((col("vec_id") + lit(1L)).as("fcell"),
        col("cell").as("ccell"),
        col("embedding").cast("array<double>").as("fv"))

  /** Two-level cell assignment: vector → nearest COARSE cell (fused
    * [[graft.functions.NearestCentroid]] over the literal-sized coarse
    * layer), then nearest FINE centroid among that coarse cell's children,
    * resolved by an equi-join against [[fineCentroids]] — the fine layer
    * is joined, never collected or baked into the plan. Fine ranking
    * contract: 6-dp-rounded cosine desc, lower `fcell` on ties (the
    * [[probe]] contract, which is what keeps the join+aggregate form
    * SQL-oracle-able — the oracle reproduces it as a row_number window).
    * Output: one `(idCol, carry…, fcell)` row per `idCol`, the `vecCol`
    * vectors assigned.
    *
    * The per-vector argmax is a `max_by` HASH aggregation, not a window:
    * partial map-side combine keeps ≤1 row per vector per partition before
    * the exchange with NO local sort of the join fan-out (the fan-out is
    * nFine/nCoarse ≈ √nFine rows per vector — pipelined through the join
    * and collapsed immediately). Standard hierarchical-IVF caveat, stated:
    * assignment is approximate — a vector near a coarse boundary may sit
    * closer to a fine centroid in the unprobed neighbor cell; recall is
    * the wCoarse/nProbe dial measured the [[ivfRecall]] way. Arithmetic
    * per vector is nCoarse + nFine/nCoarse cosines vs the flat layer's
    * nFine — at 10¹² vectors / 10⁶ fine cells, ~2·10³ vs 10⁶ per row. */
  private[graft] def assignCells2(e: DataFrame, coarse: Seq[Seq[Double]],
                                  fineTab: DataFrame, idCol: String = "vec_id",
                                  vecCol: String = "embedding",
                                  carry: Seq[String] = Seq("label", "embedding")): DataFrame =
    assignCells(e, coarse, vecCol).withColumnRenamed("cell", "ccell")
      .join(fineTab, Seq("ccell"))
      .select((col(idCol) +: carry.map(col)) :+ col("fcell") :+
        round(cosine_sim(col(vecCol).cast("array<double>"), col("fv")), 6).as("fs"): _*)
      .groupBy(col(idCol))
      .agg(max_by(
        struct(carry.map(col) :+ col("fcell"): _*),
        struct(col("fs"), (-col("fcell")).as("nf"))).as("m"))
      .select((col(idCol) +: carry.map(c => col(s"m.$c").as(c))) :+
        col("m.fcell").as("fcell"): _*)

  /** The query's top `nProbe` fine cells among the children of its top
    * `wCoarse` coarse cells, as an `fcell` table — 6-dp cosine desc, lower
    * `fcell` on ties (the [[probeFineCells]] contract for one driver-side
    * query; ≤ wCoarse·nFine/nCoarse rows are ranked). */
  private def queryFineCells(fineTab: DataFrame, coarse: Seq[Seq[Double]],
                             qv: Array[Double], wCoarse: Int, nProbe: Int): DataFrame =
    fineTab.where(col("ccell").isin(probe(coarse, qv, wCoarse): _*))
      .select(col("fcell"), round(cosine_sim(col("fv"), typedLit(qv.toSeq)), 6).as("s"))
      .orderBy(desc("s"), asc("fcell")).limit(nProbe)
      .select(col("fcell"))

  /** Two-level IVF top-k — the hierarchical-coarse-quantizer probe: rank
    * the `nCoarse` coarse cells against the query driver-side (coarse
    * layer only — the one literal), open the top `wCoarse`, rank the fine
    * centroids inside them (a filter + top-nProbe over [[fineCentroids]],
    * a ≤ wCoarse·nFine/nCoarse-row subtree), and exact-rerank the corpus
    * rows ASSIGNED ([[assignCells2]]) to the probed fine cells — the
    * candidate gate is a broadcast semi-join on `fcell` (≤ nProbe rows).
    *
    * Scale shape: driver state is nCoarse × dim ≈ N^¼·dim doubles (10¹²
    * vectors → ~0.5 MB vs the flat layout's ~0.5 GB); nothing corpus-sized
    * is broadcast, collected, or planned as a literal (PlanShapeSpec
    * asserts the join directions). Same recall/cost dial as flat IVF with
    * one more rung: grow nFine ∝ √N, nCoarse ∝ √nFine, raise
    * wCoarse/nProbe for recall. */
  def ivfTopk2(spark: SparkSession, dir: String, queryVecId: Long = 0L,
               k: Int = 10, nFine: Int = 16, nCoarse: Int = 4,
               wCoarse: Int = 2, nProbe: Int = 4): DataFrame = {
    require(nCoarse <= nFine, s"nCoarse ($nCoarse) must be <= nFine ($nFine)")
    val e = Tables.embeddings(spark, dir)
    val coarse = seedCentroids(e, nCoarse)
    val fineTab = fineCentroids(e, coarse, nFine)
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    rerank(assignCells2(e, coarse, fineTab).join(
      broadcast(queryFineCells(fineTab, coarse, qv, wCoarse, nProbe)), Seq("fcell"), "leftsemi"),
      qv, k)
  }

  /** [[ivfTopk2]] against a PERSISTED two-level index: the corpus written
    * once partitioned by FINE cell, the fine-centroid table stored beside
    * it (`_fine_centroids` — the "stored coarse→fine table" the
    * hierarchical layout is named for), and the coarse layer stored as
    * `_coarse_centroids` so probe-side ranking always uses the exact
    * layers the cells were assigned with. A probe reads ≤ nProbe of nFine
    * partitions (real partition pruning at the FINE granularity — nFine
    * grows √N, so pruning sharpens as the corpus grows) plus the two
    * centroid artifacts: the fine table scan is nFine rows filtered to
    * wCoarse coarse cells, the coarse read is the only driver collect.
    * Same layers, same assignment, same ranking ⇒ same oracle as
    * [[ivfTopk2]]. Index lifecycle contract as [[annTopkIndexed]]. */
  def ivfTopk2Indexed(spark: SparkSession, dir: String, queryVecId: Long = 0L,
                      k: Int = 10, nFine: Int = 16, nCoarse: Int = 4,
                      wCoarse: Int = 2, nProbe: Int = 4,
                      policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame = {
    val idx = CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = s"embeddings-ivf2-f$nFine-c$nCoarse", kind = "ivf-two-level",
      sourcePath = s"$dir/embeddings.parquet",
      params = Map("nFine" -> nFine.toString, "nCoarse" -> nCoarse.toString),
      policy = policy) { out =>
      val e = Tables.embeddingsAtSourceWidth(spark, dir)
      val coarse = seedCentroids(e, nCoarse)
      val fineTab = fineCentroids(e, coarse, nFine)
      Tables.write(assignCells2(e, coarse, fineTab))
        .mode("overwrite").partitionBy("fcell").parquet(out)
      Tables.write(fineTab.coalesce(1)).mode("overwrite").parquet(s"$out/_fine_centroids")
      writeCentroids(spark, coarse, s"$out/_coarse_centroids")
    }
    val coarse = readCentroids(spark, s"${idx.path}/_coarse_centroids")
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    // ≤ nProbe fine ids — bounded driver state, and the literal the scan's
    // partition pruning needs
    val fineIds = queryFineCells(Tables.read(spark, s"${idx.path}/_fine_centroids"),
      coarse, qv, wCoarse, nProbe).collect().map(_.getLong(0))
    rerank(Tables.read(spark, idx.path).where(col("fcell").isin(fineIds: _*)), qv, k)
  }

  /** [[ivfTopkIndexed]] with the flat-vs-two-level rung SELF-DIALED from
    * the requested cell count — [[FlatCellMax]]'s dial extended to the
    * STORED-index family, closing the round-13 residual (the rung-picker
    * covered the inline entry points while the indexed probes still made
    * the caller pick the layout at build time). The BUILD picks the
    * layout: at `nCells ≤ flatCellMax` this IS [[ivfTopkIndexed]] (flat
    * cell-partitioned layout, `nCells × dim` driver collect at probe
    * time); above, [[ivfTopk2Indexed]] with `nFine = nCells`, `nCoarse =
    * wCoarse = ⌈√nCells⌉` — coarse full-open, so the switch retires the
    * plan literal and driver collect without adding a recall cut. The
    * REGISTRY records the rung implicitly and exactly: the two layouts
    * register under different names/params (`embeddings-ivf-c·` vs
    * `embeddings-ivf2-f·-c·`), and the probe re-derives the same branch
    * from the same pure function of `nCells` — a stored layout can never
    * be read through the other rung's probe. RungPickerSpec pins auto ≡
    * explicit on both sides. */
  def ivfTopkIndexedAuto(spark: SparkSession, dir: String, queryVecId: Long = 0L,
                         k: Int = 10, nCells: Int = 16, nProbe: Int = 4,
                         policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing,
                         flatCellMax: Int = FlatCellMax): DataFrame =
    if (nCells <= flatCellMax)
      ivfTopkIndexed(spark, dir, queryVecId, k, nCells, nProbe, policy)
    else
      ivfTopk2Indexed(spark, dir, queryVecId, k, nCells, coarseFor(nCells),
        coarseFor(nCells), nProbe, policy)

  /** Per-query hit counts of the IVF probe vs the exact scan for the
    * query rows `qRows` (the first `nQueries` stored vectors, as the caller
    * read them with [[seedVectors]]), for a GIVEN centroid matrix — the
    * shared measurement core of [[ivfRecall]] (seeded centroids, per-query
    * report) and [[ivfRetrainOnRecall]] (stale trained centroids, summed
    * to the integer rebuild trigger). Returns `(query_id, hits)`, one row
    * per query row in `query_id` order, zero-hit queries included.
    *
    * `hits` is the size of the equi-join on `vec_id` of the query's exact
    * top-k and its IVF top-k (rows in the query's `nProbe` cells only),
    * both ranked as [[Similarity.similarityJoin]] ranks: a NULL `vec_id`
    * never matches, and a duplicated id counts as that join counts it.
    *
    * Shape: ONE corpus pass — [[assignCells]] (the one assignment
    * expression) feeds a `mapPartitions` over the broadcast
    * [[QueryBlock]] that scores each row once per query and keeps two
    * k-slot selections per query, one over all rows and one over the rows
    * whose cell the query probes ([[QueryBlock.probedTopK]]); ONE exchange
    * on `query_id` brings each query's ≤ 2·k·P candidates together, where
    * [[QueryBlock.recallHits]] merges them into the two top-k lists and
    * counts their intersection. The final single-partition step adds the
    * queries with no candidate (k = 0, an empty corpus) and orders at most
    * `qRows.size` rows, so no range exchange follows. */
  private[operators] def probeHits(e: DataFrame, cents: Seq[Seq[Double]],
                                   qRows: Seq[(Long, Seq[Double])], k: Int,
                                   nProbe: Int): DataFrame = {
    val block = QueryBlock(qRows.map { case (q, v) => Row(q, v) }.toArray)
    val probes = qRows.map { case (_, v) =>
      val cells = new java.util.BitSet
      probe(cents, v.toArray, nProbe).foreach(cells.set)
      cells
    }.toArray
    val shared = e.sparkSession.sparkContext.broadcast((block, probes))
    val idType = e.schema("vec_id").dataType
    val candidateSchema = StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("vec_id", idType), StructField("score", DoubleType),
      StructField("probed", BooleanType, nullable = false)))
    val hitsSchema = StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("hits", LongType, nullable = false)))
    val queryIds = qRows.map(_._1).sorted.toArray
    assignCells(e, cents)
      .select(col("vec_id"), col("label"), col("embedding"), col("cell"))
      .mapPartitions(rows => shared.value._1.probedTopK(rows, k, idType, shared.value._2))(
        Encoders.row(candidateSchema))
      .repartition(col("query_id"))
      .mapPartitions(rows => QueryBlock.recallHits(rows, k, idType))(Encoders.row(hitsSchema))
      .coalesce(1)
      .mapPartitions { rows =>
        val hits = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        queryIds.iterator.map(q => Row(q, hits.getOrElse(q, 0L)))
      }(Encoders.row(hitsSchema))
  }

  /** Recall@k audit of the IVF probe against the exact scan — the
    * [[annRecall]] twin for the centroid index, and the tool that picks
    * `nProbe`: sweep it, read the recall/cost curve, deploy the knee. With
    * `nProbe = nCells` the probe degenerates to the exact scan (recall
    * 1.0 by construction — pinned in the spec); production recall decays
    * as the corpus drifts from the trained centroids, and this measurement
    * is the retrain trigger. Scale shape: [[probeHits]]. */
  def ivfRecall(spark: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10,
                nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    require(k > 0, s"k must be > 0 (recall divides by k), got $k")
    val e = Tables.embeddings(spark, dir)
    // one read serves both the centroids and the queries
    val seeds = seedVectors(e, Long.MinValue, math.max(nCells, nQueries).toLong)
    probeHits(e, seedsIn(seeds, Long.MinValue, nCells), seeds.filter(_._1 < nQueries),
      k, nProbe)
      .select(col("query_id"), col("hits"),
        round(col("hits") / lit(k.toDouble), 6).as("recall"))
      .orderBy(asc("query_id"))
  }

  private def ivfProbe(e: DataFrame, cents: Seq[Seq[Double]], qv: Array[Double],
                       k: Int, nProbe: Int): DataFrame = {
    rerank(assignCells(e, cents).where(col("cell").isin(probe(cents, qv, nProbe): _*)), qv, k)
  }

  /** IVF probe over a base index PLUS an un-retrained delta — the batch
    * semantics of continuous index maintenance
    * ([[graft.streaming.Streaming.streamIvfIngest]]): centroids are
    * trained on the base corpus only (`vec_id < splitId`, the vectors
    * that existed at index-build time), later arrivals are assigned to
    * cells with those SAME frozen centroids and appended, and a probe
    * reads base ∪ delta pruned to the probed cells. This is the state an
    * index is in between retrains; [[ivfRecall]] over it is the retrain
    * trigger ([[ivfTopkTrained]] note on drift).
    *
    * Scale shape: one Lloyd run over the base (bounded driver state), one
    * fused assignment pass per side, and a cell-pruned scan — with the
    * cell as a partition column (as the streaming sink writes it), the
    * probe reads only probed partitions of both base and delta. The
    * base/delta union is assignment-identical to assigning the whole
    * corpus with the frozen centroids, which is what makes the operator
    * SQL-oracle-able. */
  def ivfDeltaTopk(spark: SparkSession, dir: String, queryVecId: Long = 0L,
                   k: Int = 10, nCells: Int = 16, nProbe: Int = 4,
                   maxIters: Int = 10, splitId: Long = 250L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val base = e.where(col("vec_id") < splitId)
    val delta = e.where(col("vec_id") >= splitId)
    val (cents, _) = trainCentroids(base, nCells, maxIters)
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    rerank(assignCells(base, cents).unionByName(assignCells(delta, cents))
      .where(col("cell").isin(probe(cents, qv, nProbe): _*)), qv, k)
  }

  /** The recall-drop → rebuild loop as an OPERATOR — the composition
    * [[ivfRecall]]'s scaladoc calls "the retrain trigger" and
    * [[ivfDeltaTopk]]'s "the state an index is in between retrains",
    * wired end-to-end instead of prose:
    *
    *  1. the index is in the delta state — centroids Lloyd-trained on the
    *     base corpus only (`vec_id < splitId`, the vectors that existed at
    *     build time), later arrivals assigned with those frozen centroids;
    *  2. the trigger measures it — [[probeHits]] of the stale probe vs the
    *     exact scan over the first `nQueries` stored vectors, summed to
    *     ONE integer `total_hits` (out of `nQueries·k`). The threshold is
    *     an INTEGER `minHits`, not a float recall — the branch is an exact
    *     integer comparison on both engines, so the oracle reproduces the
    *     decision bit-for-bit;
    *  3. the branch acts — `total_hits < minHits` retrains over the FULL
    *     corpus ([[trainCentroids]], same fixpoint contract) and serves
    *     the probe from the fresh centroids; otherwise the stale delta
    *     layout keeps serving ([[ivfDeltaTopk]]'s base ∪ delta form).
    *
    * Output: the served top-k plus the decision record — `rebuilt` and
    * `total_hits` as constant columns, so the verdict is part of the
    * oracle-checked result, not a log line.
    *
    * Scale shape: the trigger is one assignment pass + a k-row-per-query
    * rank-set join (the [[ivfRecall]] shape); its driver state is ONE long
    * (the summed hits — control flow has to surface driver-side to pick a
    * plan). Retraining costs one Lloyd run over the corpus — the loop
    * exists precisely so that price is paid only when measured recall says
    * so. The same trigger composes with the PERSISTED index family: run
    * the measurement against [[ivfTopkTrained]]'s stored centroids and on
    * a drop re-resolve with `IndexPolicy.ForceRebuild` — the registry's
    * versioned-dir discipline makes the swap atomic (readers of the old
    * version are undisturbed; the manifest flips last). */
  def ivfRetrainOnRecall(spark: SparkSession, dir: String, queryVecId: Long = 0L,
                         k: Int = 10, nCells: Int = 16, nProbe: Int = 4,
                         maxIters: Int = 10, splitId: Long = 250L,
                         nQueries: Int = 8, minHits: Long = 64L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val base = e.where(col("vec_id") < splitId)
    val delta = e.where(col("vec_id") >= splitId)
    val (stale, _) = trainCentroids(base, nCells, maxIters)
    val totalHits = probeHits(e, stale, seedVectors(e, Long.MinValue, nQueries), k, nProbe)
      .agg(sum(col("hits"))).collect()(0).getLong(0)
    val qv = Similarity.queryVector(spark, dir, queryVecId)
    val rebuilt = totalHits < minHits
    val served =
      if (rebuilt) {
        val (fresh, _) = trainCentroids(e, nCells, maxIters)
        val probeCells = probe(fresh, qv, nProbe)
        assignCells(e, fresh)
          .where(col("cell").isin(probeCells: _*))
      } else {
        val probeCells = probe(stale, qv, nProbe)
        assignCells(base, stale).unionByName(assignCells(delta, stale))
          .where(col("cell").isin(probeCells: _*))
      }
    rerank(served, qv, k)
      .withColumn("rebuilt", lit(rebuilt))
      .withColumn("total_hits", lit(totalHits))
  }
}
