package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.cosine_sim

/** Graph-centrality priors over the corpus similarity graph.
  *
  * Web-scale curation pipelines rank pages by link-graph centrality
  * (Common Crawl publishes harmonic-centrality rankings; OPIC/PageRank is
  * the classic form) and keep the top of the ranking as a quality prior.
  * This family applies the same idea to the EMBEDDING similarity graph: a
  * vector that many other vectors point to (it is among their nearest
  * neighbors) sits in a dense, well-connected region — a centrality score
  * over that graph separates prototypical from isolated/outlier content,
  * complementing [[Dedup.semanticDedup]] (which removes redundancy) and
  * [[EmbeddingStats]] (which audits geometry).
  *
  * Everything is a fixed-iteration dataflow — the
  * [[graft.operators.Ann.trainCentroids]] oracle-ability contract: no
  * convergence test, no RNG, every per-iteration reduction rounded to a
  * fixed 12-dp grid so cross-engine float drift cannot accumulate across
  * iterations.
  */
object Centrality {

  /** PageRank with a FIXED iteration count over an explicit directed edge
    * table (`src`, `dst`), for the node set `nodes` (column `vec_id`).
    *
    * Semantics: `r₀ = 1/N`; each step
    * `r'(v) = (1−d)/N + d·Σ_{u→v} r(u)/outdeg(u)`, the leaked-mass
    * variant — a node with no out-edges drops its mass rather than
    * redistributing it (deterministic, and irrelevant for kNN graphs
    * where every node has out-degree k). Per-step ranks round to 12 dp
    * (the cross-engine determinization grid), the returned `rank` to 6 dp.
    *
    * Scale shape: per iteration, one equi-join of the edge table against
    * the current rank vector on `src` and one `dst`-keyed aggregation with
    * map-side partials — the textbook distributed PageRank step; nothing
    * is ever collected to the driver (N is the only driver scalar, the
    * same bounded-state contract as Lloyd's convergence check). The edge
    * table (with out-degrees) is CACHED for the loop — every iteration
    * re-reads it, and when the edge build is itself expensive (the kNN
    * scoring below) an uncached plan re-runs it per iteration (measured
    * 15.8 s → 3 s at sf0.1). The [[Dedup.dedupGroups]] lifecycle contract:
    * the final ranks are materialized into the cache (they are the
    * result's working set) and the edge cache is released before
    * returning. At 100 TB the edge table is a stored artifact (build it
    * with the ANN index probes and persist via the catalog), and `iters`
    * stays small — PageRank's useful signal saturates in a few rounds. */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int = 5,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val n = nodes.count().toDouble // bounded driver scalar, like Lloyd's tol
    // Out-degree via a src-keyed window, NOT a self-join: the edge table is
    // often an expensive subtree (the kNN scoring below), and a self-join
    // evaluates it twice before the cache exists. One window = one pass,
    // same src-hash shuffle the loop joins need anyway (measured 30.7 s →
    // edge-build cost once at sf0.1 for the cache fill).
    val esrc = edges.withColumn("odeg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var r = nodes.select(col("vec_id"), (lit(1.0) / lit(n)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = esrc
        .join(r.withColumnRenamed("vec_id", "src"), "src")
        .groupBy(col("dst")).agg(sum(col("r") / col("odeg")).as("m"))
      r = nodes
        .join(contrib.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          round((lit(1.0) - lit(damping)) / lit(n) +
            lit(damping) * coalesce(col("m"), lit(0.0)), 12).as("r"))
    }
    // localCheckpoint, NOT persist: the ranks must be materialized before
    // the edge cache is released, but a persist here would leave a live
    // CacheManager entry the caller never sees — any later identical call
    // silently aliases the stale cached plan (and its blocks pin memory
    // until session end). Checkpoint blocks are owned by the RDD and
    // reclaimed by the ContextCleaner when the result is dropped.
    val out = try {
      r.select(col("vec_id"), round(col("r"), 6).as("rank"))
        .orderBy(col("vec_id"))
        .localCheckpoint(true)
    } finally esrc.unpersist(false)
    out
  }

  /** [[pageRank]] over the exact kNN cosine graph: a directed edge
    * `u → v` for each of u's `k` nearest neighbors v (self excluded; ties
    * on the 6-dp-rounded score break by `dst` id — the
    * [[Similarity.similarityJoin]] ranking contract). High rank = the
    * vector is a near neighbor of many others = prototypical region.
    *
    * The edge build here is the exact all-pairs scoring with the query
    * side broadcast, right for a corpus whose QUERY side fits an
    * executor. At 100 TB build the edge table from the stored ANN index
    * instead ([[Ann.annTopkIndexed]] /
    * [[Ann.ivfTopkTrained]] per shard) and feed it to [[pageRank]]
    * directly — the centrality core is edge-source-agnostic. */
  /** Directed kNN edge table from IVF-probed candidates — the 100 TB edge
    * builder for [[pageRank]], replacing [[similarityPageRank]]'s exact
    * all-pairs broadcast. Per source vector: rank the `nCells` seed
    * centroids (the [[Ann.ivfRecall]] contract — `vec_id < nCells`,
    * 6-dp-rounded cosine, lower cell on ties) as a NARROW array expression
    * (no shuffle, no broadcast — the centroid list is `nCells × dim`
    * doubles of driver state baked into the plan as a literal), explode
    * the top `nProbe` cells, and join candidates ASSIGNED to those cells
    * (fused [[graft.functions.NearestCentroid]] argmax — the same
    * assignment the stored IVF index persists). Each (src, dst) pair
    * occurs at most once (assignment is unique), scored and top-k-ranked
    * per src exactly as the exact builder (6-dp score desc, dst asc, self
    * excluded).
    *
    * Scale shape: nothing corpus-sized is ever broadcast or collected —
    * the probe side shuffles `nProbe ×` corpus rows by cell (the inherent
    * IVF candidate-generation cost), the candidate side shuffles once by
    * cell (or not at all when read from the cell-PARTITIONED stored index,
    * [[Ann.ivfTopkTrained]]'s layout), and the per-src top-k runs under a
    * WindowGroupLimit so only ≤ k·nProbe·|cell| candidate rows reach the
    * src exchange. Pair fan-out is Σ_cells probes_c·members_c ≈
    * nProbe·N²/nCells — the IVF recall/cost dial: grow `nCells` with the
    * corpus (∝ √N keeps per-cell work flat), raise `nProbe` for recall.
    * PlanShapeSpec asserts the no-corpus-broadcast claim structurally
    * (no BroadcastNestedLoopJoin / CartesianProduct anywhere). */
  def annEdges(embeddings: DataFrame, k: Int = 5, nCells: Int = 16,
               nProbe: Int = 4): DataFrame = {
    val cents = Ann.seedCentroids(embeddings, nCells)
    require(cents.nonEmpty, "cannot seed probe centroids from an empty corpus")
    // explicit hash repartition before the per-row centroid work (nCells
    // cosines/row on both sides): a small parquet read is ONE partition,
    // which would serialize it — the similarityPageRank lesson. At real
    // scale the source has many input splits and this is a no-op-sized
    // shuffle compared to the cell exchange that follows either way.
    val e = byVecId(embeddings)
    val probes = Ann.probeCells(e, "vec_id", "embedding", cents, nProbe)
    val cands = Ann.assignCells(e, cents)
      .select(col("vec_id").as("dst"),
        col("embedding").cast("array<double>").as("tv"), col("cell"))
    knnEdges(probes.withColumnRenamed("vec_id", "src").join(cands, Seq("cell")), k)
  }

  /** `embeddings` hash-partitioned on `vec_id` into the default
    * parallelism. */
  private def byVecId(embeddings: DataFrame): DataFrame =
    embeddings.repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
      col("vec_id"))

  /** The kNN edge tail of [[annEdges]] and [[annEdges2]] over
    * `(src, qv, dst, tv)` candidate rows: self excluded, each src's top
    * `k` dsts by 6-dp cosine desc, `dst` asc on ties. */
  private def knnEdges(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(desc("score"), asc("dst"))
    candidates
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(cosine_sim(col("qv"), col("tv")), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("src"), col("dst"))
  }

  /** Directed kNN edge table from the TWO-LEVEL coarse quantizer — the
    * rung above [[annEdges]] on the ANN scale ladder. [[annEdges]] still
    * bakes the full `nCells × dim` centroid matrix into the plan as a
    * literal and collects it driver-side; at the √N cell dial and 10¹²
    * vectors that is a ~0.5 GB literal per query. Here the only literal is
    * the COARSE layer (nCoarse ≈ √nFine ∝ N^¼ rows — 10¹² vectors →
    * ~0.5 MB): per source vector the fused [[graft.functions.TopCells]]
    * pass ranks the coarse cells, the top `wCoarse` explode and resolve to
    * fine cells through an equi-join against [[Ann.fineCentroids]] (the
    * fine layer as a TABLE), a per-src WindowGroupLimit keeps the top
    * `nProbe` fine cells, and candidates come from the [[Ann.assignCells2]]
    * assignment joined on `fcell`. Scoring/ranking contract unchanged from
    * [[annEdges]] (6-dp score desc, dst asc, self excluded; ≤ k·nProbe·
    * |cell| rows reach the src exchange).
    *
    * Arithmetic per source: nCoarse + wCoarse·nFine/nCoarse fine-ranking
    * cosines + the probed-candidate rerank, vs the flat builder's nFine
    * per source — the fan-out envelope drops from nProbe·N²/nFine to the
    * same candidate term with a ~√nFine-times-cheaper probe stage, and no
    * GB-scale plan literal anywhere. PlanShapeSpec asserts both joins are
    * equi-joins (ccell, then fcell) with no corpus-sized broadcast. */
  def annEdges2(embeddings: DataFrame, k: Int = 5, nFine: Int = 16,
                nCoarse: Int = 4, wCoarse: Int = 2, nProbe: Int = 4): DataFrame = {
    require(nCoarse <= nFine, s"nCoarse ($nCoarse) must be <= nFine ($nFine)")
    val coarse = Ann.seedCentroids(embeddings, nCoarse)
    require(coarse.nonEmpty, "cannot seed probe centroids from an empty corpus")
    // same explicit pre-repartition as annEdges: a small parquet read is ONE
    // partition, which would serialize the per-row coarse ranking
    val e = byVecId(embeddings)
    val fineTab = Ann.fineCentroids(e, coarse, nFine)
    val probes = Ann.probeFineCells(e, "vec_id", "embedding", coarse, wCoarse, fineTab, nProbe)
    // fine cells have exactly one coarse parent, so a src's probed fcells
    // are distinct and each (src, dst) pair occurs at most once
    val cands = Ann.assignCells2(e, coarse, fineTab)
      .select(col("vec_id").as("dst"),
        col("embedding").cast("array<double>").as("tv"), col("fcell"))
    knnEdges(probes.withColumnRenamed("vec_id", "src").join(cands, Seq("fcell")), k)
  }

  /** [[pageRank]] over the two-level-quantizer kNN graph ([[annEdges2]]) —
    * the extreme-N configuration of [[similarityPageRankAnn]]: same
    * centrality core, edge build whose only driver state / plan literal is
    * the N^¼-sized coarse layer. With `wCoarse = nCoarse` and
    * `nProbe = nFine` the probe opens everything and the ranks reproduce
    * the exact builder EXACTLY (OperatorEdgeSpec pins this). */
  def similarityPageRankAnn2(embeddings: DataFrame, k: Int = 5, iters: Int = 5,
                             damping: Double = 0.85, nFine: Int = 16,
                             nCoarse: Int = 4, wCoarse: Int = 2,
                             nProbe: Int = 4): DataFrame =
    pageRank(annEdges2(embeddings, k, nFine, nCoarse, wCoarse, nProbe),
      embeddings.select(col("vec_id")), iters, damping)

  /** [[pageRank]] over the IVF-probed approximate kNN graph
    * ([[annEdges]]) — the executable 100 TB path the exact
    * [[similarityPageRank]]'s scaladoc promised: same centrality core,
    * edge build without the corpus broadcast. Recall against the exact
    * edge set is the [[Ann.ivfRecall]] dial (sweep nProbe, deploy the
    * knee); OperatorEdgeSpec records the agreement at test scale. */
  def similarityPageRankAnn(embeddings: DataFrame, k: Int = 5, iters: Int = 5,
                            damping: Double = 0.85, nCells: Int = 16,
                            nProbe: Int = 4): DataFrame =
    pageRank(annEdges(embeddings, k, nCells, nProbe),
      embeddings.select(col("vec_id")), iters, damping)

  /** [[annEdges]] with the flat-vs-two-level rung SELF-DIALED from the
    * requested cell count ([[graft.operators.Ann.FlatCellMax]] — the
    * literal-size dial: this family's flat rung collects `nCells` vectors
    * and bakes them into the edge-build plan, the exact shape the smoke
    * table measured at ~4 MB literal / 11 MB task binaries for
    * nCells = 8000). At `nCells ≤ flatCellMax` this IS [[annEdges]];
    * above, [[annEdges2]] with `nFine = nCells`, `nCoarse = wCoarse =
    * ⌈√nCells⌉` (coarse full-open on the probe side — the rung switch
    * retires the literal, it does not add a recall cut). RungPickerSpec
    * pins auto ≡ explicit on both sides of the threshold. */
  def annEdgesAuto(embeddings: DataFrame, k: Int = 5, nCells: Int = 16,
                   nProbe: Int = 4,
                   flatCellMax: Int = graft.operators.Ann.FlatCellMax): DataFrame =
    if (nCells <= flatCellMax) annEdges(embeddings, k, nCells, nProbe)
    else annEdges2(embeddings, k, nCells, graft.operators.Ann.coarseFor(nCells),
      graft.operators.Ann.coarseFor(nCells), nProbe)

  /** [[similarityPageRankAnn]] over [[annEdgesAuto]] — the default
    * centrality entry point with the rung self-dialed. */
  def similarityPageRankAnnAuto(embeddings: DataFrame, k: Int = 5,
                                iters: Int = 5, damping: Double = 0.85,
                                nCells: Int = 16, nProbe: Int = 4,
                                flatCellMax: Int = graft.operators.Ann.FlatCellMax): DataFrame =
    pageRank(annEdgesAuto(embeddings, k, nCells, nProbe, flatCellMax),
      embeddings.select(col("vec_id")), iters, damping)

  def similarityPageRank(embeddings: DataFrame, k: Int = 5, iters: Int = 5,
                         damping: Double = 0.85): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(desc("score"), asc("dst"))
    // Probe side carries SRC, broadcast side carries the neighbor
    // candidates: each src's full candidate set is then produced inside the
    // one partition that owns the src, so the top-k window's hash(src)
    // requirement is satisfied by the repartition below and the N×N scored
    // intermediate NEVER crosses the wire — only the ≤k·N edge rows do.
    // The repartition itself must exist and be EXPLICIT, twice over: the
    // probe side of a broadcast nested-loop join keeps its input
    // partitioning, and a small parquet read is ONE partition, which
    // serializes the whole N×N scoring into a single task (measured 15.5 s
    // for 2000² pairs at sf0.1; 1 of 32 cores busy); and AQE coalesces a
    // count-less repartition back to one partition for a KB-sized input —
    // the cost here is the N×|bcast| score fan-out ABOVE the exchange,
    // which AQE cannot see.
    val targets = broadcast(embeddings
      .select(col("vec_id").as("dst"), col("embedding").as("tv")))
    val edges = embeddings
      .select(col("vec_id").as("src"), col("embedding"))
      .repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism, col("src"))
      .crossJoin(targets)
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(cosine_sim(col("embedding"), col("tv")), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("src"), col("dst"))
    pageRank(edges, embeddings.select(col("vec_id")), iters, damping)
  }
}
