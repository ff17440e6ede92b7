package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.VectorFunctions.cosine_sim

/** Margin-based parallel-pair mining over two embedding sets — the
  * bitext-mining stage of a multilingual training-data pipeline (the
  * design is Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining
  * with Multilingual Sentence Embeddings": raw cosine between sentence
  * embeddings is miscalibrated across language pairs, so candidates are
  * scored by the RATIO of their cosine to the mean cosine of each side's
  * k nearest neighbors — a pair only counts if it stands out from BOTH
  * sides' neighborhoods).
  *
  * Reference point: the in-memory store's query path scores a query
  * against every stored record (`/root/reference/collection/
  * collection.go:64-151`); mining extends that single-set scan to the
  * two-set mutual-best regime the reference's API would need for
  * cross-collection alignment.
  */
object Bitext {

  /** Hubness audit over the forward k-NN graph — the diagnostic that
    * MOTIVATES the ratio margin: in high dimensions a few "hub" targets
    * appear in a disproportionate share of sources' neighbor lists
    * (Radovanović et al. 2010), and raw-cosine mining pairs everything
    * with the hubs. Reports the top `topN` targets by how many sources
    * hold them in their k-NN (same candidate generation and ranking
    * contract as [[minePairs]]'s forward pass — this IS that pass,
    * re-aggregated by target). Run it before mining: a heavy tail here is
    * the signal that raw-cosine thresholds would be miscalibrated.
    *
    * Scale shape: the k-NN selection is [[minePairs]]'s (cell-blocked
    * candidates, WindowGroupLimit); the hub count is one tgt-keyed hash
    * aggregation with map-side partials; top-N is a bounded-heap
    * TakeOrdered, never a global sort. */
  def hubness(x: DataFrame, y: DataFrame, k: Int = 4,
              nCells: Int = 8, nProbe: Int = 8, topN: Int = 20): DataFrame =
    hubCounts(srcSeeded(x, y, nCells, nProbe), k, topN)

  /** [[hubness]] over [[srcSeeded2]] — the audit's two-level rung, so the
    * diagnostic that motivates the margin can itself run without the
    * `nCells × dim` literal; full-open settings reproduce [[hubness]]'s
    * exact answer (shared oracle). */
  def hubness2(x: DataFrame, y: DataFrame, k: Int = 4, nFine: Int = 8,
               nCoarse: Int = 3, wCoarse: Int = 3, nProbe: Int = 8,
               topN: Int = 20): DataFrame =
    hubCounts(srcSeeded2(x, y, nFine, nCoarse, wCoarse, nProbe), k, topN)

  /** The hub-count tail of [[hubness]] and [[hubness2]]: each src's top
    * `k` candidates by `(c6 desc, tgt_id asc)`, counted per target, the
    * top `topN` targets ranked. */
  private def hubCounts(pairs: DataFrame, k: Int, topN: Int): DataFrame = {
    val wf = Window.partitionBy(col("src_id")).orderBy(desc("c6"), asc("tgt_id"))
    val wr = Window.orderBy(desc("hub_count"), asc("tgt_id"))
    pairs
      .withColumn("rnk", row_number().over(wf))
      .where(col("rnk") <= k)
      .groupBy(col("tgt_id"))
      .agg(count(lit(1)).as("hub_count"))
      .orderBy(desc("hub_count"), asc("tgt_id")).limit(topN)
      .withColumn("rnk", row_number().over(wr).cast("bigint"))
      .select(col("rnk"), col("tgt_id"), col("hub_count"))
  }

  /** [[hubness]] with the flat-vs-two-level rung SELF-DIALED
    * ([[graft.operators.Ann.FlatCellMax]] — completes the rung discipline
    * over every entry point of this object). BitextSpec pins auto ≡
    * explicit on both sides. */
  def hubnessAuto(x: DataFrame, y: DataFrame, k: Int = 4, nCells: Int = 8,
                  nProbe: Int = 8, topN: Int = 20,
                  flatCellMax: Int = Ann.FlatCellMax): DataFrame =
    if (nCells <= flatCellMax) hubness(x, y, k, nCells, nProbe, topN)
    else hubness2(x, y, k, nCells, Ann.coarseFor(nCells),
      Ann.coarseFor(nCells), nProbe, topN)

  /** Cell-blocked candidate pairs `(src_id, tgt_id, c6)` of [[minePairs]]
    * and [[hubness]]: the incremental generator ([[candidatesAgainst]])
    * over a quantizer seeded from the SRC side — centroids = the `nCells`
    * lowest-src_id vectors ([[Ann.lowestIdSeeds]]: a split side's id
    * space is not dense), src probes its top `nProbe` cells, tgt sits in
    * its argmax cell. Neither side is pinned: both are corpus-sized. */
  private def srcSeeded(x: DataFrame, y: DataFrame, nCells: Int, nProbe: Int): DataFrame = {
    requireFlat(nCells, nProbe)
    val cents = seeds(x, "src_id", "src_vec", nCells,
      "cannot seed probe centroids from an empty src side")
    candidatesAgainst(flatProbes(x, cents, nProbe), tgtCells(y, cents), "cell")
  }

  /** Two-level candidate pairs — the hierarchical rung above
    * [[srcSeeded]], exactly [[graft.operators.Centrality.annEdges2]]'s
    * shape for the two-set case: only the COARSE layer (`nCoarse` lowest-id
    * src vectors) is ever a plan literal or driver state; the FINE layer
    * (`nFine` lowest-id src vectors, parented to their coarse argmax —
    * [[Ann.lowestIdFineCentroids]]) is a TABLE reached by `ccell`/`fcell`
    * equi-joins. Src probes `wCoarse` coarse cells then its top `nProbe`
    * fine cells within them; tgt takes its coarse argmax then the fine
    * argmax inside it ([[Ann.assignCells2]]). Full-open
    * (`wCoarse = nCoarse`, `nProbe = nFine`) is EXACT — candidates = all
    * pairs — so the brute-force oracle carries over; partial settings are
    * the standard hierarchical-IVF recall dial with the coarse-boundary
    * caveat stated at [[Ann.assignCells2]]. */
  private def srcSeeded2(x: DataFrame, y: DataFrame, nFine: Int, nCoarse: Int,
                         wCoarse: Int, nProbe: Int): DataFrame = {
    requireTwoLevel(nFine, nCoarse, wCoarse, nProbe)
    val coarse = seeds(x, "src_id", "src_vec", nCoarse,
      "cannot seed coarse centroids from an empty src side")
    val fineTab = Ann.lowestIdFineCentroids(x, "src_id", "src_vec", coarse, nFine)
    candidatesAgainst(fineProbes(x, coarse, fineTab, wCoarse, nProbe),
      tgtCells2(y, coarse, fineTab), "fcell")
  }

  /** [[minePairs]] over [[srcSeeded2]] — ratio-margin mining with
    * NO corpus-scale plan literal: driver state is nCoarse ≈ N^¼ rows.
    * Full-open settings reproduce [[minePairs]]'s exact answer (and share
    * its brute-force oracle); partial settings are the hierarchical
    * recall/cost dial. */
  def minePairs2(x: DataFrame, y: DataFrame, k: Int = 4, tau: Double = 1.0,
                 nFine: Int = 8, nCoarse: Int = 2, wCoarse: Int = 2,
                 nProbe: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    mineFromCandidates(srcSeeded2(x, y, nFine, nCoarse, wCoarse, nProbe), k, tau)
  }

  /** Mutual-best ratio-margin pairs between `x` (`src_id`, `src_vec`) and
    * `y` (`tgt_id`, `tgt_vec`).
    *
    * Pipeline: candidates from the shared seeded quantizer (centroids =
    * `x`'s `nCells` lowest-id vectors — the [[Ann.lowestIdSeeds]]
    * contract; each src probes its top `nProbe` cells via the fused
    * [[graft.functions.TopCells]] pass, each tgt sits in its argmax cell,
    * candidates = the cell equi-join, so `nProbe = nCells` is EXACT and
    * smaller probes are the standard IVF recall/cost dial). Every
    * candidate pair carries an integer micro-unit cosine
    * `c6 = round(cos·10⁶)` — k-NN means are then INTEGER sums, immune to
    * accumulation-order drift (the corpus_report lesson). Forward k-NN
    * per src and backward k-NN per tgt are row_number windows over
    * `(c6 desc, id asc)` (partial WindowGroupLimit before each exchange);
    * the margin of a candidate pair is
    * `2·c6·kx·ky / (sx·ky + sy·kx)` — all-integer operands, one IEEE
    * division, rounded to 6 dp on both engines (at the corpus edge a side
    * may have fewer than k neighbors; the mean uses the ACTUAL count, and
    * the oracle mirrors that). A pair is emitted iff each side is the
    * other's argmax by `(margin desc, id asc)` — the paper's
    * "intersection" strategy — and `margin ≥ tau`. Non-positive
    * neighborhood sums are excluded: a margin against a non-positive
    * denominator ranks nothing meaningfully.
    *
    * Scale shape: nothing corpus-sized is broadcast or collected — the
    * probe side shuffles `nProbe ×` src rows by cell, the tgt side once by
    * cell; pair fan-out is the IVF dial `nProbe·|X|·|Y|/nCells` with
    * `nCells ∝ √N`; the two k-NN aggregations and the two argmax windows
    * all run under WindowGroupLimit/partial-agg so exchanges carry
    * bounded rows per key. Backward k-NN at partial probe is computed on
    * the probed candidate set (the standard ANN-backed mining
    * approximation); `nProbe = nCells` restores the exact definition. */
  def minePairs(x: DataFrame, y: DataFrame, k: Int = 4, tau: Double = 1.0,
                nCells: Int = 8, nProbe: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    mineFromCandidates(srcSeeded(x, y, nCells, nProbe), k, tau)
  }

  /** [[minePairs]] with the flat-vs-two-level rung SELF-DIALED from the
    * requested cell count — [[graft.operators.Ann.FlatCellMax]]'s dial
    * applied to the mining family, whose flat rung was the round-12 smoke
    * table's measured pain row (nCells = 8000 → ~4 MB plan literal, 11 MB
    * task binaries, driver collect). At `nCells ≤ flatCellMax` this IS
    * [[minePairs]]; above, [[minePairs2]] with `nFine = nCells`,
    * `nCoarse = wCoarse = ⌈√nCells⌉` (coarse full-open on the probe side —
    * the rung switch retires the literal, it does not add a recall cut)
    * and the same `nProbe` fine-cell dial. When the caller's dial was
    * already full-open (`nProbe = nCells`, the exact setting), both rungs
    * produce the exact brute-force answer, so the flat oracle carries
    * over verbatim on BOTH sides of the threshold; RungPickerSpec pins auto ≡
    * explicit either way. */
  def minePairsAuto(x: DataFrame, y: DataFrame, k: Int = 4, tau: Double = 1.0,
                    nCells: Int = 8, nProbe: Int = 8,
                    flatCellMax: Int = Ann.FlatCellMax): DataFrame =
    if (nCells <= flatCellMax) minePairs(x, y, k, tau, nCells, nProbe)
    else minePairs2(x, y, k, tau, nCells, Ann.coarseFor(nCells),
      Ann.coarseFor(nCells), nProbe)

  /** INCREMENTAL [[minePairs]] — the growing-parallel-corpus shape that
    * completes the mining family's matrix (every other mining family here
    * has batch + incremental/indexed forms; until now a new snapshot of a
    * parallel corpus re-mined everything from scratch). `x` is the NEW
    * batch of source sentences; `y` the STABLE stored target corpus. The
    * quantizer is anchored to `y`: centroids are the target side's
    * `nCells` lowest-id vectors and the cell assignment is the target
    * assignment — so as batches arrive, cell geometry never drifts with
    * the stream (the [[graft.operators.Dedup.semanticIncremental]]
    * stable-layer contract).
    *
    * Declared semantics: ratio-margin mutual-best pairs between THIS
    * batch's sources and the stored targets — forward k-NN per batch src
    * over its probed candidates, backward k-NN per tgt over the
    * candidates THIS batch generated (a snapshot's backward neighborhood
    * is its own batch, the same per-snapshot scoping every incremental
    * twin here declares). At full probe (`nProbe = nCells`) candidates
    * are exact, so the brute-force margin oracle over (batch × corpus)
    * carries over verbatim.
    *
    * Scale shape: per batch, one bounded centroid probe on the batch
    * side, one cell equi-join against the corpus assignment with the
    * BATCH side broadcast by contract (the pinned-direction lesson: a
    * filtered batch is size-estimated at its file's full bytes, so
    * without the pin Catalyst sort-merge-shuffles the corpus per
    * snapshot), and the [[mineFromCandidates]] tail — nothing
    * corpus-sized shuffles or collects. */
  def minePairsIncremental(x: DataFrame, y: DataFrame, k: Int = 4,
                           tau: Double = 1.0, nCells: Int = 8,
                           nProbe: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireFlat(nCells, nProbe)
    val cents = tgtSeeds(y, nCells)
    mineFromCandidates(candidatesAgainst(flatProbes(x, cents, nProbe).hint("broadcast"),
      tgtCells(y, cents), "cell"), k, tau)
  }

  /** [[minePairsIncremental]] against a CATALOG-MANAGED target-cell index
    * — the production shape, mirroring [[graft.operators.Dedup
    * .semanticIncrementalIndexed]] verbatim: the stored corpus's
    * (cell, tgt_id, vector) assignment AND its seed centroids are built
    * once, registered in the `GraftDatabase` manifest
    * (content-fingerprinted, parameter-pinned), and each batch mine reads
    * the stored assignment instead of re-assigning the corpus. Storing
    * the CENTROIDS alongside the assignment pins cell geometry — a probe
    * re-deriving seeds from a drifted corpus would silently re-cell
    * history, the mismatch class the registry fingerprint exists to
    * catch. Pairs are byte-identical to the inline twin (BitextSpec
    * pins it; the driver's `bitext_mine_incremental_indexed` oracle is
    * the inline SQL verbatim). The indexed target side is the engine's
    * standard bitext convention over the embeddings table (odd `vec_id`
    * halves as targets). */
  def minePairsIncrementalIndexed(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, x: DataFrame, k: Int = 4,
                                  tau: Double = 1.0, nCells: Int = 8,
                                  nProbe: Int = 8,
                                  policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing,
                                  // IN THE SIGNATURE, not just scaladoc: the
                                  // indexed twin mines against dir's stored
                                  // convention side ONLY — a caller who fed a
                                  // custom `y` to the inline form gets a
                                  // DIFFERENT answer here, so asking for any
                                  // other side must fail loudly
                                  targetSide: String = TargetSideConvention): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(targetSide == TargetSideConvention,
      s"the indexed incremental twin is dir-convention-only (targetSide = " +
        s"'$TargetSideConvention', the stored corpus's odd-vec_id half); " +
        s"got '$targetSide' — use minePairsIncremental(x, y, ...) for a custom target side")
    val idx = CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = s"embeddings-bitext-cells-c$nCells", kind = "bitext-cells",
      sourcePath = s"$dir/embeddings.parquet",
      params = Map("nCells" -> nCells.toString, "side" -> "vec_id%2=1",
        "seeding" -> "lowest-tgt-id", "metric" -> "cosine6",
        "layout" -> "cents+cells"),
      policy = policy) { out =>
      val y = tgtOf(Tables.embeddingsAtSourceWidth(spark, dir))
      val cents = tgtSeeds(y, nCells)
      Ann.writeSeedList(spark, cents, s"$out/cents")
      Tables.write(tgtCells(y, cents)).mode("overwrite").parquet(s"$out/cells")
    }
    val cents = Ann.readSeedList(spark, s"${idx.path}/cents")
    mineFromCandidates(candidatesAgainst(flatProbes(x, cents, nProbe).hint("broadcast"),
      Tables.read(spark, s"${idx.path}/cells"), "cell"), k, tau)
  }

  /** TWO-LEVEL [[minePairsIncremental]] — the hierarchical rung for the
    * incremental family, so the per-snapshot probe carries no
    * `nCells × dim` literal either: only the COARSE layer
    * (`nCoarse ≈ ⌈√nFine⌉` lowest-tgt_id vectors) is driver state; the
    * fine layer is a TABLE (stored by the indexed twin) reached through
    * `ccell`/`fcell` equi-joins, and the corpus assignment is keyed by
    * FINE cell. Full-open (`wCoarse = nCoarse`, `nProbe = nFine`) is
    * exact, so the incremental brute-force oracle carries over verbatim
    * — [[minePairs2]]'s contract, anchored to the stable corpus side. */
  def minePairsIncremental2(x: DataFrame, y: DataFrame, k: Int = 4,
                            tau: Double = 1.0, nFine: Int = 8,
                            nCoarse: Int = 3, wCoarse: Int = 3,
                            nProbe: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireTwoLevel(nFine, nCoarse, wCoarse, nProbe)
    val coarse = tgtSeeds(y, nCoarse)
    val fineTab = Ann.lowestIdFineCentroids(y, "tgt_id", "tgt_vec", coarse, nFine)
    mineFromCandidates(candidatesAgainst(
      fineProbes(x, coarse, fineTab, wCoarse, nProbe).hint("broadcast"),
      tgtCells2(y, coarse, fineTab), "fcell"), k, tau)
  }

  /** [[minePairsIncremental2]] against the CATALOG-MANAGED two-level
    * index: coarse centroids (the only driver state at probe time), the
    * fine-centroid TABLE, and the corpus's fine-cell assignment are all
    * persisted and fingerprint-pinned — a snapshot mine reads three
    * stored layers and re-assigns nothing. The indexed twin's pairs are
    * byte-identical to the inline form (BitextSpec pins it; the oracle
    * is the inline SQL verbatim at full-open). */
  def minePairsIncrementalIndexed2(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, x: DataFrame, k: Int = 4,
                                   tau: Double = 1.0, nFine: Int = 8,
                                   nCoarse: Int = 3, wCoarse: Int = 3,
                                   nProbe: Int = 8,
                                   policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing,
                                   targetSide: String = TargetSideConvention): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(targetSide == TargetSideConvention,
      s"the indexed incremental twin is dir-convention-only (targetSide = " +
        s"'$TargetSideConvention'); got '$targetSide' — use minePairsIncremental2 for a custom target side")
    val idx = CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = s"embeddings-bitext-cells2-f$nFine-c$nCoarse", kind = "bitext-cells-2level",
      sourcePath = s"$dir/embeddings.parquet",
      params = Map("nFine" -> nFine.toString, "nCoarse" -> nCoarse.toString,
        "side" -> "vec_id%2=1", "seeding" -> "lowest-tgt-id",
        "metric" -> "cosine6", "layout" -> "coarse+fine+cells2"),
      policy = policy) { out =>
      val y = tgtOf(Tables.embeddingsAtSourceWidth(spark, dir))
      val coarse = tgtSeeds(y, nCoarse)
      Ann.writeSeedList(spark, coarse, s"$out/coarse")
      val fineTab = Ann.lowestIdFineCentroids(y, "tgt_id", "tgt_vec", coarse, nFine)
      Tables.write(fineTab.coalesce(1)).mode("overwrite").parquet(s"$out/fine")
      Tables.write(tgtCells2(y, coarse, fineTab))
        .mode("overwrite").parquet(s"$out/cells2")
    }
    val coarse = Ann.readSeedList(spark, s"${idx.path}/coarse")
    mineFromCandidates(candidatesAgainst(
      fineProbes(x, coarse, Tables.read(spark, s"${idx.path}/fine"), wCoarse, nProbe)
        .hint("broadcast"),
      Tables.read(spark, s"${idx.path}/cells2"), "fcell"), k, tau)
  }

  /** [[minePairsIncremental]] with the flat-vs-two-level rung SELF-DIALED
    * from the requested cell count — [[graft.operators.Ann.FlatCellMax]]'s
    * dial completing the rung discipline for the incremental family (the
    * flat incremental probe collects `nCells` corpus vectors and bakes
    * them into every snapshot's plan — the same literal the batch auto
    * twins retire). BitextSpec pins auto ≡ explicit on both sides. */
  def minePairsIncrementalAuto(x: DataFrame, y: DataFrame, k: Int = 4,
                               tau: Double = 1.0, nCells: Int = 8,
                               nProbe: Int = 8,
                               flatCellMax: Int = Ann.FlatCellMax): DataFrame =
    if (nCells <= flatCellMax) minePairsIncremental(x, y, k, tau, nCells, nProbe)
    else minePairsIncremental2(x, y, k, tau, nCells, Ann.coarseFor(nCells),
      Ann.coarseFor(nCells), nProbe)

  /** [[minePairsIncrementalIndexed]] with the flat-vs-two-level rung
    * SELF-DIALED from the requested cell count — [[graft.operators.Ann
    * .FlatCellMax]]'s dial extended to the STORED-index mining family
    * (the round-13 residual: the inline incremental probe self-dialed
    * while the indexed twin still made the caller pick the stored layout
    * at build time). At `nCells ≤ flatCellMax` this IS
    * [[minePairsIncrementalIndexed]] (cents+cells layout, nCells-vector
    * driver collect per snapshot); above,
    * [[minePairsIncrementalIndexed2]] with `nFine = nCells`, `nCoarse =
    * wCoarse = ⌈√nCells⌉` (coarse+fine+cells2 layout — only √nCells rows
    * of driver state per snapshot, coarse full-open so no recall cut).
    * The registry records the rung via distinct index names/params, and
    * the probe re-derives the branch from the same pure function of
    * `nCells` — stored layout and probe can never disagree.
    * RungPickerSpec pins auto ≡ explicit on both sides. */
  def minePairsIncrementalIndexedAuto(spark: org.apache.spark.sql.SparkSession,
                                      dir: String, x: DataFrame, k: Int = 4,
                                      tau: Double = 1.0, nCells: Int = 8,
                                      nProbe: Int = 8,
                                      policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing,
                                      targetSide: String = TargetSideConvention,
                                      flatCellMax: Int = Ann.FlatCellMax): DataFrame =
    if (nCells <= flatCellMax)
      minePairsIncrementalIndexed(spark, dir, x, k, tau, nCells, nProbe,
        policy, targetSide)
    else
      minePairsIncrementalIndexed2(spark, dir, x, k, tau, nCells,
        Ann.coarseFor(nCells), Ann.coarseFor(nCells), nProbe, policy, targetSide)

  /** The one target side the indexed incremental twins can mine against —
    * see [[TargetSideConvention]] in their signatures. */
  val TargetSideConvention: String = "vec_id%2=1"

  /** The engine's standard bitext target side over the embeddings table
    * (odd `vec_id` half) — the corpus [[minePairsIncrementalIndexed]]
    * indexes. */
  private[graft] def tgtSide(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame =
    tgtOf(Tables.embeddings(spark, dir))

  /** [[tgtSide]] over the loaded embeddings table `e`. The index builds
    * pass [[Tables.embeddingsAtSourceWidth]], so the stored `tv` keeps the
    * source's element type; [[candidatesAgainst]]' `cosine_sim` widens
    * it. */
  private def tgtOf(e: DataFrame): DataFrame =
    e.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("tgt_vec"))

  private def requireFlat(nCells: Int, nProbe: Int): Unit =
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      s"need 1 <= nProbe <= nCells, got nProbe=$nProbe nCells=$nCells")

  private def requireTwoLevel(nFine: Int, nCoarse: Int, wCoarse: Int, nProbe: Int): Unit = {
    require(nCoarse >= 1 && wCoarse >= 1 && wCoarse <= nCoarse,
      s"need 1 <= wCoarse <= nCoarse, got wCoarse=$wCoarse nCoarse=$nCoarse")
    require(nFine >= nCoarse && nProbe >= 1 && nProbe <= nFine,
      s"need nCoarse <= nFine and 1 <= nProbe <= nFine")
  }

  /** The `n` lowest-id vectors of one side ([[Ann.lowestIdSeeds]]); an
    * empty side fails with `empty`. */
  private def seeds(side: DataFrame, idCol: String, vecCol: String, n: Int,
                    empty: String): Seq[Seq[Double]] = {
    val s = Ann.lowestIdSeeds(side, idCol, vecCol, n)
    require(s.nonEmpty, empty)
    s
  }

  /** Target-side seeds for the incremental family — anchored to the
    * STABLE corpus side. */
  private def tgtSeeds(y: DataFrame, n: Int): Seq[Seq[Double]] =
    seeds(y, "tgt_id", "tgt_vec", n, "cannot seed centroids from an empty target side")

  private def par(df: DataFrame): Int = df.sparkSession.sparkContext.defaultParallelism

  /** The src probe side over a flat quantizer: `(src_id, qv, cell)` for
    * each of the src's top `nProbe` cells ([[Ann.probeCells]] clamps the
    * width to the centroid count). */
  private def flatProbes(x: DataFrame, cents: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    require(cents.nonEmpty, "cannot probe with an empty centroid set")
    Ann.probeCells(x.repartition(par(x), col("src_id")), "src_id", "src_vec", cents, nProbe)
  }

  /** The tgt side's `(cell, tgt_id, tv)` flat assignment — computed inline
    * by the miners, persisted by [[minePairsIncrementalIndexed]]'s build. */
  private def tgtCells(y: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    Ann.assignCells(y.repartition(par(y), col("tgt_id")), cents, "tgt_vec")
      .select(col("cell"), col("tgt_id"), col("tgt_vec").as("tv"))

  /** The src probe side over a two-level quantizer: `(src_id, qv, fcell)`
    * for the src's top `nProbe` fine cells under its top `wCoarse` coarse
    * cells (clamped to the coarse count) — [[Ann.probeFineCells]]. */
  private def fineProbes(x: DataFrame, coarse: Seq[Seq[Double]], fineTab: DataFrame,
                         wCoarse: Int, nProbe: Int): DataFrame = {
    require(coarse.nonEmpty, "cannot probe with an empty coarse layer")
    Ann.probeFineCells(x.repartition(par(x), col("src_id")), "src_id", "src_vec", coarse,
      wCoarse, fineTab, nProbe)
  }

  /** The tgt side's `(fcell, tgt_id, tv)` two-level assignment
    * ([[Ann.assignCells2]]) — stored by [[minePairsIncrementalIndexed2]]. */
  private def tgtCells2(y: DataFrame, coarse: Seq[Seq[Double]], fineTab: DataFrame): DataFrame =
    Ann.assignCells2(y.repartition(par(y), col("tgt_id"))
        .select(col("tgt_id"), col("tgt_vec").as("tv")),
      coarse, fineTab, "tgt_id", "tv", Seq("tv"))
      .select(col("fcell"), col("tgt_id"), col("tv"))

  /** Candidate pairs `(src_id, tgt_id, c6)`: the `key` equi-join of a
    * probe side and a target assignment, each pair carrying the integer
    * micro-unit cosine. The incremental miners pass their batch probe side
    * with a broadcast hint (see [[minePairsIncremental]]'s scale note). */
  private def candidatesAgainst(probes: DataFrame, tgt: DataFrame, key: String): DataFrame =
    probes.join(tgt, Seq(key))
      .select(col("src_id"), col("tgt_id"),
        round(cosine_sim(col("qv"), col("tv")) * 1e6, 0).cast("bigint").as("c6"))

  /** The margin/mutual-argmax tail shared by every miner — everything
    * downstream of candidate generation. */
  private def mineFromCandidates(pairs: DataFrame, k: Int,
                                 tau: Double): DataFrame = {
    val wf = Window.partitionBy(col("src_id")).orderBy(desc("c6"), asc("tgt_id"))
    val fwd = pairs.withColumn("rnk", row_number().over(wf))
      .where(col("rnk") <= k)
      .groupBy(col("src_id"))
      .agg(sum(col("c6")).as("sx"), count(lit(1)).as("kx"))
    val wb = Window.partitionBy(col("tgt_id")).orderBy(desc("c6"), asc("src_id"))
    val bwd = pairs.withColumn("rnk", row_number().over(wb))
      .where(col("rnk") <= k)
      .groupBy(col("tgt_id"))
      .agg(sum(col("c6")).as("sy"), count(lit(1)).as("ky"))
    val margins = pairs
      .join(fwd, Seq("src_id")).join(bwd, Seq("tgt_id"))
      .where(col("sx") * col("ky") + col("sy") * col("kx") > 0)
      .select(col("src_id"), col("tgt_id"),
        round(lit(2.0) * col("c6") * col("kx") * col("ky") /
          (col("sx") * col("ky") + col("sy") * col("kx")), 6).as("margin"))
    val ms = Window.partitionBy(col("src_id")).orderBy(desc("margin"), asc("tgt_id"))
    val mt = Window.partitionBy(col("tgt_id")).orderBy(desc("margin"), asc("src_id"))
    margins
      .withColumn("rs", row_number().over(ms))
      .withColumn("rt", row_number().over(mt))
      .where(col("rs") === 1 && col("rt") === 1 && col("margin") >= tau)
      .select(col("src_id"), col("tgt_id"), col("margin"))
      .orderBy(col("src_id"))
  }
}
