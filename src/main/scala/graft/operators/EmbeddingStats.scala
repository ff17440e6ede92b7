package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosine_sim, dequantize_int8, l2_dist, l2_norm, max_abs, quantize_int8}

/** Embedding-quality statistics — X8: per-label centroid cohesion, the
  * embedding-health dashboard a training-data pipeline runs after ingest
  * (degenerate labels → centroid cosine near 0; duplicated clusters →
  * near 1).
  *
  * Shuffle budget: one position-explode aggregation to build centroids
  * (64·L groups — tiny), the centroid table broadcast back onto the
  * embeddings (no shuffle of the big side), one final per-label
  * aggregation with map-side partial aggregation. Scales linearly in
  * rows; never materializes pairwise anything.
  *
  * Determinism note: element means are rounded to 9 dp before the cosine
  * so that sub-ulp summation-order drift between engines (and between
  * partitionings) cannot leak through the 6 dp score rounding.
  */
object EmbeddingStats {

  def perLabelCohesion(embeddings: DataFrame): DataFrame = {
    val exploded = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))

    val centroids = exploded
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), expr("transform(pm, x -> round(x.m, 9))").as("centroid"))

    embeddings
      .join(broadcast(centroids), "label")
      .select(col("label"),
        round(cosine_sim(col("embedding"), col("centroid")), 6).as("s"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("s")), 4).as("avg_cos"),
        min(col("s")).as("min_cos"),
        max(col("s")).as("max_cos"))
      .orderBy(col("label"))
  }

  /** Exact L2-norm quantiles per label — the distribution check that
    * catches un-normalized or collapsed embedding batches. Exact
    * `percentile` (not approx) so the result is engine-independent; at
    * warehouse scale the per-group sorted-aggregation state is bounded by
    * the label's row count, and a pipeline monitoring quantiles
    * approximately would switch to `percentile_approx` — same plan shape,
    * sketch-sized state. Norms rounded to 9 dp before interpolation so
    * both engines interpolate the same inputs; results rounded to 6 dp. */
  def normQuantiles(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), round(l2_norm(col("embedding")), 9).as("norm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("norm")), 6).as("min_norm"),
        round(expr("percentile(norm, 0.25)"), 6).as("p25"),
        round(expr("percentile(norm, 0.5)"), 6).as("p50"),
        round(expr("percentile(norm, 0.75)"), 6).as("p75"),
        round(expr("percentile(norm, 0.99)"), 6).as("p99"),
        round(max(col("norm")), 6).as("max_norm"))
      .orderBy(col("label"))

  /** Int8 quantization audit: per label, the relative L2 reconstruction
    * error of symmetric int8 quantization — the go/no-go check before
    * shrinking an embedding store 4×. Narrow single scan + one aggregation
    * shuffle on the label key. Zero vectors are excluded (no defined
    * scale) in both engines. */
  def quantizationError(embeddings: DataFrame): DataFrame = {
    val v = col("embedding")
    val relErr = round(
      l2_dist(v, dequantize_int8(quantize_int8(v), max_abs(v))) / l2_norm(v), 9)
    embeddings
      .where(max_abs(v) > 0.0)
      .select(col("label"), relErr.as("rel_err"),
        round(max_abs(v) / lit(127.0), 9).as("scale"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("rel_err")), 6).as("avg_err"),
        round(max(col("rel_err")), 6).as("max_err"),
        round(avg(col("scale")), 6).as("avg_scale"))
      .orderBy(col("label"))
  }

  /** Embedding-distribution drift between the deterministic train/test
    * hash splits — the embedding-space twin of
    * [[graft.operators.TextAnalysis.tokenDrift]]. Per label: both splits'
    * centroids (9 dp element rounding, as everywhere centroids cross
    * engines) and the cosine between them. A healthy split has
    * centroid_cos ≈ 1 for every label; a label whose splits disagree
    * signals leakage, a skewed hash, or a label whose members aren't
    * exchangeable — all things to find BEFORE a training run.
    *
    * Scale shape: same as [[perLabelCohesion]] — one position-explode
    * aggregation (64·L·2 groups), then label-sized joins. No pairwise
    * anything, no broadcast of the corpus. */
  def embedDrift(embeddings: DataFrame, trainPct: Int = 80): DataFrame = {
    val tagged = embeddings.withColumn("train",
      Sampling.hashBucket(col("vec_id")) < trainPct)
    val cents = tagged
      .select(col("train"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("train"), col("label"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("train"), col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("train"), col("label"), expr("transform(pm, x -> round(x.m, 9))").as("c"))
    val counts = tagged.groupBy(col("label")).agg(
      sum(when(col("train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(col("train"), 0L).otherwise(1L)).as("n_test"))
    counts
      .join(cents.where(col("train")).select(col("label"), col("c").as("c_train")), Seq("label"))
      .join(cents.where(!col("train")).select(col("label"), col("c").as("c_test")), Seq("label"))
      .select(col("label"), col("n_train"), col("n_test"),
        round(cosine_sim(col("c_train"), col("c_test")), 6).as("centroid_cos"))
      .orderBy(col("label"))
  }

  /** Cross-dimension covariance of the embedding matrix — the d×d summary
    * behind whitening, PCA and anisotropy diagnostics (embedding spaces
    * with a dominant direction score cosine similarity poorly; the fix
    * starts with this matrix). Returns (i, j, cov) for all d² pairs.
    *
    * Scale shape: ONE corpus pass. Each row expands to its flattened d²
    * outer product inside codegen (narrow), and the only shuffle is the
    * position-keyed aggregation — map-side combined, so the exchange
    * carries d²·partitions rows, independent of corpus size. The d-row
    * mean vector rides a 1-row broadcast. Driver/exchange state is O(d²):
    * fine through d≈256 (64k accumulators); past that, block the
    * positions (aggregate d²/B per pass) — same plan, B passes.
    *
    * Engine parity: E[x_i·x_j] and the means are rounded to 9 dp before
    * the subtraction (summation-order drift), the result to 6 dp. */
  /** One-pass raw moments: per-partition Gram accumulation into a flat
    * d²+d double array (positions 0..d²−1 = Σ x_i·x_j, d²..d²+d−1 = Σ x_i)
    * tree-combined to the driver — the `RowMatrix.computeGramian` shape.
    * Shuffle-free and d² multiply-adds per row in a tight loop; the
    * earlier explode-the-outer-product formulation paid per-VALUE row
    * machinery through the aggregate (measured 180 s vs ~3 s at 1M×64).
    * Combine order across partitions is timing-dependent, but the
    * sub-ulp summation drift sits ~7 orders below the 9 dp rounding the
    * consumers apply. Returns (sums, row count). */
  private def gramMoments(embeddings: DataFrame, dim: Int): (Array[Double], Long) =
    embeddings.select(col("embedding").cast("array<double>"))
      .rdd.map(_.getSeq[Double](0).toArray)
      .treeAggregate((new Array[Double](dim * dim + dim), 0L))(
        seqOp = { case ((acc, c), v) =>
          var i = 0
          while (i < dim) {
            val vi = v(i); val base = i * dim
            var j = 0
            while (j < dim) { acc(base + j) += vi * v(j); j += 1 }
            acc(dim * dim + i) += vi
            i += 1
          }
          (acc, c + 1L)
        },
        combOp = { case ((a, ca), (b, cb)) =>
          var k = 0
          while (k < a.length) { a(k) += b(k); k += 1 }
          (a, ca + cb)
        })

  def covariance(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    val (sums, n) = gramMoments(embeddings, dim)
    val nd = math.max(n, 1L).toDouble
    // HALF_UP (= round half away from zero), matching both Catalyst's
    // Round and DuckDB's round(); rint's half-even would diverge on ties
    def r(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = for (i <- 0 until dim; j <- 0 until dim) yield {
      val eab = r(sums(i * dim + j) / nd, 9)
      val mi = r(sums(dim * dim + i) / nd, 9)
      val mj = r(sums(dim * dim + j) / nd, 9)
      // + 0.0 folds IEEE negative zero to +0.0 so both engines emit one
      // zero representation (a -0.0 survives rounding and sorts/hashes
      // differently from 0.0 in the driver compare)
      (i.toLong, j.toLong, r(eab - mi * mj, 6) + 0.0)
    }
    import spark.implicits._
    rows.toDF("i", "j", "cov").orderBy(col("i"), col("j"))
  }

  /** Spectrum audit — the anisotropy number behind [[whiten]]'s repair:
    * effective rank of the embedding distribution as the participation
    * ratio `ER = (Σλ)² / Σλ²` (Roy & Vetterli 2007) over the covariance
    * eigenvalues. The identity `Σλ = trace(C)`, `Σλ² = ‖C‖²_F` (C
    * symmetric) means NO eigensolve is needed — both numbers read
    * directly off the [[covariance]] table, which also makes the audit
    * SQL-oracle-able where an eigendecomposition is not. ER ≈ dim ⇒
    * isotropic (cosine retrieval well-conditioned); ER ≪ dim ⇒ the mass
    * sits in a few directions and [[whiten]] (or mean-centering alone)
    * is worth running before retrieval.
    *
    * Scale: one [[covariance]] pass (shuffle-free Gram accumulation);
    * the aggregate here runs over the d² driver-built table. */
  def spectrum(embeddings: DataFrame, dim: Int = 64): DataFrame =
    covariance(embeddings, dim)
      .agg(
        round(sum(when(col("i") === col("j"), col("cov")).otherwise(0.0)), 6)
          .as("trace"),
        round(sum(col("cov") * col("cov")), 6).as("frob_sq"))
      .select(col("trace"), col("frob_sq"),
        // a zero covariance matrix (constant embeddings at 6-dp) has no
        // spectrum: report 0, not the engine-dependent 0/0
        when(col("frob_sq") === 0, lit(0.0))
          .otherwise(round(col("trace") * col("trace") / col("frob_sq"), 6))
          .as("effective_rank"))

  /** ZCA whitening: project every embedding as x' = W·(x − μ) with
    * W = U·(Λ+eps)^(-1/2)·U^T from the eigendecomposition of the sample
    * covariance — after it, the whitened sample has ZERO mean and identity
    * covariance, which repairs anisotropic embedding spaces before
    * cosine-similarity retrieval (the standard whitening-for-retrieval
    * transform; subtracting μ is what removes the dominant common
    * direction — W alone would leave every vector sharing an amplified
    * W·μ component and pairwise cosines unrepaired). The moment
    * aggregation is ONE corpus pass collected at d²+d rows; the eigensolve
    * runs on the DRIVER over the d×d matrix (never corpus data); the
    * projection folds W and μ into codegen as literals (same discipline as
    * the SimHash plane fold — no join against a weights table). */
  def whiten(embeddings: DataFrame, dim: Int = 64, eps: Double = 1e-6): DataFrame = {
    val (sums, n) = gramMoments(embeddings, dim)
    val nd = math.max(n, 1L).toDouble
    val mu = Array.tabulate(dim)(i => sums(dim * dim + i) / nd)
    val c = Array.tabulate(dim, dim)((i, j) =>
      sums(i * dim + j) / nd - mu(i) * mu(j))
    val (evals, u) = jacobiEigen(c)
    // W[r][s] = Σ_k u[r][k] · (λ_k+eps)^(-1/2) · u[s][k]
    val w = Array.tabulate(dim, dim) { (r, s) =>
      var acc = 0.0
      var k = 0
      while (k < dim) {
        acc += u(r)(k) * u(s)(k) / math.sqrt(math.max(evals(k), 0.0) + eps)
        k += 1
      }
      acc
    }
    val wCol = array(w.map(row => array(row.map(lit(_)).toIndexedSeq: _*)).toIndexedSeq: _*)
    val muCol = array(mu.map(lit(_)).toIndexedSeq: _*)
    val centered = zip_with(col("embedding").cast("array<double>"), muCol,
      (a, b) => a - b)
    embeddings.select(col("vec_id"), col("label"),
      transform(wCol, row =>
        round(aggregate(zip_with(centered, row, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x), 6)).as("whitened"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — returns
    * (eigenvalues, eigenvector matrix with COLUMNS as eigenvectors).
    * Deterministic (fixed sweep order, fixed iteration cap), O(d³) per
    * sweep on the driver — d is the embedding width, never data size. */
  private[operators] def jacobiEigen(m: Array[Array[Double]],
                                     maxSweeps: Int = 50,
                                     tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > tol) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          off += a(p)(q) * a(p)(q)
          if (math.abs(a(p)(q)) > tol) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // sign(0) must be +1 (equal diagonal needs the full 45°
            // rotation; math.signum would return 0 and skip it)
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cos = 1.0 / math.sqrt(t * t + 1.0)
            val sin = t * cos
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = cos * akp - sin * akq
              a(k)(q) = sin * akp + cos * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = cos * apk - sin * aqk
              a(q)(k) = sin * apk + cos * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = cos * vkp - sin * vkq
              v(k)(q) = sin * vkp + cos * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Matryoshka / dimension-truncation evaluation: recall@k of ranking on
    * only the FIRST `dims` vector components against full-vector ground
    * truth, per query — the measurement behind "can we store a d/4-wide
    * prefix instead of the full vector". A 4× storage/bandwidth cut at
    * 100 TB is only safe if this recall holds; run it before committing to
    * a truncated layout (and after embedder upgrades, which can silently
    * reorder component importance).
    *
    * Both arms are [[Similarity.similarityJoin]] against the same query
    * set: one scoring pass each over the corpus, bounded candidates, and an
    * anchors-sized rank-set join. The truncated arm scores `slice`d vectors
    * on both sides — no rewrite of the stored table is needed to evaluate. */
  def dimRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
                dims: Int = 16): DataFrame = {
    require(k > 0, s"k must be > 0 (recall divides by k), got $k")
    val queries = embeddings.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def topIds(corpus: DataFrame, qs: DataFrame) =
      Similarity.similarityJoin(corpus, qs, k).select(col("query_id"), col("vec_id"))
    val full = topIds(embeddings, queries)
    val trunc = topIds(embeddings.withColumn("embedding", slice(col("embedding"), 1, dims)),
      queries.withColumn("query_vec", slice(col("query_vec"), 1, dims)))
    val hits = full.join(trunc, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    queries.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 6).as("recall"))
      .orderBy(asc("query_id"))
  }

  /** kNN label-consistency audit: per-label accuracy of majority-vote
    * k-nearest-neighbor classification over a hash-sampled anchor set — the
    * standard probe for "do these embeddings actually encode the labels"
    * before training on them. Collapsed or shuffled embedding batches show
    * up as accuracy at chance level; a single corrupted label cluster shows
    * up as one low-accuracy row.
    *
    * Anchors are every `anchorMod`-th vec_id (deterministic, engine-stable —
    * same contract as [[graft.operators.Sampling]]); prediction is the
    * neighbor-label majority with a (count DESC, label ASC) tie-break so
    * both engines elect the same winner.
    *
    * Scale shape: one scored corpus pass against the broadcast anchors, a
    * per-anchor top-k window (partial WindowGroupLimit bounds the shuffle
    * at k rows per anchor per partition), then two anchor-sized
    * aggregations. Anchor count is the knob: cost is one corpus scan
    * regardless of how many anchors fit the broadcast. */
  def knnLabelAudit(embeddings: DataFrame, k: Int = 10, anchorMod: Long = 7L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = embeddings.where(pmod(col("vec_id"), lit(anchorMod)) === 0)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("query_vec"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("vec_id"))
    val top = embeddings.crossJoin(broadcast(anchors))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("query_label"), col("vec_id"), col("label"),
        round(cosine_sim(col("embedding"), col("query_vec")), 6).as("score"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
    val votes = top
      .groupBy(col("query_id"), col("query_label"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val wv = Window.partitionBy(col("query_id")).orderBy(desc("cnt"), asc("label"))
    val pred = votes.withColumn("r", row_number().over(wv)).where(col("r") === 1)
      .select(col("query_label"),
        (col("label") === col("query_label")).cast("bigint").as("ok"))
    pred
      .groupBy(col("query_label").as("label"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("correct"))
      .select(col("label"), col("n"), col("correct"),
        round(col("correct") / col("n"), 6).as("acc"))
      .orderBy(col("label"))
  }

  /** Retrieval-quality eval — per-label mean MRR and NDCG@k of cosine
    * retrieval over hash-sampled anchor queries, with binary relevance =
    * label agreement. The ranking-metric report an embedding-model eval
    * publishes next to [[knnLabelAudit]]'s classification view: MRR grades
    * where the FIRST relevant hit lands, NDCG@k grades the whole ranked
    * prefix with the standard 1/log2(rank+1) discount, normalized by the
    * ideal DCG over min(corpus relevant, k) — so a label with fewer than k
    * members can still score 1.0 when retrieval is perfect.
    *
    * Plan shape = [[knnLabelAudit]]: anchors broadcast against the corpus
    * (`anchorMod` dials the eval-set size — production eval sets are fixed
    * a-priori samples, so the broadcast side is bounded by contract), one
    * window per anchor bounded at k, then anchor- and label-keyed
    * aggregations. The per-label relevant-count table is a label-keyed
    * aggregate (labels ≪ corpus, broadcast). Determinism: 6-dp-rounded
    * scores with vec_id tie-break, the contract every ranking oracle
    * shares. */
  def retrievalEval(embeddings: DataFrame, k: Int = 10, anchorMod: Long = 7L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = embeddings.where(pmod(col("vec_id"), lit(anchorMod)) === 0)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("query_vec"))
    val labelCounts = embeddings.groupBy(col("label").as("query_label"))
      .agg(count(lit(1)).as("label_n"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("vec_id"))
    val top = embeddings.crossJoin(broadcast(anchors))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("query_label"), col("vec_id"),
        (col("label") === col("query_label")).cast("int").as("rel"),
        round(cosine_sim(col("embedding"), col("query_vec")), 6).as("score"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
    val per = top.groupBy(col("query_id"), col("query_label"))
      .agg(
        max(col("rel").cast("double") / col("rnk").cast("double")).as("mrr"),
        sum(col("rel").cast("double") / log2(col("rnk").cast("double") + 1.0)).as("dcg"))
    val ideal = per.join(broadcast(labelCounts), Seq("query_label"))
      .withColumn("m", least(col("label_n") - 1, lit(k.toLong)))
      .withColumn("idcg", when(col("m") >= 1, expr(
        "aggregate(sequence(1L, m), 0D, (acc, i) -> acc + 1.0 / log2(CAST(i AS DOUBLE) + 1.0))"))
        .otherwise(lit(0.0)))
    ideal
      .groupBy(col("query_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("mrr")), 6).as("mrr"),
        round(avg(when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(0.0)), 6).as("ndcg"))
      .orderBy(col("label"))
  }
}
