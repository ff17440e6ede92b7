package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.functions.CosineSimilarity
import graft.functions.VectorFunctions._

/** Exact similarity search — the reference's flagship operator family
  * (`/root/reference/collection/collection.go:64-151`) re-expressed as Spark
  * bulk operations.
  *
  * Scale notes (100 TB design):
  *  - single-query top-k plans as `TakeOrderedAndProject` over a parquet scan:
  *    per-partition bounded heap + driver merge of k·P rows — no shuffle of
  *    data, embarrassingly parallel across executors;
  *  - the query vector travels as a literal inside the codegen'd expression
  *    (constant-folded), not as a joined row;
  *  - batch similarity join broadcasts the (small) query side and scores
  *    the corpus in one `mapPartitions` pass with a k-slot selection per
  *    query — no (corpus, query) pair is ever a row, the corpus never
  *    shuffles, and the only shuffle carries ≤ Q·k candidates per partition
  *    to the per-query `row_number` window.
  *
  * Determinism: reference tie behavior is nondeterministic
  * (`collection/collection.go:105-146`); we pin `score DESC, id ASC` and rank
  * by the 6-dp-rounded score so Spark and the DuckDB oracle agree bit-for-bit
  * (SURVEY.md §2.2, §7.5).
  */
object Similarity {

  /** Rounded score used for both ranking and output — ranking on the rounded
    * value makes cross-engine ordering stable (sub-1e-6 float drift collapses
    * into the deterministic `id` tie-break). */
  private def score(embedding: Column, queryVec: Column): Column =
    round(cosine_sim(embedding, queryVec), 6)

  /** Fetch one stored embedding to use as the query vector (driver-side point
    * lookup of a single 64-dim row — the "query text → query vector" step;
    * reference embeds the query with the collection's embedder,
    * `collection/collection.go:66-73`). Memoized per (dir, vecId) together
    * with the [[graft.core.GraftDatabase.sourceFingerprint]] of
    * `embeddings.parquet` it was read under: several operators probe with the
    * same vector, so an unchanged source costs one file listing instead of a
    * point-scan job, while a changed source (an append or rewrite, the case
    * `RebuildIfStale` exists for) misses and re-reads, replacing the stale
    * entry — at most one vector per (dir, vecId). The fingerprint is taken
    * before the read, so a change racing the read can only force a re-read,
    * never pin an old vector. */
  private val queryVectorCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), (String, Array[Double])]

  def queryVector(spark: SparkSession, dir: String, vecId: Long): Array[Double] = {
    val fp = graft.core.GraftDatabase.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    queryVectorCache.get((dir, vecId)) match {
      case Some((`fp`, v)) => v
      case _ =>
        val v = Tables.embeddings(spark, dir)
          .where(col("vec_id") === vecId)
          .select("embedding")
          .collect()
          .headOption
          .getOrElse(throw new graft.core.GraftException(
            s"query vector $vecId not found in $dir/embeddings.parquet"))
          .getSeq[Double](0)
          .toArray
        queryVectorCache.put((dir, vecId), (fp, v))
        v
    }
  }

  /** O1/X1 — exact top-k cosine search against a single query vector. */
  def topKSingle(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10): DataFrame = {
    val q = typedLit(queryVector(spark, dir, queryVecId))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), score(col("embedding"), q).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** X4 — metadata-filtered top-k: arbitrary column predicates applied before
    * scoring; Catalyst pushes them into the parquet scan (the reference lists
    * metadata filtering as a roadmap gap, README.md:146). */
  def topKFiltered(spark: SparkSession, dir: String, queryVecId: Long = 0L,
                   k: Int = 10, labelFilter: Int = 3): DataFrame = {
    val q = typedLit(queryVector(spark, dir, queryVecId))
    Tables.embeddings(spark, dir)
      .where(col("label") === labelFilter)
      .select(col("vec_id"), col("label"), score(col("embedding"), q).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** O7 — point lookup by record id (predicate-pushdown point scan;
    * reference `collection/collection.go:56-62`). */
  def pointLookup(spark: SparkSession, dir: String, vecId: Long = 42L): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") === vecId)
      .select(col("vec_id"), col("label"), round(l2_norm(col("embedding")), 6).as("norm"))

  /** X2 — batch similarity join: Q query vectors × N records, per-query exact
    * top-k. The query side (small) is collected and broadcast, because the
    * plan depends on Q ≪ N (the packed block must fit in driver and executor
    * memory; with the 64-dim doubles here that's ~0.5 KB/query, so even
    * 10^6 queries pack into ~0.5 GB). Scoring happens map-side in one pass
    * over the corpus with no shuffle of the big side, and each partition
    * keeps only its k best rows per query, so the shuffle carries ≤ k rows
    * per partition per query, not the cross product. At 100 TB the
    * remaining exposure is O(N·Q·d) compute; [[graft.operators.Ann.annTopk]]
    * is the LSH-bucketed pre-filter for that regime. */
  def batchSimilarityJoin(spark: SparkSession, dir: String,
                          numQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = e.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    similarityJoin(e, queries, k)
  }

  /** The generic core of X2: per-query exact top-k of `queries`
    * (`query_id`, `query_vec`) against `corpus` (`vec_id`, `label`,
    * `embedding`). Also the per-micro-batch body of the stream-static
    * enrichment ([[graft.streaming.Streaming.streamSimilarity]]) — one
    * code path owns the scoring semantics.
    *
    * Shape: the query side is collected once on the driver and broadcast
    * packed ([[QueryBlock]]); the corpus is scored in ONE `mapPartitions`
    * pass that keeps a k-slot selection per query, so each partition emits
    * at most Q·k candidates and no (corpus, query) pair is ever a row. The
    * `row_number` window below ranks those candidates — the same ranking
    * contract the selection pre-applies, so the result is the exact top-k
    * of the full cross product, scores bit-identical to
    * `round(cosine_sim(embedding, query_vec), 6)`. */
  def similarityJoin(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), col("label"), col("embedding"))
    val q = queries.select(col("query_id"), col("query_vec"))
    val block = c.sparkSession.sparkContext.broadcast(QueryBlock(q.collect()))
    val idType = c.schema("vec_id").dataType
    val candidateSchema = StructType(Seq(q.schema("query_id"), c.schema("vec_id"),
      c.schema("label"), StructField("score", DoubleType)))
    val candidates = c.mapPartitions(rows => block.value.topK(rows, k, idType))(
      Encoders.row(candidateSchema))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("vec_id"))
    candidates
      .withColumn("rnk", row_number().over(w).cast("bigint")) // bigint: matches DuckDB row_number
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("label"), col("score"))
      .orderBy(asc("query_id"), asc("rnk"))
  }
}

/** The query side of [[Similarity.similarityJoin]], broadcast once: Q query
  * vectors packed row-major in one `double[Q·d]` with each query's squared
  * norm. Elements are read with `Number.doubleValue`, which for FLOAT and
  * DOUBLE vectors is exactly `cosine_sim`'s widening cast. `lens(j)` is -1
  * for a NULL query vector; `firstNull(j)` is the index of its first NULL
  * element (its length if none). A query set whose vectors disagree in
  * length is not packed (`dim` -1): every non-NULL corpus row then fails
  * the pair check, as `cosine_sim` would. */
private[operators] final class QueryBlock(
    ids: Array[Any], dim: Int, vecs: Array[Double], sqNorms: Array[Double],
    lens: Array[Int], firstNull: Array[Int]) extends Serializable {

  import QueryBlock._

  /** Every non-NULL query has length `dim` and no NULL element — a corpus
    * row of length `dim` with no NULL element then needs no pair check. */
  private val clean = lens.indices.forall(j => lens(j) < 0 || firstNull(j) == dim)

  /** One partition's candidates: each query's best k corpus rows in the
    * window's order — rounded score descending, NULL scores last, then
    * `vec_id` ascending with NULLs first. Rows are (`vec_id`, `label`,
    * `embedding`); candidates are (`query_id`, `vec_id`, `label`, `score`). */
  def topK(rows: Iterator[Row], k: Int, idType: DataType): Iterator[Row] =
    if (k <= 0 || ids.isEmpty) Iterator.empty
    else select(rows, k, idType, null)._1
      .rows((j, c) => Row(ids(j), c.vecId, c.label, c.scoreOrNull))

  /** [[topK]]'s selection plus, per query, a second k-slot selection over
    * only the rows whose cell is in that query's probe list — the exact and
    * the IVF arm of a recall audit in one pass. Rows are (`vec_id`,
    * `label`, `embedding`, `cell`); `probes(j)` holds query j's cells.
    * Candidates are (`query_id`, `vec_id`, `score`, `probed`), one per
    * retained row and arm. A NULL cell is in no probe list. */
  def probedTopK(rows: Iterator[Row], k: Int, idType: DataType,
                 probes: Array[java.util.BitSet]): Iterator[Row] =
    if (k <= 0 || ids.isEmpty) Iterator.empty
    else {
      val (all, probed) = select(rows, k, idType, probes)
      all.rows((j, c) => Row(ids(j), c.vecId, c.scoreOrNull, false)) ++
        probed.rows((j, c) => Row(ids(j), c.vecId, c.scoreOrNull, true))
    }

  /** Scores every row against every query, offering it to `all` and, when
    * `probes` is given and the row's cell (column 3) is in query j's
    * list, to `probed` — one score per (row, query) serves both. */
  private def select(rows: Iterator[Row], k: Int, idType: DataType,
                     probes: Array[java.util.BitSet]): (Selection, Selection) = {
    val nq = ids.length
    val keyOf = CatalystTypeConverters.createToCatalystConverter(idType)
    val rank = ranking(TypeUtils.getInterpretedOrdering(idType))
    val all = new Selection(nq, k, rank)
    val probed = if (probes == null) null else new Selection(nq, k, rank)
    val dots = new Array[Double](nq)
    var x = new Array[Double](math.max(dim, 0))

    rows.foreach { r =>
      val vecId = r.get(0)
      val cell = if (probed == null || r.isNullAt(3)) -1 else r.getLong(3).toInt
      def inCell(j: Int) = cell >= 0 && probes(j).get(cell)
      // one candidate per (row, query), rounded only once admitted
      def offer(j: Int, toAll: Boolean, toProbed: Boolean, raw: Double, isNull: Boolean): Unit =
        if (toAll || toProbed) {
          val c = new Candidate(if (isNull) 0.0 else round6(raw), isNull, keyOf(vecId), vecId,
            r.get(1))
          if (toAll) all.offer(j, c)
          if (toProbed) probed.offer(j, c)
        }
      def offerNull(j: Int): Unit =
        offer(j, all.admitsNull(j), inCell(j) && probed.admitsNull(j), 0.0, isNull = true)
      if (r.isNullAt(2)) {
        var j = 0
        while (j < nq) { offerNull(j); j += 1 }
      } else {
        val seq = r.getSeq[Any](2)
        val n = seq.length
        if (x.length != n) x = new Array[Double](n)
        var fx = n
        var nx = 0.0
        var i = 0
        val it = seq.iterator
        while (i < n) {
          val e = it.next()
          if (e == null) { if (fx == n) fx = i; x(i) = 0.0 }
          else { val a = e.asInstanceOf[Number].doubleValue(); x(i) = a; nx += a * a }
          i += 1
        }
        if (!(clean && n == dim && fx == n)) checkPairs(n, fx)
        if (n == dim) dotAll(x, dots)
        var j = 0
        while (j < nq) {
          if (lens(j) < 0) offerNull(j)
          else {
            val raw = CosineSimilarity.fromParts(dots(j), nx, sqNorms(j))
            offer(j, all.admits(j, raw), inCell(j) && probed.admits(j, raw), raw, isNull = false)
          }
          j += 1
        }
      }
    }
    (all, probed)
  }

  /** `cosine_sim`'s checks for one corpus row against each non-NULL query
    * in order: the length check first, then the first NULL element of
    * either vector. */
  private def checkPairs(n: Int, fx: Int): Unit = {
    var j = 0
    while (j < lens.length) {
      if (lens(j) >= 0) {
        if (lens(j) != n) throw CosineSimilarity.lengthMismatch(n, lens(j))
        val f = math.min(fx, firstNull(j))
        if (f < n) throw CosineSimilarity.nullElement(f)
      }
      j += 1
    }
  }

  /** `dots(j) = x · query j` for every query, accumulated in index order as
    * `cosine_sim` does. */
  private def dotAll(x: Array[Double], dots: Array[Double]): Unit = {
    var j = 0
    while (j < dots.length) {
      val o = j * dim
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += x(i) * vecs(o + i); i += 1 }
      dots(j) = acc
      j += 1
    }
  }
}

private[operators] object QueryBlock {

  /** Pack collected (`query_id`, `query_vec`) rows. */
  def apply(rows: Array[Row]): QueryBlock = {
    val nq = rows.length
    val ids = rows.map(_.get(0))
    val vs: Array[scala.collection.Seq[Any]] =
      rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Any](1))
    val lens = vs.map(v => if (v == null) -1 else v.length)
    val firstNull = vs.map { v =>
      if (v == null) -1 else { val f = v.indexOf(null); if (f < 0) v.length else f }
    }
    val present = lens.filter(_ >= 0).distinct
    val dim = if (present.length == 1) present.head else if (present.isEmpty) 0 else -1
    val vecs = new Array[Double](nq * math.max(dim, 0))
    val sqNorms = new Array[Double](nq)
    if (dim >= 0) for (j <- 0 until nq if vs(j) != null) {
      var ny = 0.0
      var i = 0
      vs(j).foreach { e =>
        val b = if (e == null) 0.0 else e.asInstanceOf[Number].doubleValue()
        vecs(j * dim + i) = b
        ny += b * b
        i += 1
      }
      sqNorms(j) = ny
    }
    new QueryBlock(ids, dim, vecs, sqNorms, lens, firstNull)
  }

  /** One retained corpus row of a query's selection. `key` is `vec_id` in
    * Catalyst form, compared with Spark's own ordering for its type. */
  final class Candidate(val score: Double, val isNull: Boolean, val key: Any,
                        val vecId: Any, val label: Any) {
    def scoreOrNull: Any = if (isNull) null else score
  }

  /** Each query's best k candidates so far, as a bounded heap whose head is
    * the current k-th. `admits(j, raw)` skips a raw score below the bar —
    * the k-th's score less 1e-6 once full: rounding to 6 places moves a
    * score by at most 5e-7 and is monotone, so such a score cannot reach
    * the k-th. NaN (not full, or a NULL / NaN k-th) forces the full check. */
  final class Selection(nq: Int, k: Int, rank: Ordering[Candidate]) {
    private val slots = Array.fill(nq)(new java.util.PriorityQueue[Candidate](
      math.min(k, 1024) + 1, rank.reverse))
    private val bar = Array.fill(nq)(Double.NaN)

    def admits(j: Int, raw: Double): Boolean = !(raw < bar(j))

    /** A NULL score ranks below every number: it enters only a slot that
      * is not full or whose k-th is NULL too. */
    def admitsNull(j: Int): Boolean = slots(j).size < k || slots(j).peek.isNull

    def offer(j: Int, c: Candidate): Unit = {
      val s = slots(j)
      if (s.size < k) s.add(c)
      else if (rank.lt(c, s.peek)) { s.poll(); s.add(c) }
      if (s.size == k) bar(j) = if (s.peek.isNull) Double.NaN else s.peek.score - 1e-6
    }

    def rows(row: (Int, Candidate) => Row): Iterator[Row] =
      slots.iterator.zipWithIndex.flatMap { case (s, j) => s.iterator.asScala.map(row(j, _)) }
  }

  /** The reduce side of a recall audit: [[QueryBlock.probedTopK]]
    * candidates (`query_id`, `vec_id`, `score`, `probed`) of one exchange
    * partition, grouped by query, become each query's exact and probed
    * top-k lists and then (`query_id`, `hits`) — the size of their
    * equi-join on `vec_id`: a NULL id never matches, and an id held n times
    * in one list and m times in the other counts n·m. A query with no
    * candidate here emits no row. */
  def recallHits(rows: Iterator[Row], k: Int, idType: DataType): Iterator[Row] = {
    val keyOf = CatalystTypeConverters.createToCatalystConverter(idType)
    val rank = ranking(TypeUtils.getInterpretedOrdering(idType))
    val byQuery = scala.collection.mutable.LinkedHashMap.empty[Any,
      (ArrayBuffer[Candidate], ArrayBuffer[Candidate])]
    rows.foreach { r =>
      val (exact, probed) = byQuery.getOrElseUpdate(r.get(0), (ArrayBuffer.empty, ArrayBuffer.empty))
      val isNull = r.isNullAt(2)
      (if (r.getBoolean(3)) probed else exact) +=
        new Candidate(if (isNull) 0.0 else r.getDouble(2), isNull, keyOf(r.get(1)), r.get(1), null)
    }
    def topKeys(cs: ArrayBuffer[Candidate]) = cs.sorted(rank).take(k).map(_.key).filter(_ != null)
    byQuery.iterator.map { case (q, (exact, probed)) =>
      val counts = topKeys(probed).groupMapReduce(identity)(_ => 1L)(_ + _)
      Row(q, topKeys(exact).map(counts.getOrElse(_, 0L)).sum)
    }
  }

  /** The window's order: `score DESC` (NULLs last; NaN above every number
    * and 0.0 = -0.0, as Spark compares doubles), then `vec_id ASC` (NULLs
    * first). */
  def ranking(idOrder: Ordering[Any]): Ordering[Candidate] = new Ordering[Candidate] {
    def compare(a: Candidate, b: Candidate): Int =
      if (a.isNull != b.isNull) { if (a.isNull) 1 else -1 }
      else {
        val s = if (a.isNull || a.score == b.score) 0
          else java.lang.Double.compare(b.score, a.score)
        if (s != 0) s
        else if (a.key == null) { if (b.key == null) 0 else -1 }
        else if (b.key == null) 1
        else idOrder.compare(a.key, b.key)
      }
  }

  /** Spark's `round(_, 6)` on a double: HALF_UP over `Double.toString`'s
    * decimal; NaN and infinities pass through. */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
