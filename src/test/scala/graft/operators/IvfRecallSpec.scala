package graft.operators

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.Tables
import graft.functions.VectorFunctions.cosine_sim

/** [[Ann.probeHits]] — the recall kernel behind [[Ann.ivfRecall]] and
  * [[Ann.ivfRetrainOnRecall]] — pinned row for row to the join/window form
  * it replaced, which this spec keeps as its reference model. */
class IvfRecallSpec extends SparkSpec {

  /** Reference model: exact arm from the similarity join, IVF arm from the
    * cell equi-join against the (query, probe-cell) list ranked by a
    * `row_number` window, hits from the rank-set join, zero-hit queries
    * from a left join to the queries. */
  private def reference(e: DataFrame, cents: Seq[Seq[Double]],
                        qRows: Seq[(Long, Seq[Double])], k: Int, nProbe: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val queries = qRows.toDF("query_id", "query_vec")
    val probeDf = qRows.flatMap { case (qid, qv) =>
      Ann.probe(cents, qv.toArray, nProbe).map(ci => (qid, ci.toLong, qv))
    }.toDF("query_id", "cell", "query_vec")
    val exact = Similarity.similarityJoin(e, queries, k)
      .select(col("query_id"), col("vec_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("vec_id"))
    val cand = Ann.assignCells(e, cents).join(broadcast(probeDf), Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        round(cosine_sim(col("embedding"), col("query_vec")), 6).as("score"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"))
    val hits = exact.join(cand, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    queries.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** [[Ann.ivfRecall]]'s body over [[reference]]. */
  private def referenceRecall(dir: String, nQueries: Int, k: Int, nCells: Int,
                              nProbe: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val seeds = Ann.seedVectors(e, Long.MinValue, math.max(nCells, nQueries).toLong)
    reference(e, Ann.seedsIn(seeds, Long.MinValue, nCells), seeds.filter(_._1 < nQueries),
      k, nProbe)
      .select(col("query_id"), col("hits"), round(col("hits") / lit(k.toDouble), 6).as("recall"))
      .orderBy(asc("query_id"))
  }

  /** [[Ann.ivfRetrainOnRecall]]'s `total_hits` over [[reference]]. */
  private def referenceTotal(dir: String, k: Int, nCells: Int, nProbe: Int, maxIters: Int,
                             splitId: Long, nQueries: Int): Long = {
    val e = Tables.embeddings(spark, dir)
    val (stale, _) = Ann.trainCentroids(e.where(col("vec_id") < splitId), nCells, maxIters)
    reference(e, stale, Ann.seedVectors(e, Long.MinValue, nQueries), k, nProbe)
      .agg(sum(col("hits"))).collect()(0).getLong(0)
  }

  /** Rows with every double replaced by its bit pattern (NaN = NaN). */
  private def bits(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case v => v
  })

  private def corpusOf(vecs: Seq[(java.lang.Long, Seq[java.lang.Double])],
                       element: DataType, parts: Int = 4): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("label", IntegerType), StructField("embedding", ArrayType(element))))
    val rows = vecs.map { case (id, v) =>
      val e = if (v == null) null else element match {
        case FloatType => v.map(x => java.lang.Float.valueOf(x.toFloat))
        case _ => v
      }
      Row(id, Integer.valueOf(3), e)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  /** `vecs` stored as `embeddings.parquet` in one file per partition. */
  private def dirOf(vecs: Seq[(java.lang.Long, Seq[java.lang.Double])],
                    element: DataType): String = {
    val dir = Files.createTempDirectory("graft-ivf-recall-").toString
    corpusOf(vecs, element).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def randomVecs(n: Int, dim: Int, seed: Long): Seq[Seq[java.lang.Double]] = {
    val r = new Random(seed)
    Seq.fill(n)(Seq.fill(dim)(java.lang.Double.valueOf(r.nextGaussian())))
  }

  private def ids(vecs: Seq[Seq[java.lang.Double]]) =
    vecs.zipWithIndex.map { case (v, i) => (java.lang.Long.valueOf(i), v) }

  /** ivfRecall, and with `retrain` ivfRetrainOnRecall's total_hits, against
    * the reference. */
  private def assertRecallSame(dir: String, nQueries: Int, k: Int, nCells: Int,
                               nProbe: Int, retrain: Boolean = true): Unit = {
    val splitId = 250L
    val got = Ann.ivfRecall(spark, dir, nQueries, k, nCells, nProbe)
    val want = referenceRecall(dir, nQueries, k, nCells, nProbe)
    assert(got.schema == want.schema)
    assert(bits(got) == bits(want), s"ivfRecall k=$k nProbe=$nProbe")
    if (retrain) {
      val total = Ann.ivfRetrainOnRecall(spark, dir, 0L, k, nCells, nProbe, maxIters = 2,
        splitId = splitId, nQueries = nQueries, minHits = 0L)
        .select("total_hits").head().getLong(0)
      assert(total == referenceTotal(dir, k, nCells, nProbe, 2, splitId, nQueries),
        s"total_hits k=$k nProbe=$nProbe")
    }
  }

  test("random corpus over several partitions, FLOAT and DOUBLE storage") {
    val vecs = ids(randomVecs(300, 8, 1L))
    for (element <- Seq(FloatType, DoubleType)) {
      val dir = dirOf(vecs, element)
      assert(Tables.embeddings(spark, dir).inputFiles.length >= 2)
      assertRecallSame(dir, nQueries = 10, k = 7, nCells = 8, nProbe = 2,
        retrain = element == FloatType)
    }
  }

  test("nProbe 1 and nCells, k 0 and above the corpus size") {
    val dir = dirOf(ids(randomVecs(300, 8, 2L)), FloatType)
    for ((k, nProbe, retrain) <- Seq((5, 1, true), (5, 8, false), (400, 3, true))) {
      assertRecallSame(dir, nQueries = 6, k = k, nCells = 8, nProbe = nProbe, retrain = retrain)
    }
    // k = 0 (ivfRecall's recall would divide by it): every query, 0 hits
    val e = Tables.embeddings(spark, dir)
    val seeds = Ann.seedVectors(e, Long.MinValue, 8L)
    val none = Ann.probeHits(e, seeds.map(_._2), seeds.take(6), 0, 3)
    assert(bits(none) == bits(reference(e, seeds.map(_._2), seeds.take(6), 0, 3).orderBy("query_id")))
    assert(none.collect().toSeq == (0L until 6L).map(Row(_, 0L)))
    // the full probe is the exact scan: recall 1.0 for every query
    assert(Ann.ivfRecall(spark, dir, 6, 5, 8, 8).collect().forall(_.getDouble(2) == 1.0))
  }

  test("ties at the k-th score") {
    // four directions, each at several lengths: every score ties with
    // every other vector of its direction
    val base = randomVecs(4, 8, 3L)
    val vecs = ids((0 until 280).map { i =>
      base(i % 4).map(x => java.lang.Double.valueOf(x * (1 + i % 5)))
    })
    assertRecallSame(dirOf(vecs, DoubleType), nQueries = 8, k = 6, nCells = 4, nProbe = 2)
  }

  test("NULL and zero vectors, NULL and duplicate vec_id") {
    val rnd = randomVecs(300, 8, 4L)
    val zero = Seq.fill(8)(java.lang.Double.valueOf(0.0))
    val dup = rnd.take(40).zipWithIndex.map { case (v, i) =>
      (java.lang.Long.valueOf(260L + i % 5), if (i % 2 == 0) v else rnd(260 + i % 5))
    }
    val vecs = ids(rnd) ++ dup ++ Seq[(java.lang.Long, Seq[java.lang.Double])](
      (3L, rnd(200)), // a duplicated query id
      (270L, null), (271L, null), (272L, zero), (273L, zero),
      (null, rnd(5)), (null, rnd(6)), (null, zero), (null, null))
    val dir = dirOf(vecs, FloatType)
    for ((k, nProbe, retrain) <- Seq((4, 2, true), (12, 1, false))) {
      assertRecallSame(dir, nQueries = 8, k = k, nCells = 8, nProbe = nProbe, retrain = retrain)
    }
    // the same corpus, unsorted in memory, probed directly with queries
    // that sit next to the NULL, zero and duplicated rows
    val e = corpusOf(vecs, FloatType, parts = 5)
    val cents = randomVecs(6, 8, 5L).map(_.map(_.doubleValue))
    val qRows = Seq((1L, rnd(262)), (2L, rnd(7)), (2L, rnd(8)), (9L, rnd(260)))
      .map { case (q, v) => (q, v.map(_.doubleValue)) }
    for ((k, nProbe) <- Seq((1, 1), (5, 6), (500, 6))) {
      val got = Ann.probeHits(e, cents, qRows, k, nProbe)
      assert(bits(got) == bits(reference(e, cents, qRows, k, nProbe).orderBy("query_id")),
        s"probeHits k=$k nProbe=$nProbe")
    }
  }

  test("a duplicated id pairs its unprobed exact copy with its probed copy, as the join does") {
    // cells 1 = (1, 0) and 2 = (0, 1); the query probes cell 1 only.
    // id 5 scores 0.99 in cell 2 (exact top-2) and 0.37 in cell 1 (probed
    // top-2, though below the exact arm's k-th): the join counts the pair
    def v(xs: Double*) = xs.map(java.lang.Double.valueOf)
    val e = corpusOf(Seq[(java.lang.Long, Seq[java.lang.Double])](
      (5L, v(0.9, 1.0)), (7L, v(1.0, 0.2)), (5L, v(1.0, -0.5))), DoubleType, parts = 1)
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val qRows = Seq((0L, Seq(1.0, 0.9)))
    val got = Ann.probeHits(e, cents, qRows, 2, 1)
    assert(bits(got) == bits(reference(e, cents, qRows, 2, 1)))
    assert(got.collect().toSeq == Seq(Row(0L, 2L)))
  }

  test("an empty corpus still yields one row per query") {
    val e = corpusOf(Nil, DoubleType, parts = 1)
    val cents = randomVecs(3, 8, 6L).map(_.map(_.doubleValue))
    val qRows = Seq((0L, cents(1)), (4L, cents(2)))
    val got = Ann.probeHits(e, cents, qRows, 5, 2)
    assert(bits(got) == bits(reference(e, cents, qRows, 5, 2).orderBy("query_id")))
    assert(got.collect().toSeq == Seq(Row(0L, 0L), Row(4L, 0L)))
    val empty = Tables.write(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], e.schema))
    val dir = Files.createTempDirectory("graft-ivf-recall-").toString
    empty.parquet(s"$dir/embeddings.parquet")
    assert(Ann.ivfRecall(spark, dir, 4, 5, 3, 2).collect().isEmpty)
  }

  // recall = hits / k: every recall audit rejects k <= 0 at its entry,
  // before any read or job, instead of failing in execution — so a
  // warehouse that does not exist is never reached
  private def assertRejectsK(run: Int => Any): Unit =
    for (k <- Seq(0, -1)) {
      val err = intercept[IllegalArgumentException](run(k))
      assert(err.getMessage.contains(s"k must be > 0") && err.getMessage.contains(s"got $k"))
    }

  private val noDir = "no-such-warehouse"

  test("ivfRecall rejects k <= 0 up front") {
    assertRejectsK(k => Ann.ivfRecall(spark, noDir, k = k))
  }

  test("annRecall rejects k <= 0 up front") {
    assertRejectsK(k => Ann.annRecall(spark, noDir, k = k))
  }

  test("ivfPqRecall rejects k <= 0 up front") {
    assertRejectsK(k => Ann.ivfPqRecall(spark, noDir, k = k))
  }

  test("dimRecall rejects k <= 0 up front") {
    assertRejectsK(k => EmbeddingStats.dimRecall(spark.emptyDataFrame, k = k))
  }
}
