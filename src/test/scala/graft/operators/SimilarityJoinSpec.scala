package graft.operators

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.VectorFunctions.{as_double_array, cosine_sim}

/** [[Similarity.similarityJoin]] pinned row for row — score bits included —
  * to the plain crossJoin + `row_number` form it replaced, which this spec
  * keeps as its reference model. */
class SimilarityJoinSpec extends SparkSpec {

  /** Reference model: every (corpus, query) pair scored, ranked per query. */
  private def reference(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(cosine_sim(col("embedding"), col("query_vec")), 6).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("label"), col("score"))
      .orderBy(asc("query_id"), asc("rnk"))
  }

  /** Rows with every double replaced by its bit pattern (0.0 ≠ -0.0). */
  private def bits(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case v => v
  })

  private def assertSame(corpus: DataFrame, queries: DataFrame, k: Int): Seq[Row] = {
    val got = Similarity.similarityJoin(corpus, queries, k)
    val want = reference(corpus, queries, k)
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    assert(bits(got) == bits(want), s"k=$k")
    got.collect().toSeq
  }

  private def corpusOf(vecs: Seq[(java.lang.Long, Seq[java.lang.Double])],
                       element: DataType = FloatType, parts: Int = 5): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("label", IntegerType), StructField("embedding", ArrayType(element))))
    val rows = vecs.map { case (id, v) =>
      val e = if (v == null) null else element match {
        case FloatType => v.map(x => if (x == null) null else java.lang.Float.valueOf(x.toFloat))
        case _ => v
      }
      Row(id, if (id == null) null else Integer.valueOf((id % 3).toInt), e)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  private def queriesOf(qs: Seq[(Long, Seq[java.lang.Double])]): DataFrame = {
    val schema = StructType(Seq(StructField("query_id", LongType),
      StructField("query_vec", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(qs.map { case (id, v) => Row(id, v) }, 1),
      schema)
  }

  private def boxed(v: Seq[Double]): Seq[java.lang.Double] = v.map(java.lang.Double.valueOf)

  private def randomVecs(n: Int, dim: Int, seed: Long): Seq[Seq[java.lang.Double]] = {
    val r = new Random(seed)
    Seq.fill(n)(boxed(Seq.fill(dim)(r.nextGaussian())))
  }

  test("random corpus over 5 partitions: float and double storage, k below and above N") {
    val vecs = randomVecs(300, 16, 1L)
    val queries = queriesOf(randomVecs(12, 16, 2L).zipWithIndex.map { case (v, i) => (i.toLong, v) })
    for (element <- Seq(FloatType, DoubleType)) {
      val corpus = corpusOf(vecs.zipWithIndex.map { case (v, i) => (java.lang.Long.valueOf(i), v) },
        element)
      assert(corpus.rdd.getNumPartitions >= 4)
      for (k <- Seq(1, 7, 300, 400)) {
        val out = assertSame(corpus, queries, k)
        assert(out.size == 12 * math.min(k, 300))
      }
    }
  }

  test("ties at the 6th decimal: duplicate vectors and scores straddling a rounding boundary") {
    // duplicates: every score repeats, ranks fall to vec_id
    val base = randomVecs(20, 8, 3L)
    val dups = (0 until 120).map(i => (java.lang.Long.valueOf((i * 37) % 120), base(i % 20)))
    // straddlers: the cosine of (t, sqrt(1 - t²)) to (1, 0) lands within a
    // few ulps of t — ulp steps across two rounding boundaries, plus a run
    // of scores 3e-7 apart, inside the selection's 1e-6 skip margin
    val ulp = math.ulp(0.4321235)
    val ts = (-8 to 8).flatMap(u => Seq(0.4321235 + u * ulp, 0.4321245 + u * ulp,
      0.4321225 + u * 3e-7))
    val straddle = ts.zipWithIndex.map { case (t, i) =>
      (java.lang.Long.valueOf(1000L + i), boxed(Seq(t, math.sqrt(1 - t * t)) ++ Seq.fill(6)(0.0)))
    }
    val corpus = corpusOf(dups ++ straddle, DoubleType, parts = 6)
    val queries = queriesOf(Seq((0L, boxed(1.0 +: Seq.fill(7)(0.0))),
      (1L, base(4)), (2L, base(11))))
    val scores = Similarity.similarityJoin(corpus, queries, 200).where(col("query_id") === 0L)
      .select("score").collect().map(_.getDouble(0)).toSet
    assert(scores.contains(0.432124) && scores.contains(0.432125) && scores.contains(0.432123),
      s"straddlers do not cross the boundary: $scores")
    for (k <- Seq(1, 3, 5, 6, 7, 10, 17, 30, 50)) assertSame(corpus, queries, k)
  }

  test("a raw score below the k-th that rounds up to it still competes on vec_id") {
    // one partition, in this order: vec 10 scores ~0.4321240 and takes the
    // single slot; vec 5 arrives later with a raw ~0.4321236 — below the
    // k-th's score, yet it rounds to the same 0.432124 and wins on vec_id
    val unit = (t: Double) => boxed(Seq(t, math.sqrt(1 - t * t)))
    val corpus = corpusOf(Seq((java.lang.Long.valueOf(10), unit(0.4321240)),
      (java.lang.Long.valueOf(5), unit(0.4321236)),
      (java.lang.Long.valueOf(7), unit(0.4321231))), DoubleType, parts = 1)
    val queries = queriesOf(Seq((0L, boxed(Seq(1.0, 0.0)))))
    val top = assertSame(corpus, queries, 1)
    assert(top.map(r => (r.getLong(2), r.getDouble(4))) == Seq((5L, 0.432124)))
    assertSame(corpus, queries, 2)
  }

  test("NULL embeddings, NULL and NaN vectors, zero vectors, NULL vec_id, duplicated query_id") {
    val vecs = randomVecs(40, 4, 4L)
    val corpus = corpusOf(
      vecs.zipWithIndex.map { case (v, i) => (java.lang.Long.valueOf(i), v) } ++ Seq(
        (java.lang.Long.valueOf(100), null),
        (java.lang.Long.valueOf(101), null),
        (null, vecs(3)),
        (null, null),
        (java.lang.Long.valueOf(102), boxed(Seq(0.0, 0.0, 0.0, 0.0))),
        (java.lang.Long.valueOf(103), boxed(Seq(Double.NaN, 1.0, 0.0, 0.0))),
        (java.lang.Long.valueOf(104), vecs(3))),
      parts = 4)
    val queries = queriesOf(Seq(
      (0L, vecs(3)), (1L, null), (2L, boxed(Seq(0.0, 0.0, 0.0, 0.0))),
      (3L, vecs(8)), (3L, vecs(9)), (4L, vecs(3))))
    for (k <- Seq(1, 2, 5, 40, 47, 60)) assertSame(corpus, queries, k)
    val nullQuery = Similarity.similarityJoin(corpus, queries, 3).where(col("query_id") === 1L)
      .collect()
    assert(nullQuery.length == 3 && nullQuery.forall(_.isNullAt(4)))
  }

  test("empty query set, empty corpus, and k = 0") {
    val corpus = corpusOf(randomVecs(30, 4, 5L).zipWithIndex
      .map { case (v, i) => (java.lang.Long.valueOf(i), v) })
    val queries = queriesOf(Seq((0L, randomVecs(1, 4, 6L).head)))
    assert(assertSame(corpus, queries.limit(0), 5).isEmpty)
    assert(assertSame(corpus.limit(0), queries, 5).isEmpty)
    assert(assertSame(corpus, queries, 0).isEmpty)
  }

  test("FLOAT storage behind the widening cast, queries drawn from the corpus") {
    // the shape Tables.embeddings loads: ARRAY<FLOAT> cast to ARRAY<DOUBLE>
    val e = corpusOf(randomVecs(200, 64, 7L).zipWithIndex
        .map { case (v, i) => (java.lang.Long.valueOf(i), v) })
      .select(col("vec_id"), as_double_array(col("embedding")).as("embedding"), col("label"))
    val queries = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    for (k <- Seq(1, 5, 10)) assertSame(e, queries, k)
  }

  /** The innermost message of a failure, through Spark's task wrapping. */
  private def rootMessage(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      .filter(m => m != null && m.contains("cosine_sim:")).toSeq.lastOption.getOrElse(t.toString)

  private def failure(df: => DataFrame): String =
    rootMessage(intercept[Exception](df.collect()))

  test("vector-length mismatch and NULL elements fail with cosine_sim's messages") {
    val corpus = corpusOf(Seq((java.lang.Long.valueOf(1), boxed(Seq(1.0, 2.0, 3.0)))))
    val short = queriesOf(Seq((0L, boxed(Seq(1.0, 2.0)))))
    val msg = "cosine_sim: vectors must be of equal length (got 3 vs 2)"
    assert(failure(reference(corpus, short, 3)).contains(msg))
    assert(failure(Similarity.similarityJoin(corpus, short, 3)).contains(msg))

    val holey = queriesOf(Seq((0L, Seq[java.lang.Double](1.0, null, 3.0))))
    val nullMsg = "cosine_sim: vectors must not contain NULL elements (at index 1)"
    assert(failure(reference(corpus, holey, 3)).contains(nullMsg))
    assert(failure(Similarity.similarityJoin(corpus, holey, 3)).contains(nullMsg))
  }
}
