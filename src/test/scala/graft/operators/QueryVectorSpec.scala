package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.core.IndexPolicy

/** The query-vector memo follows its source: after `embeddings.parquet` is
  * rewritten with a new vector under the same `vec_id`, the lookup and a
  * `RebuildIfStale` IVF probe both use the new vector. */
class QueryVectorSpec extends SparkSpec {

  private def vec(i: Int): Seq[Float] =
    Seq(math.cos(i), math.sin(i), math.cos(2.0 * i), math.sin(3.0 * i)).map(_.toFloat)

  private def write(dir: String, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label").coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("a rewritten source serves the new query vector, memo and IVF probe alike") {
    val dir = Files.createTempDirectory("graft-qv-").toString
    val before = (0 until 24).map(i => (i.toLong, vec(i), i % 3))
    write(dir, before)
    val q = 5L
    assert(Similarity.queryVector(spark, dir, q).toSeq == vec(5).map(_.toDouble))
    def probe() = Ann.ivfTopkIndexed(spark, dir, q, k = 3, nCells = 4, nProbe = 4,
      policy = IndexPolicy.RebuildIfStale).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(probe().head == ((q, 1.0)))

    val fresh = vec(17).map(x => -x)
    val after = before.map { case (i, v, l) => (i, if (i == q) fresh else v, l) }
    write(dir, after)
    val qv = fresh.map(_.toDouble)
    assert(Similarity.queryVector(spark, dir, q).toSeq == qv)
    // nProbe = nCells opens every cell, so the probe is the exact top-k
    val expected = after.map { case (i, v, _) => (i, round6(cosine(v.map(_.toDouble), qv))) }
      .sortBy { case (i, s) => (-s, i) }.take(3)
    val got = probe()
    assert(got.map(_._1) == expected.map(_._1))
    assert(got.zip(expected).forall { case ((_, a), (_, b)) => math.abs(a - b) <= 2e-6 })
    assert(got.head == ((q, 1.0)))
  }
}
