package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated document, in the column layout of the engine's
  * `documents` table (`doc_id, text, lang, source, n_chars`). */
final case class Doc(id: Long, text: String, lang: String, source: String)

/** Seeded input generator. Every input of every workload comes from here,
  * so one seed always yields the same files, and the engine only ever sees
  * those files. Callers choose only how many docs or vectors; the
  * properties the engine's behaviour depends on are the constants below. */
object Gen {

  /** Vocabulary size and Zipf skew: token statistics, shingle overlap and
    * band-bucket sizes. */
  val Vocab = 5000
  val ZipfS = 1.07
  /** Words per document. */
  val MinWords = 30
  val MaxWords = 110
  /** Planted exact (byte-copy) and one-word-edit near duplicates: the work
    * of dedup and near-dedup. */
  val ExactDupRate = 0.04
  val NearDupRate = 0.04
  /** Docs carrying an e-mail or phone number, and docs made of one repeated
    * 3-word phrase: what the text gates reject. */
  val PiiRate = 0.02
  val RepetitiveRate = 0.02
  /** Distinct `source` values, drawn with Zipf skew 1. */
  val Sources = 40
  /** Vector dimension, cluster count and per-component spread around the
    * unit cluster centres: cosine work and IVF cell balance. */
  val Dim = 64
  val Clusters = 32
  val Spread = 0.35

  private val Langs = Array("en", "en", "en", "es", "de", "fr", "zh")
  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Stop words of the engine's quality gate, placed at the top Zipf ranks
    * so that generated text scores like natural text instead of like noise. */
  private val StopWords = Seq("the", "el", "der", "a", "la", "die", "of", "de", "das",
    "and", "que", "und", "to", "y", "ist", "is", "en", "ein")

  /** `n` distinct lowercase words: the stop words, then random words of
    * 2–9 letters. */
  def vocabulary(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String] ++ StopWords
    while (seen.size < n) {
      val len = 2 + rng.nextInt(8)
      seen += Iterator.fill(len)(Letters.charAt(rng.nextInt(Letters.length))).mkString
    }
    seen.toArray
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Documents with ids `firstId ..`; duplicates always copy a lower id. */
  def corpus(seed: Long, n: Int, firstId: Long = 0L): Array[Doc] = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(rng.split(), Vocab)
    val zipf = new Zipf(Vocab, ZipfS)
    val srcZipf = new Zipf(Sources, 1.0)
    val words = new Array[Array[String]](n)
    val docs = new Array[Doc](n)
    val originals = mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until n) {
      val id = firstId + i
      val u = rng.nextDouble()
      val w: Array[String] =
        if (originals.nonEmpty && u < ExactDupRate) {
          val o = originals(rng.nextInt(originals.length))
          words(o)
        } else if (originals.nonEmpty && u < ExactDupRate + NearDupRate) {
          val o = originals(rng.nextInt(originals.length))
          val copy = words(o).clone()
          val pos = rng.nextInt(copy.length)
          var repl = vocab(zipf.sample(rng))
          while (repl == copy(pos)) repl = vocab(rng.nextInt(vocab.length))
          copy(pos) = repl
          copy
        } else {
          val len = MinWords + rng.nextInt(MaxWords - MinWords + 1)
          val v = rng.nextDouble()
          val base =
            if (v < RepetitiveRate) {
              val phrase = Array.fill(3)(vocab(zipf.sample(rng)))
              Array.tabulate(len)(k => phrase(k % 3))
            } else Array.fill(len)(vocab(zipf.sample(rng)))
          if (v >= RepetitiveRate && v < RepetitiveRate + PiiRate)
            base(rng.nextInt(len)) =
              if (rng.nextBoolean()) s"${vocab(rng.nextInt(vocab.length))}.${id}@example.org"
              else f"+1-${rng.nextInt(1000)}%03d-${rng.nextInt(10000)}%04d"
          originals += i
          base
        }
      words(i) = w
      docs(i) = Doc(id, w.mkString(" "), Langs(rng.nextInt(Langs.length)),
        s"src${srcZipf.sample(rng)}")
    }
    docs
  }

  /** Short Zipf word queries over the same vocabulary as `corpus(seed, …)`. */
  def queries(seed: Long, n: Int, querySeed: Long): Array[String] = {
    val vocab = vocabulary(new SplittableRandom(seed).split(), Vocab)
    val zipf = new Zipf(Vocab, ZipfS)
    val rng = new SplittableRandom(querySeed)
    Array.fill(n)(Array.fill(3 + rng.nextInt(10))(vocab(zipf.sample(rng))).mkString(" "))
  }

  /** Clustered unit-scale vectors: `Clusters` random centres, each vector a
    * centre plus Gaussian noise of `Spread` per component. Returns
    * (vectors, cluster label per vector). */
  def vectors(seed: Long, n: Int): (Array[Array[Float]], Array[Int]) = {
    val rng = new SplittableRandom(seed)
    val g = new java.util.Random(rng.nextLong())
    val centres = Array.fill(Clusters) {
      val c = Array.fill(Dim)(g.nextGaussian())
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm)
    }
    val labels = Array.fill(n)(rng.nextInt(Clusters))
    val noise = Spread / math.sqrt(Dim)
    val vs = labels.map { l =>
      Array.tabulate(Dim)(k => (centres(l)(k) + noise * g.nextGaussian()).toFloat)
    }
    (vs, labels)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val VectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Write docs as parquet split into `files` files (in id order). */
  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String, files: Int): Unit = {
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), DocSchema)
      .write.mode("overwrite").parquet(path)
  }

  def writeVectors(spark: SparkSession, vs: Array[Array[Float]], labels: Array[Int],
                   firstId: Long, path: String, files: Int): Unit = {
    val rows = vs.indices.map(i => Row(firstId + i, vs(i).toSeq, labels(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), VectorSchema)
      .write.mode("overwrite").parquet(path)
  }
}
