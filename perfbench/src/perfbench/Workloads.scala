package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum, typedLit}

import graft.core.{Embedders, GraftDatabase, IndexPolicy}
import graft.operators.{Ann, CatalogOps, Ingest, Similarity}
import graft.streaming.Streaming

/** A benchmark workload: generated inputs, a set-up step, and a pass — one
  * fixed unit of work made of calls into the engine's public entry points,
  * issued one after another by a single client (a closed loop). */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  /** Passes run before timing, so JIT and whole-stage codegen settle. */
  def warmPasses: Int
  /** Set-ups before the first pass; each is one `setup_s` sample. */
  def setupReps: Int = 3
  /** Fewest timed passes, whatever `--seconds` says. */
  def minTimedPasses: Int = 3
  /** Writes the seeded inputs; not timed. */
  def generate(): Unit
  /** One set-up; timed, repeated, and the median reported as `setup_s`. */
  def setup(rep: Int): Unit
  /** Untimed preparation of the next pass. */
  def beforePass(rec: Recorder, pass: Int): Unit = ()
  def pass(rec: Recorder): Unit
  /** Output checks, run after the timed window: (name, passed). */
  def checks(rec: Recorder): Seq[(String, Boolean)]
  /** The call whose median latency is `op_p50_ms`. */
  def primaryOp: String
  /** Items of work one pass completes, and their name. */
  def itemsPerPass: Double
  def itemName: String
  /** Bytes the workload's outputs occupy on disk over the generated input bytes. */
  def storedBytesPerInputByte: Double
  /** Workload-specific end-to-end figures: (name, value, unit). */
  def extraMetrics(rec: Recorder, wallS: Double): Seq[(String, Double, String)]
  /** Per-layer figures of the traced passes that only this workload can give. */
  def layerMetrics(rec: Recorder, passes: Int): Map[String, Double]
  /** Kernel throughput over this workload's own input, rows per second. */
  def kernels(rec: Recorder): Map[String, Double]

  protected def dir(name: String): String = work.resolve(name).toString
}

object Workload {
  val Names = Seq("serve_mixed", "index_search")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "serve_mixed" => new ServeMixed(spark, seed, work)
    case "index_search" => new IndexSearch(spark, seed, work)
  }

  /** (bytes, files) under `p`, ignoring checksum files. */
  def du(p: String): (Long, Int) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.endsWith(".crc")).toSeq
        (files.map(Files.size).sum, files.size)
      } finally s.close()
    }
  }

  /** Runs an AvailableNow streaming query to its end. */
  def awaitStream(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    try q.awaitTermination(120000L) finally q.stop()
    q.exception.foreach(e => throw e)
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** `f` over `xs` on the driver's cores, in order; the output checks are
    * brute force and would otherwise lengthen every run. */
  def par[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
  }

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Whether an engine top-k list `(id, score)` is a correct exact top-k
    * over `corpus`: the score sequence matches the brute-force one, every
    * returned id carries the score the engine reported, and ties are
    * broken by ascending id. Rounding is to 6 places, as the engine does. */
  def topkMatches(got: Seq[(String, Double)], query: Array[Double],
                  corpus: Iterable[(String, Array[Double])], k: Int): Boolean = {
    val scored = corpus.map { case (id, v) => (id, cosine(v, query)) }.toMap
    val best = scored.toSeq.map { case (id, s) => (round6(s), id) }
      .sortBy { case (s, id) => (-s, id) }.take(k)
    got.size == best.size &&
      got.map(_._2).zip(best.map(_._1)).forall { case (a, b) => math.abs(a - b) <= 2e-6 } &&
      got.forall { case (id, s) => scored.get(id).exists(x => math.abs(round6(x) - s) <= 2e-6) } &&
      got.sliding(2).forall {
        case Seq((ia, sa), (ib, sb)) => sa > sb || (sa == sb && ia < ib)
        case _ => true
      }
  }
}

import Workload._

/** The reference's own surface: a collection built by chunk → embed → bulk
  * add, then a seeded stream of text queries (embed, then exact top-k),
  * point lookups and appends. Every pass starts from a freshly built
  * collection, so each pass sees the same fragmentation history. */
final class ServeMixed(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  val Docs = 4000
  val AppendDocs = 250
  val ChunkSize = 256
  val EmbedderId = "local/hash-64"
  val OpsPerPass = 30
  val Appends = 2 // 1 op in 15
  val Lookups = 6
  val K = 10
  // passes keep getting faster through the fifth; timing starts after it
  val warmPasses = 5
  // every timed pass rebuilds the collection, which adds a set-up sample
  override val setupReps = 1

  private lazy val corpus = Gen.corpus(seed, Docs)
  private lazy val appendCorpora = (0 until Appends).map(a =>
    Gen.corpus(seed * 1000003L + a + 1, AppendDocs, 10000000L * (a + 1)))

  /** The op schedule of every pass: 'q' query, 'g' lookup, 'a' append. */
  private lazy val schedule: IndexedSeq[Char] = {
    val rng = new java.util.SplittableRandom(seed + 17)
    val s = Array.fill(OpsPerPass)('q')
    (0 until Appends).foreach(a => s((a * OpsPerPass) / Appends + OpsPerPass / (2 * Appends))= 'a')
    var placed = 0
    while (placed < Lookups) {
      val i = rng.nextInt(OpsPerPass)
      if (s(i) == 'q') { s(i) = 'g'; placed += 1 }
    }
    s.toIndexedSeq
  }
  private lazy val queryTexts =
    Gen.queries(seed, schedule.count(_ == 'q'), seed + 29)
  private lazy val lookupIds: IndexedSeq[String] = {
    val rng = new java.util.SplittableRandom(seed + 31)
    IndexedSeq.fill(Lookups)(s"${corpus(rng.nextInt(Docs)).id}-0")
  }

  private val base = dir("db")
  private lazy val db = GraftDatabase.make(spark, base)
  private var coll = ""
  private var builds = 0
  private var dirty = true

  // outputs of the last pass, checked after the timed window
  private val queryResults = mutable.ArrayBuffer.empty[(Int, Int, Seq[(String, Double)])]
  private val lookupResults = mutable.ArrayBuffer.empty[(String, String)]
  private val appendBytes = mutable.ArrayBuffer.empty[Double]
  private val appendJobs = mutable.ArrayBuffer.empty[Double]
  private val streamStages = mutable.ArrayBuffer.empty[Double]
  private val exportStats = mutable.ArrayBuffer.empty[(Double, Double)]
  private def exportDir = dir(s"export-$coll")

  def generate(): Unit = {
    Gen.writeDocs(spark, corpus.toSeq, dir("docs.parquet"), 8)
    appendCorpora.zipWithIndex.foreach { case (c, a) =>
      Gen.writeDocs(spark, c.toSeq, dir(s"append-$a.parquet"), 1)
    }
  }

  private def build(): Unit = {
    if (coll.nonEmpty) {
      db.deleteCollection(coll)
      deleteTree(exportDir)
      deleteTree(dir(s"ingest-ckpt-$coll"))
    }
    coll = s"c$builds"
    builds += 1
    db.addCollection(db.makeCollection(coll, EmbedderId))
    val chunks = Ingest.chunk(spark.read.parquet(dir("docs.parquet")), "doc_id", "text", ChunkSize)
    db.addRecords(coll, Ingest.makeRecords(spark, chunks, EmbedderId))
    dirty = false
  }

  def setup(rep: Int): Unit = build()

  override def beforePass(rec: Recorder, pass: Int): Unit = if (dirty) {
    val t0 = rec.nowMs
    build()
    rec.record("setup", rec.nowMs - t0)
  }

  def pass(rec: Recorder): Unit = {
    dirty = true
    queryResults.clear(); lookupResults.clear()
    var q = 0; var g = 0; var a = 0
    schedule.foreach {
      case 'q' =>
        val t0 = rec.nowMs
        val vec = rec.op("core", "query.embed")(
          Embedders.get(EmbedderId)(queryTexts(q).getBytes(UTF_8)))
        val rows = rec.frame("core", "query.scan")(db.queryByVector(coll, vec, K))(_.collect())
        rec.record("query", rec.nowMs - t0)
        queryResults += ((q, a, rows.map(r => (r.getString(0), r.getDouble(1))).toSeq))
        q += 1
      case 'g' =>
        val r = rec.op("core", "get_record")(db.getRecord(coll, lookupIds(g)))
        lookupResults += ((lookupIds(g), new String(r.blob, UTF_8)))
        g += 1
      case 'a' if a == Appends - 1 =>
        // the last append arrives through the streaming ingest sink
        val s0 = rec.stagesCompleted
        rec.op("streaming", "ingest") {
          val src = spark.readStream.schema(Gen.DocSchema).parquet(dir(s"append-$a.parquet"))
          Workload.awaitStream(Streaming.streamIngest(db, coll,
            Ingest.chunk(src, "doc_id", "text", ChunkSize), EmbedderId, dir(s"ingest-ckpt-$coll")))
        }
        streamStages += (rec.stagesCompleted - s0).toDouble
        a += 1
      case 'a' =>
        val before = du(db.getCollection(coll).path)._1
        val jobs0 = rec.jobsLaunched
        rec.op("core", "add_records") {
          val chunks = Ingest.chunk(spark.read.parquet(dir(s"append-$a.parquet")),
            "doc_id", "text", ChunkSize)
          db.addRecords(coll, Ingest.makeRecords(spark, chunks, EmbedderId))
        }
        appendJobs += (rec.jobsLaunched - jobs0).toDouble
        appendBytes += (du(db.getCollection(coll).path)._1 - before).toDouble
        a += 1
    }
    // the reference persists a database as JSON; here a collection exports
    rec.op("io", "export")(graft.io.CollectionIO.exportCollection(db, coll, exportDir, "json"))
    val (b, f) = du(exportDir)
    exportStats += ((b.toDouble, f.toDouble))
  }

  private def chunksOf(docs: Seq[Doc]): Seq[(String, String)] =
    docs.filter(_.text.nonEmpty).flatMap { d =>
      d.text.grouped(ChunkSize).zipWithIndex.map { case (c, i) => (s"${d.id}-$i", c) }
    }

  /** Records as the driver computes them, independently of the engine's
    * ingest path: chunk, then the collection's embedder. */
  private def driverRecords(docs: Seq[Doc]): Seq[(String, Array[Double])] = {
    val embed = Embedders.get(EmbedderId)
    par(chunksOf(docs).grouped(2048).toSeq)(_.map { case (id, c) => (id, embed(c.getBytes(UTF_8))) })
      .flatten
  }

  def checks(rec: Recorder): Seq[(String, Boolean)] = {
    val baseRecs = driverRecords(corpus.toSeq)
    val appended = appendCorpora.map(c => driverRecords(c.toSeq))
    val rng = new java.util.SplittableRandom(seed + 43)
    val sample = if (queryResults.isEmpty) Nil
      else Seq.fill(8)(queryResults(rng.nextInt(queryResults.size))).distinct
    val embed = Embedders.get(EmbedderId)
    val topk = sample.map { case (qi, appendsBefore, got) =>
      val corpusNow = baseRecs ++ appended.take(appendsBefore).flatten
      topkMatches(got, embed(queryTexts(qi).getBytes(UTF_8)), corpusNow, K)
    }
    val chunkText = chunksOf(corpus.toSeq).toMap
    val recordCount = db.records(coll).count()
    Seq(
      "serve.topk_matches_brute_force" -> (topk.nonEmpty && topk.forall(identity)),
      "serve.get_record_returns_chunk" -> lookupResults.forall { case (id, blob) =>
        chunkText.get(id).contains(blob) },
      "serve.record_count" -> (recordCount == baseRecs.size + appended.map(_.size).sum),
      "serve.export_holds_every_record" -> (spark.read.json(exportDir).count() == recordCount))
  }

  def primaryOp: String = "query"
  def itemsPerPass: Double = OpsPerPass
  def itemName: String = "op"

  private def inputBytes: Double =
    (corpus.iterator ++ appendCorpora.iterator.flatten).map(_.text.length.toLong).sum.toDouble

  def storedBytesPerInputByte: Double = du(db.getCollection(coll).path)._1 / inputBytes

  def extraMetrics(rec: Recorder, wallS: Double): Seq[(String, Double, String)] = {
    val queries = rec.sample("query")
    Seq(
      ("query_p50_ms", median(queries), "ms"),
      ("query_p95_ms", percentile(queries, 0.95), "ms"),
      ("query_samples", queries.size.toDouble, "count"),
      ("append_p50_ms", median(rec.sample("core.add_records")), "ms"),
      ("ops_per_s", OpsPerPass / wallS, "1/s"))
  }

  def layerMetrics(rec: Recorder, passes: Int): Map[String, Double] = {
    val (bytes, files) = du(db.getCollection(coll).path)
    val scanQueries = rec.queryRecords.filter(_.filesRead > 0)
    Map(
      "core.query.embed_ms" -> median(rec.sample("core.query.embed")),
      "core.query.scan_ms" -> median(rec.sample("core.query.scan")),
      "core.query.files_read" -> median(scanQueries.map(_.filesRead.toDouble)),
      "core.get_record.ms" -> median(rec.sample("core.get_record")),
      "core.add_records.ms" -> median(rec.sample("core.add_records")),
      "core.add_records.jobs" -> median(appendJobs.toSeq),
      "core.add_records.bytes_written" -> median(appendBytes.toSeq),
      "core.collection.files" -> files.toDouble,
      "core.collection.bytes" -> bytes.toDouble,
      "io.export.ms" -> median(rec.sample("io.export")),
      "io.export.bytes_written" -> median(exportStats.map(_._1).toSeq),
      "io.export.files" -> median(exportStats.map(_._2).toSeq),
      "streaming.batch_ms" -> median(rec.sample("streaming.batch")),
      "streaming.state_mb" -> du(dir(s"ingest-ckpt-$coll"))._1 / 1e6,
      "streaming.batch_stages" -> median(streamStages.toSeq))
  }

  def kernels(rec: Recorder): Map[String, Double] = {
    import spark.implicits._
    val q = Embedders.get(EmbedderId)(queryTexts(0).getBytes(UTF_8))
    val embed = Embedders.hashProjection(64)
    val recs = db.records(coll).select(col("embedding"), col("blob"))
    val cos = Kernels.over(recs, Kernels.Rows)(df => df.select(sum(
      graft.functions.VectorFunctions.cosine_sim(col("embedding"), typedLit(q)))).collect())
    val hash = Kernels.over(recs.select(col("blob")), Kernels.Rows / 8)(df =>
      df.as[Array[Byte]].map(b => embed(b)(0)).reduce(_ + _))
    // the text-gate kernels have no workload of their own; they are
    // measured over this workload's generated documents
    Map("functions.cosine_sim.rows_per_s" -> cos, "functions.hash_embed.rows_per_s" -> hash) ++
      Kernels.text(spark.read.parquet(dir("docs.parquet")))
  }
}

/** Bulk index build and search over clustered vectors: an IVF index
  * rebuilt on a changed source, the same index resolved again unchanged,
  * an exact batch top-k (similarity join) and a batch IVF probe with its
  * recall. */
final class IndexSearch(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  val Vectors = 6000
  /** The similarity join scores Vectors × JoinQueries pairs a pass, enough
    * that the cosine kernel and the window sort outweigh the call's fixed
    * Spark cost. */
  val JoinQueries = 256
  val RecallQueries = 64
  val K = 10
  val NCells = 16
  val NProbe = 4
  /** Stored vector whose IVF probe the unchanged-resolve call returns. */
  val ProbeQuery = 2L
  // its passes jitter more than serve's, so it times more of them
  val warmPasses = 3
  override val minTimedPasses = 5
  // a set-up is a fraction of a second on a cold JVM, so take more of them
  override val setupReps = 5
  private lazy val generated = Gen.vectors(seed, Vectors + JoinQueries)
  private lazy val vecs = generated._1.take(Vectors)
  private lazy val labels = generated._2.take(Vectors)
  private lazy val queryVecs = generated._1.drop(Vectors)
  private val IndexName = s"embeddings-ivf-c$NCells"

  private var vdir = ""
  private var renames = 0
  private var joinResult: Array[Row] = Array.empty
  private var recallRows: Array[Row] = Array.empty
  private var probeRows: Array[Row] = Array.empty
  private val built = mutable.ArrayBuffer.empty[Double]
  private val hits = mutable.ArrayBuffer.empty[Double]

  def generate(): Unit = {
    Gen.writeVectors(spark, vecs, labels, 0L, dir("vec/embeddings.parquet"), 8)
    import spark.implicits._
    queryVecs.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toDouble).toSeq) }.toSeq
      .toDF("query_id", "query_vec").coalesce(1).write.parquet(dir("queries.parquet"))
  }

  private def registry = CatalogOps.indexRegistry(spark, vdir)

  /** A fresh copy of the vectors, read back through the engine's table
    * loader. The index over it is built by the first pass. */
  def setup(rep: Int): Unit = {
    vdir = dir(s"vec-$rep")
    val src = Paths.get(dir("vec/embeddings.parquet"))
    val dst = Paths.get(vdir, "embeddings.parquet")
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
    require(graft.core.Tables.embeddings(spark, vdir).count() == Vectors)
  }

  /** Renaming one data file changes the source fingerprint, not the data,
    * so the next RebuildIfStale probe rebuilds the same index. */
  override def beforePass(rec: Recorder, pass: Int): Unit = {
    registry.vacuumIndexes()
    val d = Paths.get(vdir, "embeddings.parquet")
    val f = Files.list(d).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString).head
    renames += 1
    Files.move(f, d.resolve(s"r$renames-${f.getFileName}"))
  }

  private def version =
    if (registry.isIndexRegistered(IndexName)) registry.getIndex(IndexName).version else -1

  def pass(rec: Recorder): Unit = {
    val v0 = version
    rec.frame("operators", "ivf.build")(Ann.ivfTopkIndexed(spark, vdir, 1L, K, NCells, NProbe,
      IndexPolicy.RebuildIfStale))(_.collect())
    val v1 = version
    probeRows = rec.frame("core", "index.resolve")(Ann.ivfTopkIndexed(spark, vdir, ProbeQuery, K,
      NCells, NProbe, IndexPolicy.RebuildIfStale))(_.collect())
    built += (v1 - v0).toDouble
    hits += (if (version == v1) 1.0 else 0.0)
    joinResult = rec.frame("operators", "similarity_join")(Similarity.similarityJoin(
      graft.core.Tables.embeddings(spark, vdir), spark.read.parquet(dir("queries.parquet")), K))(
      _.collect())
    recallRows = rec.frame("operators", "ivf.probe")(Ann.ivfRecall(spark, vdir, RecallQueries, K,
      NCells, NProbe))(_.collect())
  }

  def recall: Double =
    if (recallRows.isEmpty) 0.0 else recallRows.map(_.getDouble(2)).sum / recallRows.length

  private lazy val stored: Array[Array[Double]] = vecs.map(_.map(_.toDouble))

  /** The engine's IVF contract, computed on the driver: the centroids are
    * the first `NCells` stored vectors; a vector's cell is its 1-based
    * argmax-cosine centroid, the first on ties; a query probes the `NProbe`
    * cells of highest 6-place cosine, the lowest cell on ties. */
  private lazy val cells: Array[Int] = stored.map { v =>
    (0 until NCells).foldLeft((0, Double.NegativeInfinity)) { case ((best, bestS), c) =>
      val s = cosine(v, stored(c))
      if (s > bestS) (c, s) else (best, bestS)
    }._1 + 1
  }
  private def probed(q: Array[Double]): Set[Int] =
    (0 until NCells).map(c => (round6(cosine(q, stored(c))), c + 1))
      .sortBy { case (s, c) => (-s, c) }.take(NProbe).map(_._2).toSet

  /** Exact top-k ids among `ids`, ordered as the engine orders: 6-place
    * score descending, then id ascending. */
  private def topk(q: Array[Double], ids: Seq[Int]): Seq[Int] =
    ids.map(i => (round6(cosine(stored(i), q)), i)).sortBy { case (s, i) => (-s, i) }
      .take(K).map(_._2)

  def checks(rec: Recorder): Seq[(String, Boolean)] = {
    val corpus = vecs.indices.map(i => (f"$i%09d", stored(i)))
    val byQuery = joinResult.groupBy(_.getLong(0))
    val join = byQuery.size == JoinQueries && par(queryVecs.indices) { qi =>
      val got = byQuery.getOrElse(qi.toLong, Array.empty[Row]).sortBy(_.getLong(1))
        .map(r => (f"${r.getLong(2)}%09d", r.getDouble(4))).toSeq
      topkMatches(got, queryVecs(qi).map(_.toDouble), corpus, K)
    }.forall(identity)
    val labelsOk = joinResult.forall(r => labels(r.getLong(2).toInt) == r.getInt(3))
    val pq = stored(ProbeQuery.toInt)
    val pc = probed(pq)
    val probe = topkMatches(probeRows.map(r => (f"${r.getLong(0)}%09d", r.getDouble(2))).toSeq, pq,
      corpus.filter { case (id, _) => pc(cells(id.toInt)) }, K)
    // recall queries are the first RecallQueries stored vectors
    val all = stored.indices
    val recallHits = par(0 until RecallQueries) { q =>
      val qv = stored(q)
      val pcq = probed(qv)
      topk(qv, all).intersect(topk(qv, all.filter(i => pcq(cells(i))))).size.toLong
    }
    Seq(
      "index.similarity_join_matches_brute_force" -> (join && labelsOk),
      "index.ivf_probe_matches_driver" -> probe,
      "index.ivf_recall_matches_driver" ->
        (recallRows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
          recallHits.zipWithIndex.map { case (h, q) => (q.toLong, h) }),
      "index.rebuilt_then_hit" -> (built.forall(_ == 1.0) && hits.forall(_ == 1.0)))
  }

  def primaryOp: String = "operators.similarity_join"
  def itemsPerPass: Double = Vectors.toDouble * JoinQueries
  def itemName: String = "pair"

  def storedBytesPerInputByte: Double =
    du(registry.getIndex(IndexName).path)._1.toDouble / du(dir("vec/embeddings.parquet"))._1

  def extraMetrics(rec: Recorder, wallS: Double): Seq[(String, Double, String)] = Seq(
    ("pairs_per_s", itemsPerPass / (median(rec.sample("operators.similarity_join")) / 1000), "1/s"),
    ("ivf_recall_at_10", recall, "ratio"))

  def layerMetrics(rec: Recorder, passes: Int): Map[String, Double] = Map(
    "core.index.resolve_ms" -> median(rec.sample("core.index.resolve")),
    "core.index.built" -> built.sum / math.max(1, built.size),
    "core.index.hit" -> hits.sum / math.max(1, hits.size),
    "operators.similarity_join.ms" -> median(rec.sample("operators.similarity_join")),
    "operators.ivf.build_ms" -> median(rec.sample("operators.ivf.build")),
    "operators.ivf.probe_ms" -> median(rec.sample("operators.ivf.probe")))

  def kernels(rec: Recorder): Map[String, Double] = {
    val q = queryVecs(0).map(_.toDouble)
    Map("functions.cosine_sim.rows_per_s" -> Kernels.over(
      graft.core.Tables.embeddings(spark, vdir), Kernels.Rows)(df => df.select(sum(
        graft.functions.VectorFunctions.cosine_sim(col("embedding"), typedLit(q)))).collect()))
  }
}

/** Kernel throughput probes: the expression is projected over the
  * workload's input, replicated to about `Rows` rows and cached first so
  * that per-job cost does not swamp the kernel, and the fastest of three
  * runs is kept. */
object Kernels {
  val Rows = 200000L

  def over(input: DataFrame, rows: Long)(run: DataFrame => Any): Double = {
    val n0 = input.count()
    val df = input.crossJoin(input.sparkSession.range(math.max(1L, rows / math.max(1L, n0))))
      .drop("id").cache()
    val n = df.count().toDouble
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      run(df)
      (System.nanoTime() - t0) / 1e9
    }
    df.unpersist(blocking = true)
    n / times.min
  }

  /** The fused text-gate expressions, reached through `sql.graft.Bridge`,
    * over the `text` column of `docs`. */
  def text(docs: DataFrame): Map[String, Double] = {
    import org.apache.spark.sql.graft.Bridge
    val d = docs.select(col("text"))
    val grams = over(d, Rows)(df => df.select(sum(Bridge.column(
      graft.functions.WordGramStatsText(Bridge.expression(col("text")), 2)).getField("n_distinct")))
      .collect())
    val hits = over(d, Rows)(df => df.select(sum(Bridge.column(
      graft.functions.TokenListHits(Bridge.expression(col("text")),
        Seq(Seq("the", "a", "of"), Seq("el", "la", "de")))).getItem(1))).collect())
    Map("functions.word_gram_stats.rows_per_s" -> grams,
      "functions.token_list_hits.rows_per_s" -> hits)
  }
}
