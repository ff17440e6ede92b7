package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.SparkSpec
import graft.core.Tables
import graft.functions.{NearestCentroid, TopCells}
import graft.functions.VectorFunctions.cosine_sim

/** The IVF cell-blocking callers of [[Ann]]'s quantizer steps —
  * [[Bitext]]'s miners and hub audits, [[Centrality.annEdges]] and
  * [[Centrality.annEdges2]] — pinned row for row at PARTIAL probe settings
  * (the oracle only runs them full-open, where every candidate set is all
  * pairs) against the hand-written quantizer bodies they were built from,
  * which this spec keeps as its reference models.
  */
class CellBlockingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // ---- reference models -------------------------------------------------

  private def c6(qv: String, tv: String) =
    round(cosine_sim(col(qv), col(tv)) * 1e6, 0).cast("bigint").as("c6")

  private def nearest(v: String, cents: Seq[Seq[Double]]) =
    Bridge.column(NearestCentroid(Bridge.expression(col(v).cast("array<double>")), cents))

  private def top(v: String, cents: Seq[Seq[Double]], n: Int) =
    Bridge.column(TopCells(Bridge.expression(col(v).cast("array<double>")), cents, n))

  private def lowest(df: DataFrame, id: String, v: String, n: Int): Seq[Seq[Double]] =
    df.orderBy(col(id)).limit(n).select(col(v).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq

  private def par = spark.sparkContext.defaultParallelism

  /** Flat candidates: src-seeded, src probes `nProbe` cells, tgt argmax. */
  private def refCandidates(x: DataFrame, y: DataFrame, nCells: Int, nProbe: Int): DataFrame = {
    val cents = lowest(x, "src_id", "src_vec", nCells)
    val probes = x.repartition(par, col("src_id"))
      .select(col("src_id"), col("src_vec").cast("array<double>").as("qv"),
        explode(top("src_vec", cents, math.min(nProbe, cents.length))).as("cell"))
    val cands = y.repartition(par, col("tgt_id"))
      .withColumn("cell", nearest("tgt_vec", cents))
      .select(col("tgt_id"), col("tgt_vec").cast("array<double>").as("tv"), col("cell"))
    probes.join(cands, Seq("cell")).select(col("src_id"), col("tgt_id"), c6("qv", "tv"))
  }

  /** Lowest-id fine table: `(fcell, ccell, fv)`, fcell a 1-based row_number. */
  private def refFineTab(df: DataFrame, id: String, v: String, coarse: Seq[Seq[Double]],
                         nFine: Int): DataFrame =
    df.orderBy(col(id)).limit(nFine)
      .select(col(id), col(v).cast("array<double>").as("fv"))
      .withColumn("ccell", nearest("fv", coarse))
      .withColumn("fcell", row_number().over(Window.orderBy(col(id))).cast("long"))
      .select(col("fcell"), col("ccell"), col("fv"))

  /** Src probes: top `wCoarse` coarse cells, then top `nProbe` fine cells. */
  private def refFineProbes(x: DataFrame, coarse: Seq[Seq[Double]], fineTab: DataFrame,
                            wCoarse: Int, nProbe: Int): DataFrame = {
    val wf = Window.partitionBy(col("src_id")).orderBy(desc("fs"), asc("fcell"))
    x.repartition(par, col("src_id"))
      .select(col("src_id"), col("src_vec").cast("array<double>").as("qv"),
        explode(top("src_vec", coarse, math.min(wCoarse, coarse.length))).as("ccell"))
      .join(fineTab, Seq("ccell"))
      .withColumn("fs", round(cosine_sim(col("qv"), col("fv")), 6))
      .withColumn("frnk", row_number().over(wf))
      .where(col("frnk") <= nProbe)
      .select(col("src_id"), col("qv"), col("fcell"))
  }

  /** Tgt fine assignment: coarse argmax, then max_by over the children. */
  private def refTgtCells2(y: DataFrame, coarse: Seq[Seq[Double]], fineTab: DataFrame): DataFrame =
    y.repartition(par, col("tgt_id"))
      .select(col("tgt_id"), col("tgt_vec").cast("array<double>").as("tv"))
      .withColumn("ccell", nearest("tv", coarse))
      .join(fineTab, Seq("ccell"))
      .select(col("tgt_id"), col("tv"), col("fcell"),
        round(cosine_sim(col("tv"), col("fv")), 6).as("fs"))
      .groupBy(col("tgt_id"))
      .agg(max_by(struct(col("tv"), col("fcell")),
        struct(col("fs"), (-col("fcell")).as("nf"))).as("m"))
      .select(col("tgt_id"), col("m.tv").as("tv"), col("m.fcell").as("fcell"))

  /** Two-level candidates with the quantizer seeded from `seedSide`. */
  private def refCandidates2(x: DataFrame, y: DataFrame, seed: DataFrame, seedId: String,
                             seedVec: String, nFine: Int, nCoarse: Int, wCoarse: Int,
                             nProbe: Int): DataFrame = {
    val coarse = lowest(seed, seedId, seedVec, nCoarse)
    val fineTab = refFineTab(seed, seedId, seedVec, coarse, nFine)
    refFineProbes(x, coarse, fineTab, wCoarse, nProbe)
      .join(refTgtCells2(y, coarse, fineTab), Seq("fcell"))
      .select(col("src_id"), col("tgt_id"), c6("qv", "tv"))
  }

  /** The margin / mutual-argmax tail of the miners. */
  private def refMine(pairs: DataFrame, k: Int, tau: Double): DataFrame = {
    val wf = Window.partitionBy(col("src_id")).orderBy(desc("c6"), asc("tgt_id"))
    val fwd = pairs.withColumn("rnk", row_number().over(wf)).where(col("rnk") <= k)
      .groupBy(col("src_id")).agg(sum(col("c6")).as("sx"), count(lit(1)).as("kx"))
    val wb = Window.partitionBy(col("tgt_id")).orderBy(desc("c6"), asc("src_id"))
    val bwd = pairs.withColumn("rnk", row_number().over(wb)).where(col("rnk") <= k)
      .groupBy(col("tgt_id")).agg(sum(col("c6")).as("sy"), count(lit(1)).as("ky"))
    val margins = pairs.join(fwd, Seq("src_id")).join(bwd, Seq("tgt_id"))
      .where(col("sx") * col("ky") + col("sy") * col("kx") > 0)
      .select(col("src_id"), col("tgt_id"),
        round(lit(2.0) * col("c6") * col("kx") * col("ky") /
          (col("sx") * col("ky") + col("sy") * col("kx")), 6).as("margin"))
    margins
      .withColumn("rs", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(desc("margin"), asc("tgt_id"))))
      .withColumn("rt", row_number().over(
        Window.partitionBy(col("tgt_id")).orderBy(desc("margin"), asc("src_id"))))
      .where(col("rs") === 1 && col("rt") === 1 && col("margin") >= tau)
      .select(col("src_id"), col("tgt_id"), col("margin"))
      .orderBy(col("src_id"))
  }

  /** The hub-count tail of the hubness audits. */
  private def refHubs(pairs: DataFrame, k: Int, topN: Int): DataFrame = {
    val wf = Window.partitionBy(col("src_id")).orderBy(desc("c6"), asc("tgt_id"))
    pairs.withColumn("rnk", row_number().over(wf)).where(col("rnk") <= k)
      .groupBy(col("tgt_id")).agg(count(lit(1)).as("hub_count"))
      .orderBy(desc("hub_count"), asc("tgt_id")).limit(topN)
      .withColumn("rnk",
        row_number().over(Window.orderBy(desc("hub_count"), asc("tgt_id"))).cast("bigint"))
      .select(col("rnk"), col("tgt_id"), col("hub_count"))
  }

  /** Flat kNN edges: corpus-seeded (`vec_id < nCells`), probe width
    * clamped to the seed count. */
  private def refAnnEdges(emb: DataFrame, k: Int, nCells: Int, nProbe: Int): DataFrame = {
    val cents = Ann.seedCentroids(emb, nCells)
    val e = emb.repartition(par, col("vec_id"))
    val probes = e.select(col("vec_id").as("src"),
      col("embedding").cast("array<double>").as("qv"),
      explode(top("embedding", cents, math.min(nProbe, cents.length))).as("cell"))
    val cands = e.withColumn("cell", nearest("embedding", cents))
      .select(col("vec_id").as("dst"), col("embedding").cast("array<double>").as("tv"),
        col("cell"))
    edgeTail(probes.join(cands, Seq("cell")), k)
  }

  /** Two-level kNN edges over [[Ann.fineCentroids]] / [[Ann.assignCells2]],
    * coarse probe width clamped to the coarse seed count. */
  private def refAnnEdges2(emb: DataFrame, k: Int, nFine: Int, nCoarse: Int,
                           wCoarse: Int, nProbe: Int): DataFrame = {
    val coarse = Ann.seedCentroids(emb, nCoarse)
    val e = emb.repartition(par, col("vec_id"))
    val fineTab = Ann.fineCentroids(e, coarse, nFine)
    val wf = Window.partitionBy(col("src")).orderBy(desc("fs"), asc("fcell"))
    val probes = e.select(col("vec_id").as("src"),
        col("embedding").cast("array<double>").as("qv"),
        explode(top("embedding", coarse, math.min(wCoarse, coarse.length))).as("ccell"))
      .join(fineTab, Seq("ccell"))
      .withColumn("fs", round(cosine_sim(col("qv"), col("fv")), 6))
      .withColumn("frnk", row_number().over(wf))
      .where(col("frnk") <= nProbe)
      .select(col("src"), col("qv"), col("fcell"))
    val cands = Ann.assignCells2(e, coarse, fineTab)
      .select(col("vec_id").as("dst"), col("embedding").cast("array<double>").as("tv"),
        col("fcell"))
    edgeTail(probes.join(cands, Seq("fcell")), k)
  }

  private def edgeTail(joined: DataFrame, k: Int): DataFrame =
    joined.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), round(cosine_sim(col("qv"), col("tv")), 6).as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("score"), asc("dst"))))
      .where(col("rnk") <= k)
      .select(col("src"), col("dst"))

  // ---- fixtures ---------------------------------------------------------

  private def emb = Tables.embeddings(spark, dir)

  private def src(p: org.apache.spark.sql.Column): DataFrame =
    emb.where(p).select(col("vec_id").as("src_id"), col("embedding").as("src_vec"))

  private def x = src(col("vec_id") % 2 === 0)
  private def y = Bitext.tgtSide(spark, dir)
  private def batch = src(col("vec_id") % 2 === 0 && Sampling.hashBucket(col("vec_id")) >= 50)
  /** Src ids neither dense nor starting at 0: lowest-id seeding differs from `vec_id < n`. */
  private def sparseX = src(col("vec_id") >= 101 && col("vec_id") % 3 === 2)

  /** Rows in order, every double as its bit pattern. */
  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case v => v
  })

  private def edges(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def same(got: DataFrame, want: DataFrame): Unit = {
    val w = rows(want)
    assert(w.nonEmpty, "reference is empty — the case pins nothing")
    assert(rows(got) == w)
  }

  private def failsWith(msg: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(msg), e.getMessage)
  }

  // ---- cases ------------------------------------------------------------

  test("minePairs and hubness: partial flat probe (nProbe < nCells)") {
    for (nProbe <- Seq(1, 3)) {
      same(Bitext.minePairs(x, y, k = 4, tau = 1.0, nCells = 8, nProbe = nProbe),
        refMine(refCandidates(x, y, 8, nProbe), 4, 1.0))
      same(Bitext.hubness(x, y, k = 4, nCells = 8, nProbe = nProbe, topN = 20),
        refHubs(refCandidates(x, y, 8, nProbe), 4, 20))
    }
  }

  test("minePairs2 and hubness2: partial coarse and fine probe") {
    same(Bitext.minePairs2(x, y, k = 4, tau = 1.0, nFine = 8, nCoarse = 3,
        wCoarse = 2, nProbe = 3),
      refMine(refCandidates2(x, y, x, "src_id", "src_vec", 8, 3, 2, 3), 4, 1.0))
    same(Bitext.hubness2(x, y, k = 4, nFine = 8, nCoarse = 3, wCoarse = 2,
        nProbe = 3, topN = 20),
      refHubs(refCandidates2(x, y, x, "src_id", "src_vec", 8, 3, 2, 3), 4, 20))
  }

  test("minePairsIncremental and minePairsIncremental2: partial probe against the tgt-seeded quantizer") {
    val b = batch
    val cents = lowest(y, "tgt_id", "tgt_vec", 8)
    val probes = b.repartition(par, col("src_id"))
      .select(col("src_id"), col("src_vec").cast("array<double>").as("qv"),
        explode(top("src_vec", cents, 2)).as("cell"))
    val tgtCells = y.repartition(par, col("tgt_id"))
      .withColumn("cell", nearest("tgt_vec", cents))
      .select(col("cell"), col("tgt_id"), col("tgt_vec").cast("array<double>").as("tv"))
    same(Bitext.minePairsIncremental(b, y, k = 4, tau = 1.0, nCells = 8, nProbe = 2),
      refMine(probes.join(tgtCells, Seq("cell"))
        .select(col("src_id"), col("tgt_id"), c6("qv", "tv")), 4, 1.0))
    same(Bitext.minePairsIncremental2(b, y, k = 4, tau = 1.0, nFine = 8, nCoarse = 3,
        wCoarse = 2, nProbe = 3),
      refMine(refCandidates2(b, y, y, "tgt_id", "tgt_vec", 8, 3, 2, 3), 4, 1.0))
  }

  test("annEdges and annEdges2: partial probe") {
    val e = emb
    val flat = edges(Centrality.annEdges(e, k = 5, nCells = 16, nProbe = 3))
    assert(flat.nonEmpty)
    assert(flat == edges(refAnnEdges(e, 5, 16, 3)))
    val two = edges(Centrality.annEdges2(e, k = 5, nFine = 16, nCoarse = 4,
      wCoarse = 2, nProbe = 3))
    assert(two.nonEmpty)
    assert(two == edges(refAnnEdges2(e, 5, 16, 4, 2, 3)))
  }

  test("a src side with non-dense ids seeds from its lowest ids") {
    val s = sparseX
    same(Bitext.minePairs(s, y, k = 3, tau = 1.0, nCells = 6, nProbe = 2),
      refMine(refCandidates(s, y, 6, 2), 3, 1.0))
    same(Bitext.minePairs2(s, y, k = 3, tau = 1.0, nFine = 6, nCoarse = 2,
        wCoarse = 1, nProbe = 2),
      refMine(refCandidates2(s, y, s, "src_id", "src_vec", 6, 2, 1, 2), 3, 1.0))
    same(Bitext.hubness2(s, y, k = 3, nFine = 6, nCoarse = 2, wCoarse = 1,
        nProbe = 2, topN = 10),
      refHubs(refCandidates2(s, y, s, "src_id", "src_vec", 6, 2, 1, 2), 3, 10))
  }

  test("a side shorter than the cell count: Bitext clamps its probe widths") {
    val short = src(col("vec_id") === 4 || col("vec_id") === 10)
    same(Bitext.minePairs(short, y, k = 2, tau = 0.0, nCells = 8, nProbe = 8),
      refMine(refCandidates(short, y, 8, 8), 2, 0.0))
    same(Bitext.minePairs2(short, y, k = 2, tau = 0.0, nFine = 8, nCoarse = 3,
        wCoarse = 3, nProbe = 8),
      refMine(refCandidates2(short, y, short, "src_id", "src_vec", 8, 3, 3, 8), 2, 0.0))
    val shortY = y.where(col("tgt_id") === 3 || col("tgt_id") === 7)
    val b = batch
    same(Bitext.minePairsIncremental2(b, shortY, k = 2, tau = 0.0, nFine = 8,
        nCoarse = 3, wCoarse = 3, nProbe = 8),
      refMine(refCandidates2(b, shortY, shortY, "tgt_id", "tgt_vec", 8, 3, 3, 8), 2, 0.0))
  }

  test("each caller's own error on an empty or too-short side") {
    val none = x.limit(0)
    failsWith("cannot seed probe centroids from an empty src side") {
      Bitext.minePairs(none, y) }
    failsWith("cannot seed probe centroids from an empty src side") {
      Bitext.hubness(none, y) }
    failsWith("cannot seed coarse centroids from an empty src side") {
      Bitext.minePairs2(none, y) }
    failsWith("cannot seed coarse centroids from an empty src side") {
      Bitext.hubness2(none, y) }
    failsWith("cannot seed centroids from an empty target side") {
      Bitext.minePairsIncremental(x, y.limit(0)) }
    failsWith("cannot seed centroids from an empty target side") {
      Bitext.minePairsIncremental2(x, y.limit(0)) }
    failsWith("need 1 <= nProbe <= nCells, got nProbe=9 nCells=8") {
      Bitext.minePairs(x, y, nCells = 8, nProbe = 9) }
    failsWith("need 1 <= wCoarse <= nCoarse, got wCoarse=4 nCoarse=3") {
      Bitext.minePairsIncremental2(x, y, nCoarse = 3, wCoarse = 4) }
    val e = emb
    failsWith("cannot seed probe centroids from an empty corpus") {
      Centrality.annEdges(e.limit(0)) }
    failsWith("cannot seed probe centroids from an empty corpus") {
      Centrality.annEdges2(e.limit(0)) }
    failsWith("nCoarse (5) must be <= nFine (4)") {
      Centrality.annEdges2(e, nFine = 4, nCoarse = 5) }
  }

  test("a corpus shorter than the probe width: annEdges and annEdges2 clamp it") {
    val tiny = emb.where(col("vec_id") < 2)
    val flat = edges(Centrality.annEdges(tiny, k = 1, nCells = 16, nProbe = 4))
    assert(flat.nonEmpty)
    assert(flat == edges(refAnnEdges(tiny, 1, 16, 4)))
    val two = edges(Centrality.annEdges2(tiny, k = 1, nFine = 16, nCoarse = 4,
      wCoarse = 3, nProbe = 4))
    assert(two.nonEmpty)
    assert(two == edges(refAnnEdges2(tiny, 1, 16, 4, 3, 4)))
  }
}
