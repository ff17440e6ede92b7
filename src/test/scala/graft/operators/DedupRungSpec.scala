package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The shared audit and escalation rungs of the dedup matrix at their
  * edges: every public key audit on an empty input, every audited `*Auto`
  * on an empty input, and the escalation rule at its exact boundary. */
class DedupRungSpec extends SparkSpec {

  private def emptyDocs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  private def emptyBlobs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Array[Byte])].toDF("doc_id", "blob")
  }

  private def emptyVecs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
  }

  test("every key audit returns one row on an empty input: NULL sizes, 0 keys") {
    import spark.implicits._
    val bucketCols = Seq("max_bucket", "mean_bucket", "est_candidates")
    val audits: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("overlap", Dedup.overlapKeyAudit(emptyDocs),
        Seq("n_positions", "n_shingles") ++ bucketCols),
      ("band", Dedup.bandKeyAudit(
        Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "key"), 6),
        Seq("n_docs", "n_keys") ++ bucketCols),
      ("minhash", Dedup.minhashKeyAudit(emptyDocs), Seq("n_docs", "n_keys") ++ bucketCols),
      ("ngram", Dedup.ngramKeyAudit(emptyDocs), Seq("n_docs", "n_keys") ++ bucketCols),
      ("simhash", Dedup.simhashKeyAudit(emptyVecs), Seq("n_docs", "n_keys") ++ bucketCols),
      ("phash", Dedup.phashKeyAudit(Multimodal.imagePHash(spark, emptyBlobs)),
        Seq("n_images", "n_hashes") ++ bucketCols),
      ("landmark", Dedup.landmarkKeyAudit(Multimodal.audioLandmarks(spark, emptyBlobs)),
        Seq("n_landmarks", "n_keys") ++ bucketCols),
      ("video", Dedup.videoKeyAudit(Multimodal.videoFrameHashes(spark, emptyBlobs)),
        Seq("n_frames", "n_keys") ++ bucketCols),
      ("embed", Dedup.embedKeyAudit(emptyVecs),
        Seq("n_vecs", "n_distinct", "max_group", "mean_group", "est_candidates")))
    audits.foreach { case (name, audit, cols) =>
      assert(audit.columns.toSeq == cols, name)
      val rows = audit.collect()
      assert(rows.length == 1, name)
      val r = rows.head
      assert(r.isNullAt(0), s"$name: n")
      assert(r.getLong(1) == 0L, s"$name: keys")
      assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4), s"$name: max/mean/est")
    }
  }

  test("every audited auto returns zero rows on an empty input") {
    val autos: Seq[(String, () => DataFrame)] = Seq(
      "minhashNearAuto" -> (() => Dedup.minhashNearAuto(emptyDocs)),
      "ngramNearAuto" -> (() => Dedup.ngramNearAuto(emptyDocs)),
      "verbatimOverlapAuto" -> (() => Dedup.verbatimOverlapAuto(emptyDocs)),
      "simhashNearAuto" -> (() => Dedup.simhashNearAuto(emptyVecs)),
      "imageNearAuto" -> (() => Dedup.imageNearAuto(spark, emptyBlobs)),
      "videoNearHammingAuto" -> (() => Dedup.videoNearHammingAuto(spark, emptyBlobs)),
      "videoDedupAuto" -> (() => Dedup.videoDedupAuto(spark, emptyBlobs)),
      "audioLandmarkNearAuto" -> (() => Dedup.audioLandmarkNearAuto(spark, emptyBlobs)),
      "audioDedupAuto" -> (() => Dedup.audioDedupAuto(spark, emptyBlobs)),
      "semanticDedupAuto" -> (() => Dedup.semanticDedupAuto(emptyVecs)))
    autos.foreach { case (name, run) =>
      assert(run().collect().isEmpty, name)
    }
  }

  test("saturated: strict > at the boundary, n clamped to 1, a NULL audit never escalates") {
    import spark.implicits._
    def audit(n: Option[Long], est: Option[Double]) =
      Seq((n, est)).toDF("n", "est_candidates")
    assert(!Dedup.saturated(audit(Some(4L), Some(16.0)), 4.0))
    assert(Dedup.saturated(audit(Some(4L), Some(16.0)), 3.99))
    assert(Dedup.saturated(audit(Some(0L), Some(2.0)), 1.5))
    assert(!Dedup.saturated(audit(None, None), 0.0))
  }

  test("escalation boundary: est_candidates == fanoutMax · n stays on the explicit arm") {
    import spark.implicits._
    // four byte-identical images: one phash bucket of 4, so n = 4 and
    // est_candidates = 16 — a fan-out of exactly 4 per image
    val docs = (1L to 4L).map(i => (i, "one and the same page".getBytes("UTF-8")))
      .toDF("doc_id", "blob")
    val audit = Dedup.phashKeyAudit(Multimodal.imagePHash(spark, docs)).head
    assert(audit.getLong(0) == 4L && audit.getDouble(4) == 16.0)
    def pairs(fanoutMax: Double) = Dedup.imageNearAuto(spark, docs, fanoutMax = fanoutMax)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val explicit = Dedup.imageNear(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(explicit.length == 6)
    // at the boundary the strict `>` keeps every member pair
    assert(pairs(4.0) == explicit)
    // just past it the replicas collapse to one representative: no pairs
    assert(pairs(3.99).isEmpty)
  }
}
