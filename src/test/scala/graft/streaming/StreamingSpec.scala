package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.GraftDatabase

/** Streaming surface: windowed aggregation with watermark over a
  * MemoryStream, and continuous collection ingest via foreachBatch reusing
  * the batch pipeline.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  /** Commit-crash image: deletes the checkpoint's commit marker for batch
    * `n` (its offsets entry survives, so a restart replays batch `n`) and
    * returns the marker's path. The local FS writes the marker and its
    * checksum sidecar atomically (rename) — a crash loses both, so the
    * faithful image removes the sidecar too (a stale .crc would fail the
    * re-write and masquerade as a concurrent-query error). */
  private def dropCommit(ckpt: String, n: Int): java.nio.file.Path = {
    val commit = java.nio.file.Paths.get(ckpt, "commits", n.toString)
    assert(Files.exists(commit), s"expected checkpoint commit marker commits/$n")
    Files.delete(commit)
    Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", s".$n.crc"))
    commit
  }

  test("narrow pipeline operators run unchanged over a stream (PII scan)") {
    // Pii.scan is pure narrow codegen expressions, so the SAME operator
    // runs per micro-batch with no streaming-specific code — the
    // batch/stream unification contract the Streaming scaladoc promises.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")

    val q = graft.operators.Pii.scan(docs)
      .writeStream.format("memory").queryName("pii_stream").outputMode("append").start()
    try {
      mem.addData((1L, "mail a@b.co now"), (2L, "clean text"))
      q.processAllAvailable()
      mem.addData((3L, "call +1-555-0000"))
      q.processAllAvailable()
      val rows = spark.table("pii_stream").orderBy("doc_id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(rows.map(_.getBoolean(4)).toSeq == Seq(true, false, true))
    } finally q.stop()
  }

  test("eventCounts over a stream: windowed counts with watermark state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")

    def t(day: Int, hour: Int) = Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    mem.addData(
      (t(1, 1), 1L, "click", 1.0), (t(1, 2), 2L, "click", 2.0),
      (t(1, 3), 1L, "view", 3.0), (t(2, 1), 3L, "click", 4.0))

    val q = Streaming.eventCounts(events, "1 day")
      .writeStream.format("memory").queryName("ec_test").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ec_test")
        .orderBy("window_start", "event_type").collect()
      assert(rows.length == 3) // (d1 click), (d1 view), (d2 click)
      val d1click = rows(0)
      assert(d1click.getString(1) == "click")
      assert(d1click.getLong(2) == 2)
      assert(d1click.getDouble(3) == 3.0)
    } finally q.stop()
  }

  test("sessionize: gap-based sessions close via event-time timeout state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    def t(min: Int) = new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)

    // user 1: two bursts separated by > 30 min (two sessions);
    // user 2: one burst
    mem.addData((1L, t(0)), (1L, t(5)), (2L, t(1)), (1L, t(60)), (1L, t(65)))
    val q = Streaming.sessionize(mem.toDS(), gapMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past all timeouts so every session closes
      mem.addData((99L, t(600)))
      q.processAllAvailable()
      mem.addData((99L, t(1200)))
      q.processAllAvailable()
      val rows = spark.table("sess_test")
        .orderBy("user_id", "start").collect()
      val u1 = rows.filter(_.getLong(0) == 1L)
      assert(u1.length == 2)
      assert(u1(0).getInt(1) == 2 && u1(0).getTimestamp(2) == t(0) && u1(0).getTimestamp(3) == t(5))
      assert(u1(1).getInt(1) == 2 && u1(1).getTimestamp(2) == t(60))
      val u2 = rows.filter(_.getLong(0) == 2L)
      assert(u2.length == 1 && u2(0).getInt(1) == 1)
    } finally q.stop()
  }

  test("dedupStream: duplicate fingerprints dropped within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    def t(min: Int) = new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)

    // doc 2 repeats doc 1's text inside the horizon → dropped;
    // doc 3 is distinct → kept
    mem.addData(
      (t(0), 1L, "same text"), (t(1), 2L, "same text"), (t(2), 3L, "other text"))
    val q = Streaming.dedupStream(mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("dds_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("dds_test").orderBy("doc_id").collect()
      assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 3L))
      // admitted fingerprints are exactly the batch Dedup.exact keepers
      val batch = graft.operators.Dedup.exact(
        spark.createDataFrame(Seq((1L, "same text"), (2L, "same text"), (3L, "other text")))
          .toDF("doc_id", "text"))
        .where(col("keep")).collect().map(_.getLong(0)).toSet
      assert(rows.map(_.getLong(1)).toSet == batch)
    } finally q.stop()
  }

  test("attributeClicks: stream-stream interval join pairs purchases with in-window clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp, Double)]
    def t(hour: Int) = new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + hour * 3600000L)

    // user 1: clicks at h0 and h3, purchase at h4 with a 24h window → BOTH
    // clicks attributed; user 2's click is AFTER its purchase → no match
    clicks.addData((10L, 1L, t(0)), (11L, 1L, t(3)), (12L, 2L, t(9)))
    purchases.addData((20L, 1L, t(4), 5.0), (21L, 2L, t(8), 7.0))

    val q = Streaming.attributeClicks(
        clicks.toDF().toDF("event_id", "user_id", "ts"),
        purchases.toDF().toDF("event_id", "user_id", "ts", "value"),
        attributionHours = 24, watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("attr_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      // push both watermarks forward so all joinable state resolves; the
      // advancer rows sit > 24h apart so they cannot attribute each other
      clicks.addData((98L, 9L, t(200)))
      purchases.addData((99L, 9L, t(300), 0.0))
      q.processAllAvailable()
      val rows = spark.table("attr_test").orderBy("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(5)))
      assert(rows.toSeq == Seq((1L, 20L, 10L, 5.0), (1L, 20L, 11L, 5.0)))
    } finally q.stop()

    // batch/stream unification: the same operator over batch DataFrames
    // (no watermark) computes the same pairs
    import spark.implicits._
    val bc = Seq((10L, 1L, t(0)), (11L, 1L, t(3)), (12L, 2L, t(9)))
      .toDF("event_id", "user_id", "ts")
    val bp = Seq((20L, 1L, t(4), 5.0), (21L, 2L, t(8), 7.0))
      .toDF("event_id", "user_id", "ts", "value")
    val batch = Streaming.attributeClicks(bc, bp)
      .orderBy("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(5)))
    assert(batch.toSeq == Seq((1L, 20L, 10L, 5.0), (1L, 20L, 11L, 5.0)))
  }

  test("streamSimilarity: streamed queries scored against the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // query vectors copied from stored rows → rank 1 must be the row itself
    val stored = corpus.where(col("vec_id").isin(3L, 7L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(stored.toSeq: _*)
    val results = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = Streaming.streamSimilarity(
      mem.toDF().toDF("query_id", "query_vec"), corpus, k = 5,
      Files.createTempDirectory("graft-simq-").toString) { topk =>
      results ++= topk.collect()
    }
    try q.awaitTermination(60000) finally q.stop()

    val byQuery = results.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(3L, 7L))
    byQuery.foreach { case (qid, rows) =>
      assert(rows.length == 5)
      val top = rows.minBy(_.getLong(1)) // rnk 1
      assert(top.getLong(2) == qid, s"rank-1 for $qid is ${top.getLong(2)}")
      assert(top.getDouble(4) == 1.0)
    }
  }

  test("streamIngestDeduped: cross-batch and in-batch text dups are dropped, fresh admitted") {
    implicit val sqlCtx = spark.sqlContext
    val db = GraftDatabase.make(spark, Files.createTempDirectory("graft-sdd-").toString)
    db.addCollection(db.makeCollection("live", "local/hash-8"))
    val ckpt = Files.createTempDirectory("graft-sdd-ckpt-").toString

    val mem = MemoryStream[(String, String)]
    mem.addData(("a", "first text"), ("b", "second text"))
    val q1 = Streaming.streamIngestDeduped(db, "live", mem.toDF().toDF("id", "chunk"),
      "local/hash-8", ckpt)
    try q1.awaitTermination(60000) finally q1.stop()
    assert(db.records("live").select("id").collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "b"))

    // second run over the same checkpoint: c replays stored text (drop),
    // d is fresh (keep), e repeats d's text within the batch (drop),
    // a re-delivers a STORED ID with changed text (drop — id idempotence),
    // f arrives twice in one batch with identical rows (single admit)
    mem.addData(("c", "first text"), ("d", "new text"), ("e", "new text"),
      ("a", "revised text"), ("f", "f text"), ("f", "f text"))
    val q2 = Streaming.streamIngestDeduped(db, "live", mem.toDF().toDF("id", "chunk"),
      "local/hash-8", ckpt)
    try q2.awaitTermination(60000) finally q2.stop()

    val ids = db.records("live").select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("a", "b", "d", "f"), s"got $ids")
    // the admitted record went through the SAME embed pipeline
    val expected = graft.core.Embedders.hashProjection(8)("new text".getBytes("UTF-8"))
    val stored = db.records("live")
      .where(col("id") === "d").select("embedding").head().getSeq[Double](0)
    assert(stored == expected.toSeq)
  }

  test("streamShardExport: shards continue across batches; batch-1 replay after a commit-marker crash changes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-shardx-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-shardx-ckpt-").toString
    val docs = (0L until 40L).map(i => (i, ("w " * ((i % 7).toInt + 1)).trim))

    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(60000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.take(20): _*)
    runToCompletion(Streaming.streamShardExport(
      mem.toDF().toDF("doc_id", "text"), path, ckpt, tokensPerShard = 9L))
    mem.addData(docs.drop(20): _*)
    runToCompletion(Streaming.streamShardExport(
      mem.toDF().toDF("doc_id", "text"), path, ckpt, tokensPerShard = 9L))

    def exported(): Map[Long, Long] = Streaming.readShardExport(spark, path).get
      .select(col("doc_id"), col("shard")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    // streamed shards ≡ the one-shot batch export over the same corpus
    // (ids arrive in doc_id order, so the running totals line up)
    import spark.implicits._
    val expect = graft.operators.Sampling
      .tokenShards(docs.toDF("doc_id", "text"), 9L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exported() == expect)
    assert(expect.values.max > 0, "test corpus must span multiple shards")

    // crash image: batch 1's files + state are durable, checkpoint commit
    // marker is not — the restart replays batch 1; the strict-predecessor
    // state read + per-batch overwrite must reproduce identical files
    dropCommit(ckpt, 1)
    runToCompletion(Streaming.streamShardExport(
      mem.toDF().toDF("doc_id", "text"), path, ckpt, tokensPerShard = 9L))
    assert(exported() == expect)
    // no duplicate rows from the replay either
    assert(Streaming.readShardExport(spark, path).get.count() == 40L)
  }

  test("streamCurate: id-ordered batched stream ≡ Curate.pipeline(approxNear); commit-crash replay changes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-scurate-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-scurate-ckpt-").toString
    val corpusDF = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val corpus = corpusDF.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    // the fixed benchmark suite = the corpus's own bench slice, which is
    // exactly what Curate.pipeline decontaminates against
    val evalDocs = corpusDF
      .where(graft.operators.Sampling.hashBucket(col("doc_id")) >= 90)

    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val mem = MemoryStream[(Long, String, String, String)]
    def run(): Unit = runToCompletion(Streaming.streamCurate(
      mem.toDF().toDF("doc_id", "text", "lang", "source"), evalDocs, path, ckpt))
    // three id-ordered batches — the precondition under which the gate's
    // first-arrival-wins equals the batch frame's lowest-id-wins
    val chunks = corpus.grouped((corpus.length + 2) / 3).toSeq
    chunks.foreach { c => mem.addData(c: _*); run() }

    def streamed(): Seq[Seq[Any]] = Streaming.readCurate(spark, path).get
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    val batchFrame = graft.operators.Curate.pipeline(corpusDF, approxNear = true)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(streamed() == batchFrame)
    // sanity: the corpus actually exercises every arm
    val kept = batchFrame.count(_(7) == true)
    assert(kept > 0 && kept < corpus.length)
    assert(batchFrame.exists(r => r(8) == "train" && r(9) != null))

    // crash image: batch 1's decision files + signature/fp/token state are
    // durable, the checkpoint commit marker is not — the restart replays
    // batch 1; strict-predecessor state reads + per-batch overwrites must
    // reproduce byte-identical decisions (no self-match, no double count)
    dropCommit(ckpt, 1)
    run()
    assert(streamed() == batchFrame)
  }

  test("streamCurate runDecontam: the streamed run-rule arm ≡ Curate.pipeline(runDecontam = true) row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-scurr-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-scurr-ckpt-").toString
    val corpusDF = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val corpus = corpusDF.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val evalDocs = corpusDF
      .where(graft.operators.Sampling.hashBucket(col("doc_id")) >= 90)
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val mem = MemoryStream[(Long, String, String, String)]
    corpus.grouped((corpus.length + 2) / 3).foreach { c =>
      mem.addData(c: _*)
      runToCompletion(Streaming.streamCurate(
        mem.toDF().toDF("doc_id", "text", "lang", "source"), evalDocs, path, ckpt,
        runDecontam = true))
    }
    val streamed = Streaming.readCurate(spark, path).get
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    val batchFrame = graft.operators.Curate
      .pipeline(corpusDF, approxNear = true, runDecontam = true)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(streamed == batchFrame)

    // the INDEXED run arm (r17): per micro-batch the rule probes the
    // catalog-pinned eval posting table instead of re-shingling evalDocs —
    // decisions byte-identical to the inline stream and the batch frame
    // (the index only changes where the eval postings come from)
    val pathIdx = Files.createTempDirectory("graft-scurri-").toString + "/out"
    val ckptIdx = Files.createTempDirectory("graft-scurri-ckpt-").toString
    val memIdx = MemoryStream[(Long, String, String, String)]
    corpus.grouped((corpus.length + 2) / 3).foreach { c =>
      memIdx.addData(c: _*)
      runToCompletion(Streaming.streamCurate(
        memIdx.toDF().toDF("doc_id", "text", "lang", "source"), evalDocs,
        pathIdx, ckptIdx, runDecontam = true,
        evalIndexDir = Some("/root/testdata/sf0.001")))
    }
    val streamedIdx = Streaming.readCurate(spark, pathIdx).get
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(streamedIdx == batchFrame)
  }

  test("streamCurate sourceGate: single batch ≡ the composed batch frame; multi-batch carries the declared first-evidence semantics") {
    implicit val sqlCtx = spark.sqlContext
    val corpusDF = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val evalDocs = corpusDF
      .where(graft.operators.Sampling.hashBucket(col("doc_id")) >= 90)
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    // (1) ONE batch: running evidence = full corpus, so the streamed
    // composed frame equals Curate.pipeline(sourceGate = true) row-for-row
    val path1 = Files.createTempDirectory("graft-scsrc-").toString + "/out"
    val ckpt1 = Files.createTempDirectory("graft-scsrc-ckpt-").toString
    val corpus = corpusDF.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val mem1 = MemoryStream[(Long, String, String, String)]
    mem1.addData(corpus: _*)
    runToCompletion(Streaming.streamCurate(
      mem1.toDF().toDF("doc_id", "text", "lang", "source"), evalDocs,
      path1, ckpt1, sourceGate = true, minAvgQuality = 0.29))
    val streamed = Streaming.readCurate(spark, path1).get
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    val batchFrame = graft.operators.Curate
      .pipeline(corpusDF, approxNear = true, sourceGate = true, minAvgQuality = 0.29)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(streamed == batchFrame)

    // (2) first-evidence semantics, pinned: 4 junk srcB docs arrive first
    // (below the 5-doc evidence floor → source_ok) and the 5th arrives in
    // batch 2 (running evidence crosses the floor → blocked) — while the
    // full-corpus batch frame blocks ALL five. The early admissions ARE
    // the declared divergence, the media gates' ordered-arrival caveat in
    // host form.
    import spark.implicits._
    val good = (1 to 120).map(i => s"the w${i}a of w${i}b and w${i}c").mkString(" ")
    val b1 = (1L to 2L).map(i => (i, good, "en", "srcA")) ++
      (11L to 14L).map(i => (i, "x,,,.!!??;;::", "en", "srcB"))
    val b2 = Seq((15L, "x,,,.!!??;;::", "en", "srcB")) ++
      (3L to 4L).map(i => (i, good, "en", "srcA"))
    val path2 = Files.createTempDirectory("graft-scsrc2-").toString + "/out"
    val ckpt2 = Files.createTempDirectory("graft-scsrc2-ckpt-").toString
    val mem2 = MemoryStream[(Long, String, String, String)]
    val dev = (b1 ++ b2).toDF("doc_id", "text", "lang", "source")
    def srcOkOf(rows: Seq[Vector[Any]]) =
      rows.map(r => r.head.asInstanceOf[Long] -> r(7).asInstanceOf[Boolean]).toMap
    mem2.addData(b1: _*)
    runToCompletion(Streaming.streamCurate(
      mem2.toDF().toDF("doc_id", "text", "lang", "source"),
      dev.where(col("doc_id") < 0), path2, ckpt2, sourceGate = true))
    mem2.addData(b2: _*)
    runToCompletion(Streaming.streamCurate(
      mem2.toDF().toDF("doc_id", "text", "lang", "source"),
      dev.where(col("doc_id") < 0), path2, ckpt2, sourceGate = true))
    val sOk = srcOkOf(Streaming.readCurate(spark, path2).get
      .collect().map(_.toSeq.toVector).toSeq)
    assert((11L to 14L).forall(sOk(_)), "early srcB docs admitted on thin evidence")
    assert(!sOk(15L), "the fifth doc crosses the floor: srcB blocked from here on")
    val bOk = srcOkOf(graft.operators.Curate
      .pipeline(dev, sourceGate = true)
      .collect().map(_.toSeq.toVector).toSeq)
    assert((11L to 15L).forall(!bOk(_)), "the batch frame blocks all five")
  }

  test("streamCurateMultimodal: id-ordered docs+blobs stream ≡ Curate.pipelineMultimodal row-for-row; commit-crash replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-scmm-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-scmm-ckpt-").toString
    val corpusDF = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // the curate_multimodal pair device: docs 2k/2k+1 share a 512-byte
    // blob in the same modality ((doc_id div 2) % 3 → image/audio/video),
    // so every complete pair's odd member is a media duplicate — offenders
    // in all three families; doc_id % 97 == 0 rows get NO blob (the
    // vacuously-clean arm)
    val wavH = lit(graft.operators.Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL))
    val mp4H = lit(graft.operators.Multimodal.mp4VideoFramesHeader())
    val payload = expr("repeat(md5(cast(doc_id div 2 as string)), 16)").cast("binary")
    val m = expr("(doc_id div 2) % 3")
    val blobsDF = corpusDF.where(expr("doc_id % 97 != 0"))
      .select(col("doc_id"),
        when(m === 0, payload)
          .when(m === 1, concat(wavH, payload))
          .otherwise(concat(mp4H, payload)).as("blob"))
    val evalDocs = corpusDF
      .where(graft.operators.Sampling.hashBucket(col("doc_id")) >= 90)
    val rows = corpusDF.join(blobsDF, Seq("doc_id"), "left")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getAs[Array[Byte]](4)))
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val mem = MemoryStream[(Long, String, String, String, Array[Byte])]
    def run(): Unit = runToCompletion(Streaming.streamCurateMultimodal(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "blob"),
      evalDocs, path, ckpt))
    val chunks = rows.grouped((rows.length + 2) / 3).toSeq
    chunks.foreach { c => mem.addData(c: _*); run() }
    def streamed(): Seq[Seq[Any]] = Streaming.readCurate(spark, path).get
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    val batchFrame = graft.operators.Curate.pipelineMultimodal(
        spark, corpusDF, blobsDF, approxNear = true)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(streamed() == batchFrame)
    // sanity: the device exercises the media gate (offenders exist), the
    // vacuous-clean arm, and shard numbering over the COMPOSED kept set
    val mediaIdx = 7 // doc_id, 6 text gates, media_ok, kept, split, shard
    assert(batchFrame.exists(_(mediaIdx) == false), "no media offender in the device")
    assert(batchFrame.count(_(8) == true) > 0)
    assert(batchFrame.exists(r => r(9) == "train" && r(10) != null))
    // commit-crash replay: batch 1's decision dir + text state + all three
    // family media states are durable, the commit marker is not — the
    // replay must reproduce byte-identical decisions (strict-below reads
    // keep a replayed batch from self-matching in ANY family's state)
    dropCommit(ckpt, 1)
    run()
    assert(streamed() == batchFrame)
  }

  test("streamCurateMultimodal crossModal: streamed laundering arm ≡ the batch frame; a corpus still refuses a later video") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-scmx-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-scmx-ckpt-").toString
    val corpusDF = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // the pair device, with a LAUNDERING twist: image docs in classes
    // c ≡ 0 (mod 5·3) swap their blob for the 32-byte md5 block that
    // every frame of video class c+14 repeats (14 ≡ 2 mod 3, so the
    // target IS a video class, at HIGHER ids — the still precedes the
    // videos it catches, the ordered-arrival direction the contract
    // names)
    val wavH = lit(graft.operators.Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL))
    val mp4H = lit(graft.operators.Multimodal.mp4VideoFramesHeader())
    val payload = expr("repeat(md5(cast(doc_id div 2 as string)), 16)").cast("binary")
    val m = expr("(doc_id div 2) % 3")
    val still = expr("cast(md5(cast((doc_id div 2) + 14 as string)) as binary)")
    val blobsDF = corpusDF.where(expr("doc_id % 97 != 0"))
      .select(col("doc_id"),
        when(m === 0 && expr("(doc_id div 2) % 15 = 0"), still)
          .when(m === 0, payload)
          .when(m === 1, concat(wavH, payload))
          .otherwise(concat(mp4H, payload)).as("blob"))
    val evalDocs = corpusDF
      .where(graft.operators.Sampling.hashBucket(col("doc_id")) >= 90)
    val rows = corpusDF.join(blobsDF, Seq("doc_id"), "left")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getAs[Array[Byte]](4)))
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val mem = MemoryStream[(Long, String, String, String, Array[Byte])]
    def run(): Unit = runToCompletion(Streaming.streamCurateMultimodal(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "blob"),
      evalDocs, path, ckpt, crossModal = true))
    val chunks = rows.grouped((rows.length + 2) / 3).toSeq
    chunks.foreach { c => mem.addData(c: _*); run() }
    val streamed = Streaming.readCurate(spark, path).get
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    val batchFrame = graft.operators.Curate.pipelineMultimodal(
        spark, corpusDF, blobsDF, approxNear = true, crossModal = true)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(streamed == batchFrame)
    // liveness: the arm DECIDES something — videos media-ok without the
    // arm lose it with the arm, and the still itself stays image-judged
    val without = graft.operators.Curate.pipelineMultimodal(
        spark, corpusDF, blobsDF, approxNear = true)
      .collect().map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    val withArm = batchFrame.map(r =>
      r(0).asInstanceOf[Long] -> r(7).asInstanceOf[Boolean]).toMap
    val flipped = withArm.filter { case (id, ok) => !ok && without(id) }.keys.toSeq
    assert(flipped.nonEmpty, "the laundering arm flipped no verdict")
    // every flipped doc is a video of a targeted class (c+14 for c ≡ 0
    // mod 15) — the arm never touches other modalities
    assert(flipped.forall { id =>
      val cls = id / 2
      cls % 3 == 2 && (cls - 14) % 15 == 0
    }, s"unexpected flips: $flipped")
  }

  test("streamCurateMultimodal crossModalStills: an indexed still table makes the laundering arm order-independent; accumulated state stays order-dependent") {
    implicit val sqlCtx = spark.sqlContext
    // ORDER-INDEPENDENT device: unique 12-token texts (no exact/near/
    // shingle overlap, so every TEXT verdict is arrival-order-free),
    // distinct media payloads (no family gate ever matches), one huge
    // token budget (every kept-train doc shards to 0 in any order) — the
    // ONLY order-sensitive piece left is the cross-modal arm itself.
    // Video T (id 20) repeats the md5 block that image S's (id 45 > T)
    // still carries: under ascending arrival T precedes its catching
    // still — exactly the ordered-arrival caveat.
    val mp4H = graft.operators.Multimodal.mp4VideoFramesHeader()
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    import spark.implicits._
    val targetBlock = md5hex("target-still")
    def blobOf(id: Long): Array[Byte] = (id % 3) match {
      case 0 =>
        // 45's still carries the block video 20's every frame repeats
        // (32 bytes — the frame grid's zero-padded shape)
        if (id == 45L) targetBlock.getBytes("UTF-8")
        else (md5hex(s"img$id") * 2).getBytes("UTF-8")
      case 2 =>
        val pay = if (id == 20L) targetBlock * 16 else md5hex(s"vid$id") * 16
        mp4H ++ pay.getBytes("UTF-8")
      case _ => null // text-only row: vacuously media-clean
    }
    val rows = (0L until 60L).map { id =>
      (id, (0 until 12).map(j => s"t${id}x$j").mkString(" "), "en", "s", blobOf(id))
    }
    val corpusDF = rows.map(r => (r._1, r._2, r._3, r._4))
      .toDF("doc_id", "text", "lang", "source")
    val blobsDF = rows.map(r => (r._1, r._5)).toDF("doc_id", "blob")
      .where(col("blob").isNotNull)
    val evalDocs = corpusDF
      .where(graft.operators.Sampling.hashBucket(col("doc_id")) >= 90)
    // the catalog-still table: the IMAGE-modality blobs' phashes, a
    // build-time fact (what videoStillMatchesIndexed's registry stores)
    val stills = graft.operators.Multimodal.imagePHash(spark,
        blobsDF.where(col("doc_id") % 3 === 0))
      .select(col("phash")).localCheckpoint()
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    def stream(order: Seq[(Long, String, String, String, Array[Byte])],
               idx: Option[org.apache.spark.sql.DataFrame]): Seq[Vector[Any]] = {
      val path = Files.createTempDirectory("graft-scms-").toString + "/out"
      val ckpt = Files.createTempDirectory("graft-scms-ckpt-").toString
      val mem = MemoryStream[(Long, String, String, String, Array[Byte])]
      order.grouped(20).foreach { c =>
        mem.addData(c: _*)
        runToCompletion(Streaming.streamCurateMultimodal(
          mem.toDF().toDF("doc_id", "text", "lang", "source", "blob"),
          evalDocs, path, ckpt, tokensPerShard = 1000000L,
          crossModal = true, crossModalStills = idx))
      }
      Streaming.readCurate(spark, path).get
        .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    }
    val asc = stream(rows, Some(stills))
    val desc = stream(rows.reverse, Some(stills))
    // the retired caveat: opposite arrival orders, identical frames —
    // and both equal the batch composition (which probes ALL stills)
    assert(asc == desc)
    val batchFrame = graft.operators.Curate.pipelineMultimodal(
        spark, corpusDF, blobsDF, tokensPerShard = 1000000L,
        approxNear = true, crossModal = true)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(asc == batchFrame)
    val mediaOk = asc.map(r => r(0).asInstanceOf[Long] -> r(7).asInstanceOf[Boolean]).toMap
    assert(!mediaOk(20L), "the indexed arm must refuse the targeted video in both orders")
    assert(mediaOk(23L) && mediaOk(45L), "untargeted video / the still itself stay admitted")
    // the control: accumulated-state arm under ascending arrival — the
    // catching still lands AFTER the video, so the video is waved through
    // (the ordering caveat the index retires)
    val acc = stream(rows, None)
    val accOk = acc.map(r => r(0).asInstanceOf[Long] -> r(7).asInstanceOf[Boolean]).toMap
    assert(accOk(20L), "expected the accumulated-state arm to miss the later still")
  }

  test("streamImageDedupAdmit: admitted set ≡ batch imageDedup keepers; cross-batch chains reject through in-batch near-dups") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-simg-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-simg-ckpt-").toString

    // fake-arm blobs realizing EXACT dHashes: byte grid where bit (r,c)
    // set ⇔ grid(r,8c..)+1 step — flipping a bit flips exactly one
    // gradient, so Hamming distances are engineered precisely
    def blobFor(bits: Set[Int]): Array[Byte] = {
      val g = new Array[Byte](64)
      for (r <- 0 until 8) {
        g(r * 8) = 100
        for (c <- 0 until 7)
          g(r * 8 + c + 1) =
            (g(r * 8 + c) + (if (bits(r * 7 + c)) 1 else 0)).toByte
      }
      g
    }
    val baseBits = (0 until 20).toSet
    val a = blobFor(baseBits)                          // id 1, batch 1
    val b = blobFor(baseBits -- (0 until 5))           // hamming(a,b) = 5
    val c = blobFor((baseBits -- (0 until 5)) ++ Set(30, 31, 32, 33, 34)) // hamming(b,c)=5, hamming(a,c)=10
    val far = blobFor((40 until 56).toSet)             // far from all
    // sanity on the engineered distances
    def h(x: Array[Byte]) = graft.operators.Multimodal.dhash56(
      graft.operators.Multimodal.grayGrid(x))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(h(a), h(b)) == 5 && ham(h(b), h(c)) == 5 && ham(h(a), h(c)) == 10)
    assert(ham(h(a), h(far)) > 6 && ham(h(b), h(far)) > 6 && ham(h(c), h(far)) > 6)

    // ids ordered across batches; within batch 2, c (id 2) precedes b (3):
    // the in-batch cluster {c, b} elects c — but b chains to a in state,
    // so the WHOLE cluster must reject (the taint-transitivity case)
    val batch1 = Seq((1L, a), (4L, far))
    val batch2 = Seq((2L, c), (3L, b), (5L, far))      // 5 = exact dup of 4

    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, Array[Byte])]
    def run(): Unit = runToCompletion(Streaming.streamImageDedupAdmit(
      mem.toDF().toDF("doc_id", "blob"), path, ckpt) { df =>
      admitted ++= df.select(col("doc_id")).collect().map(_.getLong(0))
    })
    mem.addData(batch1: _*); run()
    mem.addData(batch2: _*); run()
    // batch reference over the whole corpus
    import spark.implicits._
    val all = (batch1 ++ batch2).toDF("doc_id", "blob")
    val batchKeep = graft.operators.Dedup.imageDedup(spark, all)
      .where(col("keep")).collect().map(_.getLong(0)).toSet
    assert(batchKeep == Set(1L, 4L)) // a's cluster roots at 1; far at 4; 5 is 4's copy
    assert(admitted.toSet == batchKeep)
    assert(admitted.size == admitted.toSet.size)

    // commit-crash replay of batch 1: strict-below state read + per-batch
    // overwrite ⇒ the replayed batch re-admits the same rows, state is
    // byte-identical, and batch 2 was never re-delivered
    dropCommit(ckpt, 1)
    admitted.clear()
    run()
    assert(admitted.toSet.subsetOf(Set(2L, 3L, 5L)) || admitted.toSet == Set.empty,
      s"replayed batch-2 admissions drifted: $admitted")
    // the replay re-derives batch 2 identically: same admissions as before
    assert(admitted.toSet == Set(5L).filter(batchKeep) ++ Set(2L, 3L).filter(batchKeep),
      s"replay admissions: $admitted")
  }

  test("streamAudioDedupAdmit: admitted ≡ batch audioDedup keepers; landmark taint is cluster-transitive; exact-envelope arm catches landmark-poor copies; non-WAV passes through") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-saud-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-saud-ckpt-").toString
    val M = graft.operators.Multimodal

    def wav(samples: Seq[Int]): Array[Byte] = {
      val data = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(s => data.putShort(s.toShort))
      M.pcmWavHeader(8000, 1, samples.length * 2L) ++ data.array()
    }
    // the MultimodalSpec landmark programme: dense peaks, drifting keys
    def prog: Seq[Int] = (0 until 512).map { i =>
      val blk = i / 8
      val amp = 200 * (1 + (blk * 7) % 23 + 2 * (blk / 23))
      (if (i % 2 == 0) amp else -amp) + (i % 7)
    }
    val a = wav(prog)
    val a12 = wav(Seq.fill(12)(0) ++ prog)   // 3-hop shift: landmark-votes vs a
    val a24 = wav(Seq.fill(24)(0) ++ prog)   // 6-hop shift: votes vs a AND a12
    // landmark-POOR programme (no level peaks): its exact copy can reject
    // ONLY through the envelope arm — this fixture pins that arm
    val flat = wav((0 until 512).map(i => if (i % 97 == 0) 20000 else 10))
    assert(M.audioLandmarks(spark,
        Seq((9L, flat)).toDF("doc_id", "blob")).count() == 0L,
      "fixture must be landmark-free or the exact-arm test proves nothing")

    // batch 1 seeds state; batch 2: {a24, a12} form an in-batch cluster
    // whose members BOTH chain to a in state — whole cluster rejects;
    // flatCopy is byte-identical to flat (exact arm); 6 is not audio
    val batch1 = Seq((1L, a), (4L, flat))
    val batch2 = Seq((2L, a24), (3L, a12), (5L, flat.clone()),
      (6L, "not audio at all".getBytes("US-ASCII")))

    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, Array[Byte])]
    def run(): Unit = runToCompletion(Streaming.streamAudioDedupAdmit(
      mem.toDF().toDF("doc_id", "blob"), path, ckpt) { df =>
      admitted ++= df.select(col("doc_id")).collect().map(_.getLong(0))
    })
    mem.addData(batch1: _*); run()
    mem.addData(batch2: _*); run()

    // batch reference over the WAV corpus: {1,2,3} component roots at 1,
    // {4,5} collapse on envelope — keepers {1,4}
    val all = (batch1 ++ batch2).toDF("doc_id", "blob")
    val batchVerdicts = graft.operators.Dedup.audioDedup(spark, all).collect()
    assert(batchVerdicts.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)),
      "batch component structure drifted — fixture no longer engineered")
    val batchKeep = batchVerdicts.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(batchKeep == Set(1L, 4L))
    // streamed admissions = batch keepers plus the non-audio pass-through
    assert(admitted.toSet == batchKeep + 6L, s"admitted: $admitted")
    assert(admitted.size == admitted.toSet.size)

    // commit-crash replay of batch 2: strict-below state reads ⇒ identical
    dropCommit(ckpt, 1)
    admitted.clear()
    run()
    assert(admitted.toSet == Set(6L), s"replay admissions drifted: $admitted")
  }

  test("streamCurate with state compaction: decisions ≡ batch pipeline, listing bounded, post-compaction replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-scurate-cp-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-scurate-cp-ckpt-").toString
    val corpusDF = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val corpus = corpusDF.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val evalDocs = corpusDF
      .where(graft.operators.Sampling.hashBucket(col("doc_id")) >= 90)

    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val mem = MemoryStream[(Long, String, String, String)]
    def run(): Unit = runToCompletion(Streaming.streamCurate(
      mem.toDF().toDF("doc_id", "text", "lang", "source"), evalDocs, path, ckpt,
      compactEvery = 2))
    // five id-ordered batches with compactEvery=2: the _sigs/_fps listings
    // MUST fold mid-run (the O(B)-dirs-per-batch growth this bounds)
    val chunks = corpus.grouped((corpus.length + 4) / 5).toSeq
    chunks.foreach { c => mem.addData(c: _*); run() }

    def streamed(): Seq[Seq[Any]] = Streaming.readCurate(spark, path).get
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    val batchFrame = graft.operators.Curate.pipeline(corpusDF, approxNear = true)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(streamed() == batchFrame)
    // listing bound: a consolidated dir exists and uncompacted b-dirs stay
    // below the dial (5 batches, every=2 ⇒ at most 2 b-dirs remain)
    def dirsOf(sub: String): Seq[String] = {
      val d = java.nio.file.Paths.get(path, sub)
      java.nio.file.Files.list(d).toArray.map(_.toString.split('/').last).toSeq
        .filterNot(_.startsWith("."))
    }
    for (sub <- Seq("_sigs", "_fps")) {
      val names = dirsOf(sub)
      assert(names.exists(_.startsWith("c")), s"$sub never compacted: $names")
      assert(names.count(_.startsWith("b")) <= 2, s"$sub listing unbounded: $names")
    }
    // commit-crash replay of the LAST batch, whose state reads now cross
    // the consolidated dir: decisions must stay byte-identical
    val last = chunks.length - 1
    dropCommit(ckpt, last)
    run()
    assert(streamed() == batchFrame)
  }

  test("streamSemanticDedupAdmit: admitted ≡ batch semanticDedup keepers; commit-crash replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-ssem-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ssem-ckpt-").toString
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = e.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cents: Seq[Seq[Double]] = rows.take(16).map(_._2.toSeq).toSeq
    val batches = rows.grouped((rows.length + 2) / 3).toSeq

    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, Seq[Double])]
    def run(): Unit = runToCompletion(Streaming.streamSemanticDedupAdmit(
      mem.toDF().toDF("vec_id", "embedding"), cents, path, ckpt, tau = 0.35) { df =>
      admitted ++= df.select(col("vec_id")).collect().map(_.getLong(0))
    })
    batches.foreach { b => mem.addData(b: _*); run() }

    // id-ordered arrival ⇒ the union of admissions IS the batch operator's
    // keeper set (any lower-id qualifying vector suppresses — in-batch via
    // the self-join arm, earlier-batch via state, exactly the global rule)
    val want = graft.operators.Dedup.semanticDedup(e, nCells = 16, tau = 0.35)
      .where(col("keep")).collect().map(_.getLong(0)).toSet
    assert(admitted.toSet == want, s"stream/batch divergence: " +
      s"extra=${admitted.toSet -- want} missing=${want -- admitted.toSet}")
    assert(admitted.size == admitted.toSet.size, "no vector admitted twice")

    // commit-crash replay of the last batch: strict-below state reads +
    // per-batch overwrite dirs ⇒ identical re-admissions, no drift
    val last = batches.length - 1
    dropCommit(ckpt, last)
    val before = admitted.toSet
    admitted.clear(); run()
    val lastIds = batches(last).map(_._1).toSet
    assert(admitted.toSet == before.intersect(lastIds),
      s"replayed admissions drifted: $admitted")
  }

  test("streamVideoDedupAdmit: vote arm catches the re-cut, fp arm the short re-mux, pass-through, replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-svid-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-svid-ckpt-").toString
    val header = graft.operators.Multimodal.mp4VideoFramesHeader()
    val textA = (0 until 160).map(i => ('a' + (i * 7) % 26).toChar).mkString
      .getBytes("US-ASCII")
    val textS = (0 until 40).map(i => ('k' + (i * 5) % 13).toChar).mkString
      .getBytes("US-ASCII") // 2 frames — below the 3-vote evidence floor
    val textF = (0 until 160).map(i => ('A' + (i * 11) % 26).toChar).mkString
      .getBytes("US-ASCII")
    val junk = Array.fill[Byte](32)('z'.toByte)
    val b1 = Seq(
      (1L, header ++ textA),                     // video A
      (2L, header ++ textS),                     // short video S
      (3L, "just text, not a container".getBytes("US-ASCII"))) // pass-through
    val b2 = Seq(
      (11L, header ++ junk ++ textA),            // A re-cut: ONLY the vote arm sees it
      (12L, header ++ textS),                    // S re-mux: ONLY the fp arm (2 < 3 votes)
      (13L, header ++ textF),                    // fresh video
      (14L, "more text".getBytes("US-ASCII")))   // pass-through
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, Array[Byte])]
    def run(): Unit = runToCompletion(Streaming.streamVideoDedupAdmit(
      mem.toDF().toDF("doc_id", "blob"), path, ckpt) { df =>
      admitted ++= df.select(col("doc_id")).collect().map(_.getLong(0))
    })
    mem.addData(b1: _*); run()
    assert(admitted.toSet == Set(1L, 2L, 3L), s"batch 1 admissions: $admitted")
    admitted.clear()
    mem.addData(b2: _*); run()
    assert(admitted.toSet == Set(13L, 14L),
      s"batch 2 must reject the re-cut (votes) AND the short re-mux (fp): $admitted")
    // commit-crash replay of batch 2: strict-below reads + overwrite dirs
    dropCommit(ckpt, 1)
    admitted.clear(); run()
    assert(admitted.toSet == Set(13L, 14L), s"replay drifted: $admitted")
  }

  test("streamMediaDedupAdmit: one gate for a mixed stream — per-family dispatch, cross-batch taint, family isolation, replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-smedia-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-smedia-ckpt-").toString
    val wavH = graft.operators.Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL)
    val mp4H = graft.operators.Multimodal.mp4VideoFramesHeader()
    val imgBytes = (0 until 96).map(i => ('a' + (i * 7) % 26).toChar).mkString
      .getBytes("US-ASCII")
    val audBytes = (0 until 128).map(i => ('c' + (i * 5) % 22).toChar).mkString
      .getBytes("US-ASCII")
    val vidBytes = (0 until 160).map(i => ('A' + (i * 11) % 26).toChar).mkString
      .getBytes("US-ASCII")
    val freshImg = (0 until 96).map(i => ('N' + (i * 13) % 13).toChar).mkString
      .getBytes("US-ASCII")
    val b1 = Seq(
      (1L, imgBytes),             // image family (fake arm)
      (2L, wavH ++ audBytes),     // audio family
      (3L, mp4H ++ vidBytes),     // video family
      (4L, null: Array[Byte]))    // no blob: pass-through
    val b2 = Seq(
      (11L, imgBytes),            // exact image dup of 1 → rejected
      (12L, wavH ++ audBytes),    // exact audio dup of 2 → rejected
      (13L, mp4H ++ vidBytes),    // exact video dup of 3 → rejected
      (14L, freshImg),            // fresh image → admitted
      // FAMILY ISOLATION: the seen IMAGE payload wrapped as a WAV lands in
      // the audio family, whose state has never seen these samples —
      // admitted; a single shared state would wrongly taint it
      (15L, wavH ++ imgBytes))
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, Array[Byte])]
    def run(): Unit = runToCompletion(Streaming.streamMediaDedupAdmit(
      mem.toDF().toDF("doc_id", "blob"), path, ckpt) { df =>
      admitted ++= df.select(col("doc_id")).collect().map(_.getLong(0))
    })
    mem.addData(b1: _*); run()
    assert(admitted.toSet == Set(1L, 2L, 3L, 4L), s"batch 1 admissions: $admitted")
    admitted.clear()
    mem.addData(b2: _*); run()
    assert(admitted.toSet == Set(14L, 15L),
      s"batch 2 must reject each family's cross-batch dup and keep family state isolated: $admitted")
    // commit-crash replay of batch 2: strict-below reads + overwrite dirs
    dropCommit(ckpt, 1)
    admitted.clear(); run()
    assert(admitted.toSet == Set(14L, 15L), s"replay drifted: $admitted")
  }

  test("streamBitextMine: per-batch pairs ≡ the indexed batch miner; FailIfMissing refuses; commit-crash replay byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val path = Files.createTempDirectory("graft-sbtx-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-sbtx-ckpt-").toString
    val e = graft.core.Tables.embeddings(spark, dir)
    val srcRows = e.where(col("vec_id") % 2 === 0).orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val batches = srcRows.grouped((srcRows.length + 1) / 2).toSeq
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val mem = MemoryStream[(Long, Seq[Double])]
    // an unbuilt index must refuse (FailIfMissing default): the stream
    // terminates with the registry's not-built error
    val reg = graft.operators.CatalogOps.indexRegistry(spark, dir)
    if (reg.isIndexRegistered("embeddings-bitext-cells-c8"))
      reg.dropIndex("embeddings-bitext-cells-c8")
    mem.addData(batches.head: _*)
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = Streaming.streamBitextMine(spark, dir,
        mem.toDF().toDF("src_id", "src_vec"), path, ckpt)
      try q.awaitTermination(120000) finally q.stop()
    }
    assert(failed.getMessage.contains("not built"), failed.getMessage)
    // build through the batch API (the orchestrated step), then stream
    val batchDf = (ids: Seq[(Long, Seq[Double])]) => {
      import spark.implicits._
      ids.toDF("src_id", "src_vec")
    }
    graft.operators.Bitext.minePairsIncrementalIndexed(spark, dir,
      batchDf(batches.head),
      policy = graft.core.IndexPolicy.BuildIfMissing).collect()
    def run(): Unit = runToCompletion(Streaming.streamBitextMine(spark, dir,
      mem.toDF().toDF("src_id", "src_vec"), path, ckpt))
    run() // batch 0 (already queued above)
    mem.addData(batches(1): _*); run()
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = pairs(Streaming.readMinedPairs(spark, path).get)
    // per-batch equivalence: the union of batch dirs equals the indexed
    // batch miner run over each batch independently
    val want = batches.map(b => pairs(
      graft.operators.Bitext.minePairsIncrementalIndexed(spark, dir, batchDf(b),
        policy = graft.core.IndexPolicy.FailIfMissing))).reduce(_ ++ _)
    assert(streamed == want, s"stream/batch divergence: " +
      s"extra=${streamed -- want} missing=${want -- streamed}")
    // commit-crash replay: stateless given the index ⇒ byte-identical dirs
    val last = batches.length - 1
    dropCommit(ckpt, last)
    run()
    assert(pairs(Streaming.readMinedPairs(spark, path).get) == want,
      "replay changed the mined-pair table")
  }

  test("streamSourceGateAdmit: running-evidence host gate — unmeasured passes, flips to blocked as evidence lands; state ≡ sourceStats(seen); replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val S = graft.operators.SourceCurate
    val path = Files.createTempDirectory("graft-ssrc-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ssrc-ckpt-").toString
    // the SourceCurateSpec device, streamed: srcA quality, srcB junk,
    // srcC tiny. Batch 1 carries only 2 srcB docs (below minDocs = 3 →
    // unmeasured → ADMITTED); batch 2 brings 3 more, the running
    // evidence crosses the floor and srcB flips to blocked — the
    // declared first-evidence semantics, pinned both ways
    val good = (1 to 120).map(i => s"the w${i}a of w${i}b and w${i}c").mkString(" ")
    val b1 = (1L to 3L).map(i => (i, good, "en", "srcA")) ++
      (11L to 12L).map(i => (i, "x,,,.!!??;;::", "en", "srcB"))
    val b2 = (4L to 5L).map(i => (i, good, "en", "srcA")) ++
      (13L to 15L).map(i => (i, "x,,,.!!??;;::", "en", "srcB")) ++
      (21L to 22L).map(i => (i, "y.!?;:", "en", "srcC"))
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val refused = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val mem = MemoryStream[(Long, String, String, String)]
    def run(): Unit = runToCompletion(Streaming.streamSourceGateAdmit(
      mem.toDF().toDF("doc_id", "text", "lang", "source"), path, ckpt,
      minAvgQuality = 0.2, minDocs = 3L)(
      df => admitted ++= df.select(col("doc_id")).collect().map(_.getLong(0)),
      df => refused ++= df.select(col("doc_id"), col("source")).collect()
        .map(r => (r.getLong(0), r.getString(1)))))
    mem.addData(b1: _*); run()
    assert(admitted.toSet == Set(1L, 2L, 3L, 11L, 12L),
      "batch 1: srcB unmeasured (2 docs < minDocs) — admitted on first evidence")
    mem.addData(b2: _*); run()
    assert(admitted.toSet == Set(1L, 2L, 3L, 11L, 12L, 4L, 5L, 21L, 22L),
      "batch 2: srcB flips to blocked on running evidence; srcC still unmeasured")
    assert(refused.toSet == Set((13L, "srcB"), (14L, "srcB"), (15L, "srcB")))
    // state identity: the accumulated per-source stats equal the batch
    // stats over everything seen, byte-for-byte (the exact-merge property)
    val corpus = (b1 ++ b2).toDF("doc_id", "text", "lang", "source")
    val stateDirs = new java.io.File(s"$path/_srcstats").listFiles()
      .filter(f => f.getName.startsWith("b") || f.getName.startsWith("c"))
      .map(_.toString).sorted
    val state = stateDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val folded = S.mergeSourceStats(state.limit(0), state) // one grouped sum
    assert(folded.collect().map(_.toSeq.toVector).toSeq ==
      S.sourceStats(corpus).collect().map(_.toSeq.toVector).toSeq)
    // commit-crash replay: decisions are pure given (state below, batch)
    dropCommit(ckpt, 1)
    admitted.clear(); refused.clear(); run()
    assert(admitted.toSet == Set(4L, 5L, 21L, 22L) &&
      refused.toSet == Set((13L, "srcB"), (14L, "srcB"), (15L, "srcB")),
      "replayed batch reproduces its admissions byte-identically")
  }

  test("streamMixtureDraw: running-evidence mixture — per-batch ≡ incremental form, state ≡ sourceTokenStats(seen), commit-crash replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val S = graft.operators.Sampling
    val path = Files.createTempDirectory("graft-smix-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-smix-ckpt-").toString
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val b = S.hashBucket(col("doc_id"))
    def slice(lo: Int, hi: Int) = docs.where(b >= lo && b < hi)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val (b1, b2) = (slice(0, 50), slice(50, 100))
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val drawn = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val mem = MemoryStream[(Long, String, String, String)]
    def run(): Unit = runToCompletion(Streaming.streamMixtureDraw(
      mem.toDF().toDF("doc_id", "text", "lang", "source"), path, ckpt,
      budgetTokens = 100000L)(
      df => drawn ++= df.select(col("doc_id"), col("n_repeats")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))))
    val corpus1 = b1.toSeq.toDF("doc_id", "text", "lang", "source")
    val corpus2 = b2.toSeq.toDF("doc_id", "text", "lang", "source")
    mem.addData(b1.toSeq: _*); run()
    // batch 1 draws under its own evidence — the batch mixtureDraw over
    // exactly what has streamed (the single-batch ≡ batch identity)
    val want1 = S.mixtureDraw(corpus1, budgetTokens = 100000L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(drawn.toSet == want1, "batch 1 must equal the batch draw over itself")
    val drawn1 = drawn.toSet
    mem.addData(b2.toSeq: _*); run()
    // batch 2 draws under MERGED evidence — the incremental form exactly
    val want2 = S.mixtureDrawIncremental(corpus2,
        S.sourceTokenStats(corpus1), budgetTokens = 100000L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(drawn.toSet -- drawn1 == want2,
      "batch 2 must equal the incremental draw under running evidence")
    // state identity: folded per-batch stats ≡ sourceTokenStats(seen)
    val stateDirs = new java.io.File(s"$path/_mixstats").listFiles()
      .filter(f => f.getName.startsWith("b") || f.getName.startsWith("c"))
      .map(_.toString).sorted
    val state = stateDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val folded = S.mergeTokenStats(state.limit(0), state)
      .orderBy(col("source")).collect().map(_.toSeq.toVector).toSeq
    val whole = (b1 ++ b2).toSeq.toDF("doc_id", "text", "lang", "source")
    assert(folded == S.sourceTokenStats(whole).orderBy(col("source"))
      .collect().map(_.toSeq.toVector).toSeq)
    // commit-crash replay: the draw is pure given (state below, batch)
    dropCommit(ckpt, 1)
    drawn.clear(); run()
    assert(drawn.toSet == want2, "replayed batch re-draws byte-identically")
  }

  test("streamBudgetAdmit: running-evidence admission — per-batch ≡ incremental form, state ≡ scoreHistogram(seen), commit-crash replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val B = graft.operators.BudgetSelect
    val path = Files.createTempDirectory("graft-sbud-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-sbud-ckpt-").toString
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val b = graft.operators.Sampling.hashBucket(col("doc_id"))
    def slice(lo: Int, hi: Int) = docs.where(b >= lo && b < hi)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val (b1, b2) = (slice(0, 50), slice(50, 100))
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val refused = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, String, String, String)]
    // keepPct mode: the budget is 40% of the tokens seen so far — the
    // threshold converges toward the whole-corpus cut as evidence lands
    def run(): Unit = runToCompletion(Streaming.streamBudgetAdmit(
      mem.toDF().toDF("doc_id", "text", "lang", "source"), path, ckpt,
      keepPct = Some(40))(
      df => admitted ++= df.select(col("doc_id")).collect().map(_.getLong(0)),
      df => refused ++= df.select(col("doc_id")).collect().map(_.getLong(0))))
    val corpus1 = b1.toSeq.toDF("doc_id", "text", "lang", "source")
    val corpus2 = b2.toSeq.toDF("doc_id", "text", "lang", "source")
    def totalTokens(df: org.apache.spark.sql.DataFrame): Long =
      B.scored(df).agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    mem.addData(b1.toSeq: _*); run()
    // batch 1 admits under its own evidence — selectIncremental with
    // empty state at 40% of ITS tokens (single-batch ≡ incremental)
    val want1 = B.selectIncremental(corpus1,
        B.scoreHistogram(corpus1.limit(0)), totalTokens(corpus1) * 40L / 100L)
      .where(col("admitted")).collect().map(_.getLong(0)).toSet
    assert(admitted.toSet == want1, "batch 1 must equal the incremental rule over itself")
    assert(refused.toSet == b1.map(_._1).toSet -- want1,
      "every batch-1 doc gets exactly one verdict")
    val admitted1 = admitted.toSet
    mem.addData(b2.toSeq: _*); run()
    // batch 2 admits under MERGED evidence at 40% of ALL seen tokens
    val whole = (b1 ++ b2).toSeq.toDF("doc_id", "text", "lang", "source")
    val want2 = B.selectIncremental(corpus2, B.scoreHistogram(corpus1),
        totalTokens(whole) * 40L / 100L)
      .where(col("admitted")).collect().map(_.getLong(0)).toSet
    assert(admitted.toSet -- admitted1 == want2,
      "batch 2 must equal the incremental admission under running evidence")
    // state identity: folded per-batch histograms ≡ scoreHistogram(seen)
    val stateDirs = new java.io.File(s"$path/_bhist").listFiles()
      .filter(f => f.getName.startsWith("b") || f.getName.startsWith("c"))
      .map(_.toString).sorted
    val state = stateDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val folded = B.mergeHistograms(state.limit(0), state)
      .collect().map(_.toSeq.toVector).toSeq
    assert(folded == B.scoreHistogram(whole).collect().map(_.toSeq.toVector).toSeq,
      "accumulated state must equal the whole-corpus histogram byte-for-byte")
    // commit-crash replay: admission is pure given (state below, batch)
    dropCommit(ckpt, 1)
    admitted.clear(); refused.clear(); run()
    assert(admitted.toSet == want2 &&
      refused.toSet == b2.map(_._1).toSet -- want2,
      "replayed batch re-admits byte-identically")
  }

  test("streamSnapshotDiff: per-batch ≡ batch diff on the batch's ids; union + close-removed ≡ whole diff; commit-crash replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val S = graft.operators.SnapshotDiff
    val path = Files.createTempDirectory("graft-ssnap-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ssnap-ckpt-").toString
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val b = graft.operators.Sampling.hashBucket(col("doc_id"))
    val old = docs.where(b < 90)
    val oldHashes = S.contentHashes(old).persist()
    val neu = docs.where(b >= 10).withColumn("text",
      when(b >= 40 && b < 50, concat(col("text"), lit(" v2")))
        .otherwise(col("text")))
    def slice(df: org.apache.spark.sql.DataFrame, lo: Int, hi: Int) =
      df.where(b >= lo && b < hi)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = (slice(neu, 10, 55), slice(neu, 55, 100))
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val mem = MemoryStream[(Long, String)]
    def run(): Unit = runToCompletion(Streaming.streamSnapshotDiff(
      mem.toDF().toDF("doc_id", "text"), oldHashes, path, ckpt)(
      df => got ++= df.select(col("doc_id"), col("status")).collect()
        .map(r => (r.getLong(0), r.getString(1)))))
    mem.addData(b1.toSeq: _*); run()
    // batch 1 verdicts ≡ the batch diff restricted to the batch's ids —
    // the pure-given-(oldHashes, batch) contract
    val want1 = S.corpusDiffFromHashes(oldHashes,
        b1.toSeq.toDF("doc_id", "text"))
      .where(col("status") =!= "removed")
      .select(col("doc_id"), col("status")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.toSet == want1, "batch 1 must equal the batch diff on its ids")
    val got1 = got.toSet
    mem.addData(b2.toSeq: _*); run()
    // union of per-batch verdicts + the snapshot-close removed scan ≡ the
    // whole-pair batch diff
    val removed = Streaming.snapshotRemoved(spark, path, oldHashes)
      .select(col("doc_id"), col("status")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val whole = S.corpusDiff(old, neu)
      .select(col("doc_id"), col("status")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.toSet ++ removed == whole,
      "streamed verdicts + close-removed must reassemble the batch diff")
    // commit-crash replay: verdicts are pure given (oldHashes, batch)
    dropCommit(ckpt, 1)
    got.clear(); run()
    assert(got.toSet == whole -- removed -- got1,
      "replayed batch re-judges byte-identically")
    oldHashes.unpersist()
  }

  test("streamSemanticDedupAdmitPq: state is PQ-coded (width cut asserted), agreement with the raw gate measured, commit-crash replay identical") {
    implicit val sqlCtx = spark.sqlContext
    val pathPq = Files.createTempDirectory("graft-spq-").toString + "/out"
    val ckptPq = Files.createTempDirectory("graft-spq-ckpt-").toString
    val pathRaw = Files.createTempDirectory("graft-spqr-").toString + "/out"
    val ckptRaw = Files.createTempDirectory("graft-spqr-ckpt-").toString
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = e.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cents: Seq[Seq[Double]] = rows.take(16).map(_._2.toSeq).toSeq
    // seeded per-subspace codebook (the pqCodebook contract: first kCodes
    // vectors, sliced per subspace) — m=8 subspaces over dim 64
    val (m, dsub) = (8, 8)
    val codebook: Seq[Seq[Seq[Double]]] = (0 until m).map(s =>
      cents.map(_.slice(s * dsub, (s + 1) * dsub)))
    val batches = rows.grouped((rows.length + 2) / 3).toSeq
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admPq = scala.collection.mutable.ArrayBuffer[Long]()
    val admRaw = scala.collection.mutable.ArrayBuffer[Long]()
    val memPq = MemoryStream[(Long, Seq[Double])]
    val memRaw = MemoryStream[(Long, Seq[Double])]
    def runPq(): Unit = runToCompletion(Streaming.streamSemanticDedupAdmitPq(
      memPq.toDF().toDF("vec_id", "embedding"), cents, codebook,
      pathPq, ckptPq, tau = 0.35) { df =>
      admPq ++= df.select(col("vec_id")).collect().map(_.getLong(0))
    })
    def runRaw(): Unit = runToCompletion(Streaming.streamSemanticDedupAdmit(
      memRaw.toDF().toDF("vec_id", "embedding"), cents,
      pathRaw, ckptRaw, tau = 0.35) { df =>
      admRaw ++= df.select(col("vec_id")).collect().map(_.getLong(0))
    })
    batches.foreach { b => memPq.addData(b: _*); runPq() }
    batches.foreach { b => memRaw.addData(b: _*); runRaw() }

    // (1) the state rows are CODES, not vectors: M longs per row where the
    // raw gate holds dim doubles — the 8× schema-width cut by construction
    val stPq = spark.read.parquet(s"$pathPq/_codes/b" + "0" * 19 + "0")
    assert(stPq.schema("code").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }, s"code column must be ARRAY<BIGINT>, got ${stPq.schema("code").dataType}")
    assert(stPq.select(org.apache.spark.sql.functions.size(col("code")))
      .distinct().collect().map(_.getInt(0)).toSeq == Seq(m))
    val stRaw = spark.read.parquet(s"$pathRaw/_vecs/b" + "0" * 19 + "0")
    assert(stRaw.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head.getInt(0) == m * dsub)

    // (2) honest agreement measurement vs the raw gate: the delta IS the
    // codebook's distortion (the pqError/ivfpq_recall quantity). With the
    // crude 16-seed codebook the reconstruction is the WORST case a user
    // would ship, so this bound is conservative for a trained codebook.
    assert(admPq.size == admPq.toSet.size, "no double admission")
    val (sp, sr) = (admPq.toSet, admRaw.toSet)
    val agree = sp.intersect(sr).size.toDouble / math.max(1, sp.union(sr).size)
    info(f"pq-vs-raw admission agreement: $agree%.3f " +
      s"(pq=${sp.size} raw=${sr.size} both=${sp.intersect(sr).size})")
    assert(agree >= 0.6, f"agreement $agree%.3f collapsed — codebook unusable")

    // (3) commit-crash replay identity: same discipline as the raw gate
    val last = batches.length - 1
    dropCommit(ckptPq, last)
    val before = admPq.toSet
    admPq.clear(); runPq()
    val lastIds = batches(last).map(_._1).toSet
    assert(admPq.toSet == before.intersect(lastIds),
      s"replayed admissions drifted: $admPq")

    // (4) geometry guard (r17; the trainPqCodebook default change made
    // this reachable): a resume whose codebook has a different shape
    // (here m=16 over the same dims) must REFUSE with a named error —
    // stored codes have no header, so reading them under the wrong
    // geometry silently corrupts every admission verdict
    val cb16: Seq[Seq[Seq[Double]]] = (0 until 16).map(s =>
      cents.map(_.slice(s * 4, s * 4 + 4)))
    memPq.addData((900001L, rows.head._2))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = Streaming.streamSemanticDedupAdmitPq(
        memPq.toDF().toDF("vec_id", "embedding"), cents, cb16,
        pathPq, ckptPq, tau = 0.35)(_ => ())
      try q.awaitTermination(120000) finally q.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("stored codes would be misread")),
      s"expected the geometry-guard error, got: ${msgs(ex).mkString(" | ")}")
  }

  test("streamSemanticDedupAdmitPq with a TRAINED codebook: per-subspace Lloyd closes the distortion gap") {
    implicit val sqlCtx = spark.sqlContext
    val pathPq = Files.createTempDirectory("graft-spqt-").toString + "/out"
    val ckptPq = Files.createTempDirectory("graft-spqt-ckpt-").toString
    val pathRaw = Files.createTempDirectory("graft-spqtr-").toString + "/out"
    val ckptRaw = Files.createTempDirectory("graft-spqtr-ckpt-").toString
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = e.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cents: Seq[Seq[Double]] = rows.take(16).map(_._2.toSeq).toSeq
    // the SETUP-TIME step the gate's scaladoc mandates: train the
    // subquantizers on the real corpus (per-subspace Lloyd to the 9-dp
    // fixpoint or maxIters), THEN launch with the codebook stream-constant.
    // The (m, kCodes) dial was MEASURED on this table, not assumed —
    // admission agreement vs the raw gate at tau 0.35:
    //   m=8  k=16 seeded   0.909   (8× schema cut — the sibling test)
    //   m=8  k=16 trained  0.878   (training HURT: L2 means break angles
    //                               where real-slice codewords keep them)
    //   m=8  k=64 trained  0.900
    //   m=16 k=64 trained  0.942   (4× cut)
    //   m=32 k=64 trained  0.985   (2× cut — the first setting clearing
    //                               the 0.98 production bound in r14)
    // — r15 extended the curve along the ALPHABET axis (state width is M
    // longs regardless of kCodes): m=16 k=256 trained raw = 0.991 buys
    // the 4× cut past the bound (the "4x cut PURCHASED" test); residual
    // encoding measured 0.937/0.969 at k=64/256 — worse than raw, see
    // the residual test's record. This m=32 setting remains the pinned
    // 2×-cut point of the curve.
    val (codebook, iters) = graft.operators.Ann.trainPqCodebook(
      e, m = 32, kCodes = 64, dim = 64, maxIters = 10)
    info(s"pq codebook training ran $iters iterations")
    val batches = rows.grouped((rows.length + 2) / 3).toSeq
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admPq = scala.collection.mutable.ArrayBuffer[Long]()
    val admRaw = scala.collection.mutable.ArrayBuffer[Long]()
    val memPq = MemoryStream[(Long, Seq[Double])]
    val memRaw = MemoryStream[(Long, Seq[Double])]
    def runPq(): Unit = runToCompletion(Streaming.streamSemanticDedupAdmitPq(
      memPq.toDF().toDF("vec_id", "embedding"), cents, codebook,
      pathPq, ckptPq, tau = 0.35) { df =>
      admPq ++= df.select(col("vec_id")).collect().map(_.getLong(0))
    })
    def runRaw(): Unit = runToCompletion(Streaming.streamSemanticDedupAdmit(
      memRaw.toDF().toDF("vec_id", "embedding"), cents,
      pathRaw, ckptRaw, tau = 0.35) { df =>
      admRaw ++= df.select(col("vec_id")).collect().map(_.getLong(0))
    })
    batches.foreach { b => memPq.addData(b: _*); runPq() }
    batches.foreach { b => memRaw.addData(b: _*); runRaw() }
    // state stays M longs per row — training changes the VALUES, not the
    // schema contract
    val stPq = spark.read.parquet(s"$pathPq/_codes/b" + "0" * 19 + "0")
    assert(stPq.select(org.apache.spark.sql.functions.size(col("code")))
      .distinct().collect().map(_.getInt(0)).toSeq == Seq(32))
    // the distortion price, measured on the real embeddings table: the
    // crude 16-seed codebook's agreement was 0.909 (the sibling test's
    // measurement); the trained codebook must close the gap — this bound
    // is the number a user ships against, recorded next to ivfpq_recall's
    // story (train first, measure, THEN trust the compressed gate)
    val (sp, sr) = (admPq.toSet, admRaw.toSet)
    val agree = sp.intersect(sr).size.toDouble / math.max(1, sp.union(sr).size)
    info(f"TRAINED pq-vs-raw admission agreement: $agree%.3f " +
      s"(pq=${sp.size} raw=${sr.size} both=${sp.intersect(sr).size})")
    assert(agree >= 0.98,
      f"trained-codebook agreement $agree%.3f below the 0.98 production bound")
  }

  /** Shared harness for the PQ-gate agreement curve: run the PQ gate
    * (given codebook/flag) and the raw gate over the same id-ordered
    * batches — BOTH against the same coarse cells (`centsOpt`, default
    * the 16 seed vectors) — and return (agreement, codeWidth). */
  private def pqGateAgreement(codebook: Seq[Seq[Seq[Double]]],
                              residual: Boolean,
                              tag: String,
                              centsOpt: Option[Seq[Seq[Double]]] = None): (Double, Int) = {
    implicit val sqlCtx = spark.sqlContext
    val pathPq = Files.createTempDirectory(s"graft-$tag-").toString + "/out"
    val ckptPq = Files.createTempDirectory(s"graft-$tag-ckpt-").toString
    val pathRaw = Files.createTempDirectory(s"graft-$tag-r-").toString + "/out"
    val ckptRaw = Files.createTempDirectory(s"graft-$tag-r-ckpt-").toString
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = e.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cents: Seq[Seq[Double]] =
      centsOpt.getOrElse(rows.take(16).map(_._2.toSeq).toSeq)
    val batches = rows.grouped((rows.length + 2) / 3).toSeq
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admPq = scala.collection.mutable.ArrayBuffer[Long]()
    val admRaw = scala.collection.mutable.ArrayBuffer[Long]()
    val memPq = MemoryStream[(Long, Seq[Double])]
    val memRaw = MemoryStream[(Long, Seq[Double])]
    def runPq(): Unit = runToCompletion(Streaming.streamSemanticDedupAdmitPq(
      memPq.toDF().toDF("vec_id", "embedding"), cents, codebook,
      pathPq, ckptPq, tau = 0.35, residual = residual) { df =>
      admPq ++= df.select(col("vec_id")).collect().map(_.getLong(0))
    })
    def runRaw(): Unit = runToCompletion(Streaming.streamSemanticDedupAdmit(
      memRaw.toDF().toDF("vec_id", "embedding"), cents,
      pathRaw, ckptRaw, tau = 0.35) { df =>
      admRaw ++= df.select(col("vec_id")).collect().map(_.getLong(0))
    })
    batches.foreach { b => memPq.addData(b: _*); runPq() }
    batches.foreach { b => memRaw.addData(b: _*); runRaw() }
    val stPq = spark.read.parquet(s"$pathPq/_codes/b" + "0" * 19 + "0")
    val widths = stPq.select(org.apache.spark.sql.functions.size(col("code")))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(widths.length == 1, s"non-uniform code width: $widths")
    val (sp, sr) = (admPq.toSet, admRaw.toSet)
    (sp.intersect(sr).size.toDouble / math.max(1, sp.union(sr).size), widths.head)
  }

  test("streamSemanticDedupAdmitPq: the 4x cut PURCHASED — raw codes over a 256-code alphabet clear the production bound at m=16") {
    // the r14 verdict asked for residual m=16 as the next point on the
    // curve; the measured answer INVERTED the expectation (see the sibling
    // residual test), and the lever that actually buys the 4× cut is the
    // code ALPHABET: state width is M longs regardless of kCodes, so a
    // 256-codeword codebook (driver-side m·k·dsub = 16·256·4 doubles,
    // broadcast-bounded) costs nothing in state. Measured curve at
    // tau 0.35 on the real embeddings table (agreement vs the raw gate):
    //   m=16 k=64  trained raw       0.942
    //   m=16 k=64  trained residual  0.937
    //   m=16 k=256 trained residual  0.969
    //   m=16 k=256 trained raw       0.991  ← the 4× cut past the bound
    //   m=32 k=64  trained raw       0.985   (the r14 2× setting)
    //   m=32 k=64  trained residual  0.985
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (codebook, iters) = graft.operators.Ann.trainPqCodebook(
      e, m = 16, kCodes = 256, dim = 64, maxIters = 10)
    info(s"pq codebook training (m=16, k=256) ran $iters iterations")
    val (agree, width) = pqGateAgreement(codebook, residual = false, tag = "spq4x")
    assert(width == 16, s"state must stay 16 longs per row, got $width")
    info(f"m=16 k=256 RAW pq-vs-raw admission agreement: $agree%.3f")
    assert(agree >= 0.98,
      f"m=16/k=256 agreement $agree%.3f below the 0.98 production bound")
  }

  test("streamSemanticDedupAdmitPq with a RESIDUAL-trained codebook: measured, and the honest answer is that residual does NOT pay for the gate here") {
    // r14 verdict #3 hypothesized residual m=16 would clear 0.98 (the
    // ivfpq_recall result: residual ≥ raw at identical M on the READ
    // path's within-cell top-k ranking). Measured for the GATE's
    // threshold semantics it does not, and is slightly WORSE than raw at
    // both alphabets (0.937 vs 0.942 @ k=64; 0.969 vs 0.991 @ k=256).
    // The seeded-cells attribution was TESTED below and FALSIFIED:
    // under Lloyd-trained coarse cells residual still loses (0.917 vs
    // 0.928 at m=16/k=64), so the robust statement is simply that the
    // read path's residual win does not transfer to threshold admission
    // on this corpus — raw codes point recon directly at v, which is
    // what cosine(v, recon) ≥ tau rewards. The residual path stays (it
    // is the IVF-PQ layout); this test pins its encode/decode
    // correctness (agreement would collapse if the centroid add-back
    // were wrong) and records the measured points.
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = e.orderBy(col("vec_id")).limit(16).collect()
    val cents: Seq[Seq[Double]] = rows.map(_.getSeq[Double](1).toSeq).toSeq
    val (codebook, iters) = graft.operators.Ann.trainResidualPqCodebook(
      e, cents, m = 16, kCodes = 64, dim = 64, maxIters = 10)
    info(s"residual pq codebook training ran $iters iterations")
    val (agree, width) = pqGateAgreement(codebook, residual = true, tag = "spqres")
    assert(width == 16, s"state must stay 16 longs per row, got $width")
    info(f"RESIDUAL m=16 k=64 pq-vs-raw admission agreement: $agree%.3f")
    assert(agree >= 0.9,
      f"residual agreement $agree%.3f collapsed — the encode/decode pair is broken")
    assert(agree < 0.98, // if this ever flips, promote the residual point honestly
      f"residual m=16/k=64 now clears the bound ($agree%.3f) — update the curve record")
    // the mechanism leg that produced the falsification above: residual
    // vs raw at m=16/k=64 under TRAINED coarse cells (Lloyd to the
    // fixpoint, both gates on the same cells). Measured 0.917 vs 0.928 —
    // training the cells does not rescue residual coding for the gate.
    val (tc, _) = graft.operators.Ann.trainCentroids(e, nCells = 16, maxIters = 10)
    val (rcbT, _) = graft.operators.Ann.trainResidualPqCodebook(
      e, tc, m = 16, kCodes = 64, dim = 64, maxIters = 10)
    val (agreeResT, _) = pqGateAgreement(rcbT, residual = true,
      tag = "spqrest", centsOpt = Some(tc))
    val (cbRawT, _) = graft.operators.Ann.trainPqCodebook(
      e, m = 16, kCodes = 64, dim = 64, maxIters = 10)
    val (agreeRawT, _) = pqGateAgreement(cbRawT, residual = false,
      tag = "spqrawt", centsOpt = Some(tc))
    info(f"TRAINED-cells m=16 k=64: residual $agreeResT%.3f vs raw $agreeRawT%.3f")
    assert(agreeResT >= 0.9 && agreeRawT >= 0.9,
      f"trained-cells leg collapsed (res $agreeResT%.3f raw $agreeRawT%.3f)")
  }

  test("streamSemanticDedupAdmit under UNORDERED arrival: admitted pairwise non-matching, every rejection has a qualifying neighbor") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-ssemu-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ssemu-ckpt-").toString
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = e.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cents: Seq[Seq[Double]] = rows.take(16).map(_._2.toSeq).toSeq
    // deterministic shuffle: arrival order = md5 of the id, NOT id order
    def md5Of(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shuffled = rows.sortBy(t => md5Of(t._1.toString))
    val batches = shuffled.grouped((shuffled.length + 2) / 3).toSeq
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, Seq[Double])]
    def run(): Unit = runToCompletion(Streaming.streamSemanticDedupAdmit(
      mem.toDF().toDF("vec_id", "embedding"), cents, path, ckpt, tau = 0.35) { df =>
      admitted ++= df.select(col("vec_id")).collect().map(_.getLong(0))
    })
    batches.foreach { b => mem.addData(b: _*); run() }

    // the invariants that survive ANY arrival order (first-arrival-wins):
    val cellOf = graft.operators.Ann.assignCells(e, cents)
      .select(col("vec_id"), col("cell").cast("bigint"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = rows.toMap.map { case (k, v) => k -> v.toArray }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0
      else BigDecimal(d / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val adm = admitted.toSet
    assert(admitted.size == adm.size, "no double admission")
    // (a) admitted vectors are pairwise non-matching within a cell — an
    // admitted matcher would have been in state (or lower in-batch)
    for (x <- adm; y <- adm if x < y && cellOf(x) == cellOf(y))
      assert(cos(vecs(x), vecs(y)) < 0.35, s"admitted near-pair ($x, $y)")
    // (b) every rejection is justified: some same-cell qualifying
    // neighbor exists in the corpus
    (rows.map(_._1).toSet -- adm).foreach { r =>
      assert(rows.map(_._1).exists(o => o != r && cellOf(o) == cellOf(r) &&
        cos(vecs(o), vecs(r)) >= 0.35), s"unjustified rejection of $r")
    }
  }

  test("streamImageDedupAdmit under UNORDERED arrival: first-arrival-wins pinned — ≥1 keeper per component, admitted pairwise non-matching, replay deterministic") {
    implicit val sqlCtx = spark.sqlContext
    def blobFor(bits: Set[Int]): Array[Byte] = {
      val g = new Array[Byte](64)
      for (r <- 0 until 8) {
        g(r * 8) = 100
        for (c <- 0 until 7)
          g(r * 8 + c + 1) =
            (g(r * 8 + c) + (if (bits(r * 7 + c)) 1 else 0)).toByte
      }
      g
    }
    val baseBits = (0 until 20).toSet
    val a = blobFor(baseBits)                          // id 1
    val b = blobFor(baseBits -- (0 until 5))           // hamming(a,b)=5
    val c = blobFor((baseBits -- (0 until 5)) ++ Set(30, 31, 32, 33, 34)) // h(b,c)=5, h(a,c)=10
    val far = blobFor((40 until 56).toSet)
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    def runStream(batches: Seq[Seq[(Long, Array[Byte])]]): Seq[Long] = {
      val path = Files.createTempDirectory("graft-simg-uo-").toString + "/out"
      val ckpt = Files.createTempDirectory("graft-simg-uo-ckpt-").toString
      val admitted = scala.collection.mutable.ArrayBuffer[Long]()
      val mem = MemoryStream[(Long, Array[Byte])]
      def run(): Unit = runToCompletion(Streaming.streamImageDedupAdmit(
        mem.toDF().toDF("doc_id", "blob"), path, ckpt) { df =>
        admitted ++= df.select(col("doc_id")).collect().map(_.getLong(0))
      })
      batches.foreach { bt => mem.addData(bt: _*); run() }
      admitted.toSeq
    }
    // Scenario 1 — the chain arrives tail-first: c before {a, b}. The
    // component's FIRST arrival (c) is the keeper; when a and b arrive
    // together, b chains to c in state, tainting its in-batch cluster
    // {a, b} — the id-ordered keeper (a, which batch mode admits) loses.
    val s1 = runStream(Seq(Seq(2L -> c, 4L -> far), Seq(1L -> a, 3L -> b, 5L -> far)))
    assert(s1.toSet == Set(2L, 4L), s"tail-first arrival: $s1")
    // Scenario 2 — the DOCUMENTED degradation, pinned precisely: the two
    // chain ENDS (a, c — not near: hamming 10 > maxHamming 6) arrive
    // before the bridge b. Both ends are admitted; the late bridge rejects
    // via both — so one component keeps TWO docs. This is exactly the
    // first-arrival-wins contract: admission depends on arrival order, and
    // the surviving guarantees are the invariants below, not one-per-
    // component.
    val s2 = runStream(Seq(Seq(1L -> a, 2L -> c), Seq(3L -> b)))
    assert(s2.toSet == Set(1L, 2L), s"split-ends arrival: $s2")
    // Surviving invariants, checked on both orders:
    // (1) every full-corpus component has ≥ 1 admitted member (a
    //     component's first-arriving batch has no state to taint it);
    // (2) no two admitted docs are DIRECT banded matches (within a batch
    //     they sit in different clusters; across batches the later would
    //     have been state-tainted);
    // (3) rerun from scratch with the same arrival order is deterministic.
    def h(x: Array[Byte]) = graft.operators.Multimodal.dhash56(
      graft.operators.Multimodal.grayGrid(x))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val blobs = Map(1L -> a, 2L -> c, 3L -> b, 4L -> far, 5L -> far)
    for (adm <- Seq(s1, s2)) {
      val comps = Seq(Set(1L, 2L, 3L), Set(4L, 5L)).filter(_.subsetOf(blobs.keySet
        .filter(k => adm == s1 || k <= 3L)))
      comps.foreach(cset => assert(cset.intersect(adm.toSet).nonEmpty,
        s"component $cset lost every member: $adm"))
      for (x <- adm; y <- adm if x < y)
        assert(ham(h(blobs(x)), h(blobs(y))) > 6,
          s"admitted pair ($x, $y) is a direct near-match")
    }
    val s2again = runStream(Seq(Seq(1L -> a, 2L -> c), Seq(3L -> b)))
    assert(s2again == s2, "same arrival order, different admissions")
  }

  test("streamAudioDedupAdmit under UNORDERED arrival: first-arrival-wins pinned on a spliced-content chain") {
    implicit val sqlCtx = spark.sqlContext
    val M = graft.operators.Multimodal
    // a pure-delay chain is a CLIQUE (the landmark key join is
    // shift-invariant at any offset), so the image gate's bridge topology
    // needs CONTENT structure here: Y splices X's programme before Z's —
    // X↔Y vote on the shared prefix, Y↔Z on the shared suffix, X↔Z share
    // nothing. Programmes are the ScaleSmoke sparse-spike constellation
    // (splitmix64-hashed — cross-programme chance votes are zero).
    def spk(g: Long): Seq[Int] = (0 until 1024).map { i =>
      var z = g * 4096L + i / 8 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      val x = (z ^ (z >>> 31)) >>> 33
      val amp =
        if (x % 5 < 2)
          (512.0 * math.pow(2.0, 4.5 * ((x >>> 8) % 4096L).toDouble / 4096.0)).toInt
        else 150
      if (i % 2 == 0) amp else -amp
    }
    def wav(samples: Seq[Int]): Array[Byte] = {
      val data = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(s => data.putShort(s.toShort))
      M.pcmWavHeader(8000, 1, samples.length * 2L) ++ data.array()
    }
    val xBlob = wav(spk(1))
    val yBlob = wav(spk(1) ++ spk(2))
    val zBlob = wav(spk(2))
    // fixture sanity: the chain is X—Y—Z with NO X—Z edge
    val pairs = graft.operators.Dedup.audioLandmarkNear(spark,
        Seq((1L, xBlob), (2L, yBlob), (3L, zBlob)).toDF("doc_id", "blob"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), s"chain fixture drifted: $pairs")

    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    def runStream(batches: Seq[Seq[(Long, Array[Byte])]]): Seq[Long] = {
      val path = Files.createTempDirectory("graft-saud-uo-").toString + "/out"
      val ckpt = Files.createTempDirectory("graft-saud-uo-ckpt-").toString
      val admitted = scala.collection.mutable.ArrayBuffer[Long]()
      val mem = MemoryStream[(Long, Array[Byte])]
      def run(): Unit = runToCompletion(Streaming.streamAudioDedupAdmit(
        mem.toDF().toDF("doc_id", "blob"), path, ckpt) { df =>
        admitted ++= df.select(col("doc_id")).collect().map(_.getLong(0))
      })
      batches.foreach { bt => mem.addData(bt: _*); run() }
      admitted.toSeq
    }
    // tail-first: Z (id 3) seeds state; {X, Y} arrive — Y chains to Z, so
    // the in-batch cluster {X, Y} rejects wholesale: the id-ordered keeper
    // X (which batch mode admits) loses to first arrival
    val s1 = runStream(Seq(Seq(3L -> zBlob), Seq(1L -> xBlob, 2L -> yBlob)))
    assert(s1.toSet == Set(3L), s"tail-first arrival: $s1")
    // split-ends: X and Z (no edge) both admit; the late bridge Y rejects
    // via both — one component keeps TWO docs, exactly the documented
    // first-arrival-wins degradation
    val s2 = runStream(Seq(Seq(1L -> xBlob, 3L -> zBlob), Seq(2L -> yBlob)))
    assert(s2.toSet == Set(1L, 3L), s"split-ends arrival: $s2")
    // surviving invariants on both orders: ≥1 admitted member per
    // component, and no two admitted docs are direct landmark matches
    for (adm <- Seq(s1, s2)) {
      assert(adm.nonEmpty, "component lost every member")
      for (x <- adm; y <- adm if x < y)
        assert(!pairs.contains((x, y)), s"admitted pair ($x, $y) is a direct match")
    }
    // same arrival order ⇒ same admissions
    assert(runStream(Seq(Seq(1L -> xBlob, 3L -> zBlob), Seq(2L -> yBlob))) == s2,
      "same arrival order, different admissions")
  }

  test("streamIngestDeduped: crash between parquet append and checkpoint commit — replay admits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val db = GraftDatabase.make(spark, Files.createTempDirectory("graft-crash-").toString)
    db.addCollection(db.makeCollection("live", "local/hash-8"))
    val ckpt = Files.createTempDirectory("graft-crash-ckpt-").toString

    // stop() signals the stream thread asynchronously; back-to-back
    // restarts on ONE checkpoint must wait for full deregistration or the
    // next start trips the concurrent-checkpoint guard
    def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.awaitTermination(60000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }

    val mem = MemoryStream[(String, String)]
    mem.addData(("a", "first text"), ("b", "second text"))
    runToCompletion(Streaming.streamIngestDeduped(db, "live",
      mem.toDF().toDF("id", "chunk"), "local/hash-8", ckpt))

    mem.addData(("c", "third text"))
    runToCompletion(Streaming.streamIngestDeduped(db, "live",
      mem.toDF().toDF("id", "chunk"), "local/hash-8", ckpt))
    assert(db.records("live").count() == 3)

    // the WORST at-least-once interleaving: batch 1's parquet append is
    // durable but the crash lands before the checkpoint commit marker.
    // Emulate exactly that by deleting commits/1 — offsets/1 survives, so
    // the restarted query replays batch 1's exact data through the sink,
    // and the idempotence claim has to carry the whole batch.
    val commit1 = dropCommit(ckpt, 1)

    runToCompletion(Streaming.streamIngestDeduped(db, "live",
      mem.toDF().toDF("id", "chunk"), "local/hash-8", ckpt))
    val ids = db.records("live").select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("a", "b", "c"), s"replay duplicated records: $ids")

    // and the replayed batch re-committed: another restart stays a no-op
    runToCompletion(Streaming.streamIngestDeduped(db, "live",
      mem.toDF().toDF("id", "chunk"), "local/hash-8", ckpt))
    assert(db.records("live").count() == 3)
    assert(Files.exists(commit1))
  }

  test("streamIngest: micro-batches land in the collection via the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val db = GraftDatabase.make(spark, Files.createTempDirectory("graft-stream-").toString)
    db.addCollection(db.makeCollection("live", "local/hash-8"))

    val mem = MemoryStream[(String, String)]
    mem.addData(("s1", "first streamed chunk"), ("s2", "second streamed chunk"))
    val chunks = mem.toDF().toDF("id", "chunk")

    val q = Streaming.streamIngest(db, "live", chunks, "local/hash-8",
      Files.createTempDirectory("graft-ckpt-").toString)
    try q.awaitTermination(60000) finally q.stop()

    val got = db.records("live").orderBy(col("id")).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("s1", "s2"))
    assert(got.forall(_.getSeq[Double](3).length == 8))
    // embeddings match the batch embedder exactly (same code path)
    val expected = graft.core.Embedders.hashProjection(8)("first streamed chunk".getBytes("UTF-8"))
    assert(got.head.getSeq[Double](3) == expected.toSeq)
  }

  test("streamNearDedupAdmit: in-batch family collapsed, corpus near-dups dropped, gate fails without index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-neargate-").toString
    val refText = "the reference corpus already contains this long boilerplate paragraph body"
    Seq((1L, refText, "en"),
        (2L, "another stored document with completely unrelated wording throughout", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")

    val mem = MemoryStream[(Long, String)]
    val freshA = "genuinely novel content nothing in the corpus resembles even slightly"
    mem.addData(
      (10L, refText + " x"),  // near-dup of stored doc 1 -> dropped at the index gate
      (11L, freshA),          // fresh -> admitted
      (12L, freshA + " y"),   // in-batch near-dup family {11,12} -> 11 keeps
      (13L, "a second novel document sharing no eight character runs with anything"))
    val docs = mem.toDF().toDF("doc_id", "text")

    // FailIfMissing is the production default: no index -> the batch errors
    // instead of silently re-shingling history
    val qFail = Streaming.streamNearDedupAdmit(spark, dir, docs,
      Files.createTempDirectory("graft-neargate-ckpt-").toString)(_ => ())
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try qFail.processAllAvailable() finally qFail.stop()
    }
    assert(err.getMessage.contains("is not built"), err.getMessage)

    // build the index (whole corpus), then the gate admits exactly {11, 13}
    graft.operators.Dedup.ngramNearIncrementalIndexed(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), refBucketMax = 100,
      policy = graft.core.IndexPolicy.BuildIfMissing).collect()
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streaming.streamNearDedupAdmit(spark, dir, docs,
      Files.createTempDirectory("graft-neargate-ckpt-").toString)(
      b => admitted ++= b.select(col("doc_id")).collect().map(_.getLong(0)))
    try q.awaitTermination(120000) finally q.stop()
    assert(admitted.sorted == Seq(11L, 13L), s"admitted: $admitted")
  }

  test("streamSigDedupAdmit: signature-only gate — family collapsed, corpus near-dups dropped") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-siggate-").toString
    val refText = "the reference corpus already contains this long boilerplate paragraph body repeated across many stored documents"
    Seq((1L, refText, "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")

    val mem = MemoryStream[(Long, String)]
    val fresh = "genuinely novel content nothing in the corpus resembles even slightly here today"
    mem.addData(
      (10L, refText + " x"),  // near-dup of stored doc 1 -> dropped at the index gate
      (11L, fresh),           // fresh -> admitted
      (12L, fresh + " y"),    // in-batch near-dup family {11,12} -> 11 keeps
      (13L, "a second totally distinct novel document carrying its own unique wording entirely"))
    val docs = mem.toDF().toDF("doc_id", "text")

    // build the signature index over the whole stored corpus, then admit
    graft.operators.Dedup.minhashNearIncrementalApproxIndexed(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), refBucketMax = 100,
      policy = graft.core.IndexPolicy.BuildIfMissing).collect()
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streaming.streamSigDedupAdmit(spark, dir, docs,
      Files.createTempDirectory("graft-siggate-ckpt-").toString)(
      b => admitted ++= b.select(col("doc_id")).collect().map(_.getLong(0)))
    try q.awaitTermination(120000) finally q.stop()
    assert(admitted.sorted == Seq(11L, 13L), s"admitted: $admitted")
    // the stored footprint really is the signature layout, not shingle sets
    val reg = graft.operators.CatalogOps.indexRegistry(spark, dir)
    val idx = reg.getIndex(graft.operators.Dedup.wordSigIndexName(100, 3))
    assert(idx.params("layout") == "bands+sig")
    val sig = spark.read.parquet(s"${idx.path}/sig")
    assert(sig.columns.toSeq == Seq("doc_id", "sig"))
    assert(sig.select(org.apache.spark.sql.functions.size(col("sig"))).collect()
      .forall(_.getInt(0) == 12))
  }

  test("streamVerbatimDedupAdmit: long quotes refused where the Jaccard gates would admit") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-verbgate-").toString
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val refText = words("ref", 30).mkString(" ")
    Seq((1L, refText, "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")

    val mem = MemoryStream[(Long, String)]
    val a = words("a", 30)
    mem.addData(
      // 20 contiguous corpus tokens inside 40 fresh ones: word-shingle
      // Jaccard vs the stored doc is ~0.25 — under the near gates'
      // thresholds — but the RUN is exactly the quote the verbatim gate
      // exists to refuse
      (10L, (words("ref", 24).drop(4) ++ words("n", 40)).mkString(" ")),
      (11L, a.mkString(" ")),                          // fresh -> admitted
      (12L, (a.take(20) ++ words("b", 20)).mkString(" ")), // in-batch 20-run vs 11
      (13L, words("c", 25).mkString(" ")))             // fresh -> admitted
    val docs = mem.toDF().toDF("doc_id", "text")

    // FailIfMissing is the production default
    val qFail = Streaming.streamVerbatimDedupAdmit(spark, dir, docs,
      Files.createTempDirectory("graft-verbgate-ckpt-").toString)(_ => ())
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try qFail.processAllAvailable() finally qFail.stop()
    }
    assert(err.getMessage.contains("is not built"), err.getMessage)

    graft.operators.Dedup.verbatimIncrementalIndexed(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), refBucketMax = 100,
      policy = graft.core.IndexPolicy.BuildIfMissing).collect()
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streaming.streamVerbatimDedupAdmit(spark, dir, docs,
      Files.createTempDirectory("graft-verbgate-ckpt-").toString)(
      b => admitted ++= b.select(col("doc_id")).collect().map(_.getLong(0)))
    try q.awaitTermination(120000) finally q.stop()
    assert(admitted.sorted == Seq(11L, 13L), s"admitted: $admitted")
    // the quoted doc IS admitted by the n-gram near gate at its default
    // threshold — the device that proves the two gates answer different
    // questions, not the same one twice
    val quoted = Seq((10L, (words("ref", 24).drop(4) ++ words("n", 40)).mkString(" ")))
      .toDF("doc_id", "text")
    assert(graft.operators.Dedup.ngramNearIncremental(quoted,
        Seq((1L, refText)).toDF("doc_id", "text"))
      .collect().forall(_.getBoolean(3)), "near gate should wave the quote through")
  }

  test("streamDecontamAdmit: eval quotes refused at the run rule with attribution; short quotes pass; FailIfMissing honored") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-decogate-").toString
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    // an id whose hash bucket lands in the eval slice (>= 90) plus one
    // train-slice doc — the index must contain ONLY the eval doc
    val evalId = (0L until 300L).find { i =>
      spark.range(i, i + 1).select(
        graft.operators.Sampling.hashBucket(col("id"))).head.getLong(0) >= 90
    }.get
    val evText = words("ev", 30).mkString(" ")
    Seq((evalId, evText, "en"), (0L, words("tr", 30).mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")

    val mem = MemoryStream[(Long, String)]
    mem.addData(
      // 13 contiguous eval tokens inside fresh filler — the rule refuses
      (1000L, (words("x", 10) ++ words("ev", 13) ++ words("y", 10)).mkString(" ")),
      // 6 eval tokens: shares shingles (set overlap would flag) but the
      // 13-token RUN rule admits
      (1001L, (words("x", 10) ++ words("ev", 6) ++ words("z", 10)).mkString(" ")),
      (1002L, words("f", 25).mkString(" ")),  // fresh
      // quoting the TRAIN doc is NOT contamination — the index holds only
      // the eval slice
      (1003L, (words("tr", 20) ++ words("w", 10)).mkString(" ")))
    val docs = mem.toDF().toDF("doc_id", "text")

    val qFail = Streaming.streamDecontamAdmit(spark, dir, docs,
      Files.createTempDirectory("graft-decogate-ckpt-").toString)(_ => ())
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try qFail.processAllAvailable() finally qFail.stop()
    }
    assert(err.getMessage.contains("is not built"), err.getMessage)

    graft.operators.Dedup.decontaminateRunsIndexed(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      policy = graft.core.IndexPolicy.BuildIfMissing).collect()
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val refused = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = Streaming.streamDecontamAdmit(spark, dir, docs,
      Files.createTempDirectory("graft-decogate-ckpt-").toString)(
      b => admitted ++= b.select(col("doc_id")).collect().map(_.getLong(0)),
      r => refused ++= r.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))))
    try q.awaitTermination(120000) finally q.stop()
    assert(admitted.sorted == Seq(1001L, 1002L, 1003L), s"admitted: $admitted")
    // attribution: the 13-token quote measured exactly, one eval hit
    assert(refused.toSeq == Seq((1000L, 13L, 1L)), s"refused: $refused")
  }

  test("streamNearDedupAdmit under RebuildIfStale: rebuild replaces the index and vacuums ONLY its own superseded versions") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-nearvac-").toString
    Seq((1L, "the stored corpus document with some long boilerplate paragraph body", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")

    val reg = graft.operators.CatalogOps.indexRegistry(spark, dir)
    val gateIdx = graft.operators.Dedup.ngramBandIndexName(100, 8)
    // build the gate's index v0, plus an UNRELATED index with a superseded
    // version — the gate's vacuum must not touch the bystander's retained dir
    graft.operators.Dedup.ngramNearIncrementalIndexed(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), refBucketMax = 100,
      policy = graft.core.IndexPolicy.BuildIfMissing).collect()
    def build(out: String): Unit =
      Files.createDirectories(java.nio.file.Paths.get(out))
    reg.buildIndex("bystander", "k", s"$dir/documents.parquet", Map.empty)(build)
    reg.buildIndex("bystander", "k", s"$dir/documents.parquet", Map.empty)(build)

    def versions(name: String): Int = {
      val p = java.nio.file.Paths.get(
        reg.getIndex(name).path).getParent
      java.nio.file.Files.list(p).count().toInt
    }
    assert(versions("bystander") == 2)

    // corpus moves -> the per-batch RebuildIfStale resolve replaces the
    // gate index; the gate then GCs its own superseded version
    Seq((1L, "the stored corpus document with some long boilerplate paragraph body", "en"),
        (2L, "a brand new corpus document that changes the source fingerprint", "en"))
      .toDF("doc_id", "text", "lang").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val mem = MemoryStream[(Long, String)]
    mem.addData((10L, "an incoming document sharing no eight character runs with anything"))
    val q = Streaming.streamNearDedupAdmit(spark, dir, mem.toDF().toDF("doc_id", "text"),
      Files.createTempDirectory("graft-nearvac-ckpt-").toString,
      policy = graft.core.IndexPolicy.RebuildIfStale)(_.collect())
    try q.awaitTermination(120000) finally q.stop()

    val reg2 = graft.operators.CatalogOps.indexRegistry(spark, dir)
    assert(reg2.getIndex(gateIdx).version == 1, "expected a rebuild")
    def versions2(name: String): Int = {
      val p = java.nio.file.Paths.get(reg2.getIndex(name).path).getParent
      java.nio.file.Files.list(p).count().toInt
    }
    assert(versions2(gateIdx) == 1, "gate index superseded version not vacuumed")
    assert(versions2("bystander") == 2, "bystander's retained version was deleted")
    reg2.dropIndex("bystander")
  }

  test("streamQualityAdmit: admissions equal the batch audit; rejects carry the failing arm; replay identical") {
    implicit val sqlCtx = spark.sqlContext
    // >= 100 tokens (length factor 1.0), half stopwords, all n-grams
    // distinct (repetition clean), no punctuation
    val good = (1 to 60).map(i => s"the word$i of thing$i").mkString(" ")
    val rows = Seq(
      (1L, good, "en"),                                      // clean -> kept
      (2L, "x", "en"),                                       // too short -> quality arm
      (3L, Seq.fill(40)("spam").mkString(" "), "en"),        // repetition arm
      (4L, good + " contact alice@example.com today", "en"), // PII arm
      (5L, good + " second copy body", "en"),                // dup pair {5,6}
      (6L, good + " second copy body", "en"))
    val batchTruth = graft.operators.CorpusFilter.decisions(
      rows.toDF("doc_id", "text", "lang")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap

    val mem = MemoryStream[(Long, String, String)]
    mem.addData(rows: _*)
    val docs = mem.toDF().toDF("doc_id", "text", "lang")
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rejected = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Boolean, Boolean, Boolean)]
    val q = Streaming.streamQualityAdmit(docs,
      Files.createTempDirectory("graft-qgate-ckpt-").toString)(
      b => admitted ++= b.select(col("doc_id")).collect().map(_.getLong(0)),
      r => rejected ++= r.collect().map(x =>
        (x.getLong(0), x.getBoolean(1), x.getBoolean(2), x.getBoolean(3), x.getBoolean(4))))
    try q.awaitTermination(120000) finally q.stop()

    // the stream IS the batch audit (stateless-per-batch contract)
    assert(admitted.toSet == batchTruth.filter(_._2).keySet)
    assert(admitted.contains(1L) && !admitted.contains(4L))
    val rej = rejected.map(r => r._1 -> r).toMap
    assert(rej.keySet == batchTruth.filterNot(_._2).keySet)
    assert(!rej(2L)._2, "2 fails the quality arm")
    assert(!rej(3L)._3, "3 fails the repetition arm")
    assert(!rej(4L)._4, "4 fails the PII arm")
    assert(rej.contains(5L) ^ rej.contains(6L), "exactly one of the dup pair is rejected")
    assert(!rejected.find(r => r._1 == 5L || r._1 == 6L).get._5, "dup loser fails the dedup arm")

    // at-least-once replay: a fresh stream re-sending the same batch
    // admits exactly the same set (stateless gate + pure arms)
    val mem2 = MemoryStream[(Long, String, String)]
    mem2.addData(rows: _*)
    val admitted2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = Streaming.streamQualityAdmit(mem2.toDF().toDF("doc_id", "text", "lang"),
      Files.createTempDirectory("graft-qgate-ckpt-").toString)(
      b => admitted2 ++= b.select(col("doc_id")).collect().map(_.getLong(0)))
    try q2.awaitTermination(120000) finally q2.stop()
    assert(admitted2.sorted == admitted.sorted)
  }

  test("distinct monitor: maintained HLL estimate equals the batch answer; redelivery is a no-op") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val regs = Files.createTempDirectory("graft-hllmon-").toString + "/regs"
    val batch1 = (0 until 400).map(i => (i.toLong, s"alpha$i beta${i % 50} gamma"))
    val batch2 = (400 until 800).map(i => (i.toLong, s"alpha$i delta${i % 25}"))

    val mem = MemoryStream[(Long, String)]
    mem.addData(batch1: _*)
    mem.addData(batch2: _*)
    val q = Streaming.streamDistinctMonitor(mem.toDF().toDF("doc_id", "text"),
      regs, Files.createTempDirectory("graft-hllmon-ckpt-").toString)
    try q.awaitTermination(120000) finally q.stop()

    // the maintained registers ARE the batch sketch over everything
    // streamed: estimates agree exactly (max-merge associativity)
    val batchEst = graft.operators.TextAnalysis.tokenHll(
      (batch1 ++ batch2).toDF("doc_id", "text")).collect().head.getDouble(1)
    val streamEst = Streaming.readDistinctEstimate(spark, regs).get
    assert(streamEst == batchEst, s"stream $streamEst vs batch $batchEst")

    // max is idempotent: re-sending the whole history cannot move it
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData((batch1 ++ batch2): _*)
    val q2 = Streaming.streamDistinctMonitor(mem2.toDF().toDF("doc_id", "text"),
      regs, Files.createTempDirectory("graft-hllmon-ckpt-").toString)
    try q2.awaitTermination(120000) finally q2.stop()
    assert(Streaming.readDistinctEstimate(spark, regs).get == batchEst)

    // precision is part of the stored state: estimating a p=10 store at
    // p=12 must refuse, not silently densify the wrong grid
    val err = intercept[graft.core.GraftException] {
      Streaming.readDistinctEstimate(spark, regs, p = 12)
    }
    assert(err.getMessage.contains("built with p=10"), err.getMessage)

    // crash window: losing the _latest marker must fall back to the
    // highest committed version (the reservoir's written-last contract)
    val root = new org.apache.hadoop.fs.Path(regs)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root, "_latest"), false)
    assert(Streaming.readDistinctEstimate(spark, regs).get == batchEst)
  }

  test("weighted reservoir sink: maintained sample equals the batch answer; redelivery is a no-op") {
    import java.nio.file.Files
    val res = Files.createTempDirectory("graft-reservoir-").toString + "/r"
    val all = (0L until 120L).map(i => (i, i % 11 * 97 + 1))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    mem.addData(all.take(60): _*)
    mem.addData(all.drop(60): _*)
    val q = Streaming.streamWeightedReservoir(mem.toDF().toDF("doc_id", "n_chars"),
      k = 20, res, Files.createTempDirectory("graft-reservoir-ckpt-").toString)
    try q.awaitTermination(120000) finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(org.apache.spark.sql.functions.desc("key"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val direct = rows(graft.operators.Sampling.weightedSample(
      all.toDF("doc_id", "n_chars"), k = 20))
    assert(rows(Streaming.readReservoir(spark, res).get) == direct)

    // at-least-once redelivery: a fresh stream re-sending everything must
    // leave the reservoir exactly where it was (dedup by id + pure keys)
    val mem2 = MemoryStream[(Long, Long)]
    mem2.addData(all: _*)
    val q2 = Streaming.streamWeightedReservoir(mem2.toDF().toDF("doc_id", "n_chars"),
      k = 20, res, Files.createTempDirectory("graft-reservoir-ckpt-").toString)
    try q2.awaitTermination(120000) finally q2.stop()
    assert(rows(Streaming.readReservoir(spark, res).get) == direct)

    // crash window: a lost _latest marker falls back to the highest
    // committed version
    val fs = new org.apache.hadoop.fs.Path(res)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(res, "_latest"), false)
    assert(rows(Streaming.readReservoir(spark, res).get) == direct)
  }

  test("retainVersions > 1: a reader lagging one commit keeps a live version across the next") {
    import java.nio.file.Files
    val res = Files.createTempDirectory("graft-retain-").toString + "/r"
    val all = (0L until 90L).map(i => (i, i % 13 * 53 + 1))
    implicit val sqlCtx = spark.sqlContext

    val ckpt = Files.createTempDirectory("graft-retain-ckpt-").toString
    val mem = MemoryStream[(Long, Long)]
    def runBatch(data: Seq[(Long, Long)], retain: Int): Unit = {
      mem.addData(data: _*)
      val q = Streaming.streamWeightedReservoir(mem.toDF().toDF("doc_id", "n_chars"),
        k = 15, res, ckpt, retainVersions = retain)
      try q.awaitTermination(120000) finally q.stop()
      val t0 = System.currentTimeMillis()
      while (spark.streams.active.nonEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
    }
    runBatch(all.take(30), retain = 2)
    // the lagging reader resolves NOW (version v0) ...
    val lagging = Streaming.readReservoir(spark, res).get
    val snapshot = lagging.collect().map(_.toSeq.toVector).toSeq.sortBy(_.toString)
    // ... then the writer commits TWO more micro-batches under retain=2:
    // v0 survives the first (within the retained window) — the lagging
    // reader's plan must still re-collect identical rows from live files
    runBatch(all.slice(30, 60), retain = 2)
    assert(lagging.collect().map(_.toSeq.toVector).toSeq.sortBy(_.toString) == snapshot,
      "reader one commit behind lost its version despite retainVersions = 2")
    // the third commit pushes v0 out of the retained window: the default
    // retain=1 writer would have deleted it one commit earlier — pin that
    // the window is exactly `retain` superseded versions, no more
    runBatch(all.drop(60), retain = 2)
    val root = new org.apache.hadoop.fs.Path(res)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("v")).sorted.toSeq
    assert(versions.length == 3, // latest + 2 retained predecessors
      s"expected latest + 2 retained, got $versions")
    // and the current reader still resolves the freshest state
    val direct = graft.operators.Sampling.weightedSample(
      all.toDF("doc_id", "n_chars"), k = 15)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.toString)
    assert(Streaming.readReservoir(spark, res).get
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.toString) == direct)
  }

  test("streamIvfIngest: frozen-centroid assignment into a cell-partitioned delta") {
    implicit val sqlCtx = spark.sqlContext
    // Two frozen unit-axis centroids — assignment is then readable by eye:
    // a vector near e1 lands in cell 1, near e2 in cell 2.
    val cents: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val mem = MemoryStream[(Long, Seq[Double], Int)]
    val emb = mem.toDF().toDF("vec_id", "embedding", "label")
    val delta = Files.createTempDirectory("graft-ivf-delta-").toString
    val q = Streaming.streamIvfIngest(emb, cents, delta,
      Files.createTempDirectory("graft-ivf-delta-ckpt-").toString)
    try {
      mem.addData((10L, Seq(0.9, 0.1), 0), (11L, Seq(0.2, 0.8), 1))
      q.processAllAvailable()
      mem.addData((12L, Seq(-0.7, -0.6), 0)) // ties/negatives: argmax cosine
      q.processAllAvailable()
    } finally q.stop()

    // The delta reads back with the SAME cells the batch-mode assignment
    // expression produces — the one-assignment-site contract.
    val got = spark.read.parquet(delta)
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expect = graft.operators.Ann.assignCells(
        Seq((10L, Seq(0.9, 0.1), 0), (11L, Seq(0.2, 0.8), 1), (12L, Seq(-0.7, -0.6), 0))
          .toDF("vec_id", "embedding", "label"), cents)
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == expect, s"$got vs $expect")
    assert(got.values.toSet == Set(1L, 2L)) // both cells materialized

    // cell is a PARTITION column: a probe's cell filter must prune at the
    // file-source level, not post-scan
    val probePlan = spark.read.parquet(delta).where(col("cell") === 1)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters: [isnotnull(cell"), probePlan)

    // exactly-once surface: the file sink's transaction log exists, so a
    // replayed micro-batch cannot double-appear to log-aware readers
    assert(new java.io.File(s"$delta/_spark_metadata").exists())
  }
}
