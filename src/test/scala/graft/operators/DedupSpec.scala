package graft.operators

import graft.SparkSpec
import graft.core.Tables

/** Dedup semantics + plan-shape guards. The plan assertions are the scale
  * contract: candidate generation must be an equi-join on bucket keys —
  * never a cartesian/broadcast-nested-loop product — or the operator
  * degenerates to all-pairs at 100 TB.
  */
class DedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("exact dedup: one keeper per fingerprint group, all docs covered") {
    val docs = Tables.documents(spark, dir)
    val res = Dedup.exact(docs).collect()
    assert(res.length == docs.count())
    val byFp = res.groupBy(_.getString(1))
    byFp.values.foreach { g =>
      assert(g.count(_.getBoolean(2)) == 1, "exactly one keeper per group")
      val keeper = g.find(_.getBoolean(2)).get
      assert(keeper.getLong(0) == g.map(_.getLong(0)).min, "keeper is min doc_id")
    }
  }

  test("incremental dedup: corpus matches dropped, in-batch repeats keep first, fresh kept") {
    import spark.implicits._
    val reference = Seq((1L, "known page"), (2L, "other known page"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "known page"),   // re-fetch of a reference doc -> drop
      (11L, "fresh page"),   // new content -> keep
      (12L, "repeat page"),  // first in-batch occurrence -> keep
      (13L, "repeat page")   // in-batch repeat -> drop
    ).toDF("doc_id", "text")
    val out = Dedup.exactIncremental(incoming, reference).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(out(10L) == ((true, true, false)))
    assert(out(11L) == ((false, true, true)))
    assert(out(12L) == ((false, true, true)))
    assert(out(13L) == ((false, false, false)))
    // admitting the batch then re-running admits nothing new (idempotence)
    val admitted = incoming.where(org.apache.spark.sql.functions.col("doc_id").isin(
      out.collect { case (id, (_, _, true)) => id }.toSeq: _*))
    val again = Dedup.exactIncremental(incoming, reference.unionByName(admitted))
      .collect().map(_.getBoolean(4))
    assert(!again.exists(identity), "second pass must admit nothing")
  }

  test("incremental near-dedup: near-matches flagged, fresh and short docs admitted") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val reference = Seq((1L, base)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base + " x"),                                      // near-dup of ref -> drop
      (11L, "entirely different content with no shared substrings at all whatsoever"),
      (12L, "tiny")                                            // < n chars: no shingles, admitted
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNearIncremental(incoming, reference).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out.keySet == Set(10L, 11L, 12L)) // every incoming doc reported
    assert(out(10L)._1 == 1L && out(10L)._2 > 0.9 && !out(10L)._3)
    assert(out(11L) == ((0L, 0.0, true)))
    assert(out(12L) == ((0L, 0.0, true)))
    // plan: candidates via band-key equi-join, never all-pairs
    val plan = physicalPlan(Dedup.ngramNearIncremental(incoming, reference))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"all-pairs blowup:\n$plan")
  }

  test("minhash near-dup: candidates via equi-join, no cartesian product") {
    val df = Dedup.minhashNear(Tables.documents(spark, dir))
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
    val rows = df.collect()
    // pairs are ordered, distinct, and above threshold
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
    assert(rows.forall(_.getDouble(2) >= 0.3))
  }

  test("minhashShingled keeps docs whose token count only clears n with empties") {
    // "a  b" splits (keeping empties) to ["a","","b"] — 3 tokens, so a
    // 3-shingle exists — but only 2 NON-empty tokens. The precondition must
    // use the keeping-empties count (Hash56.wordShingles' m = spaces+1 gate)
    // or this doc is silently excluded while the oracle still shingles it.
    import spark.implicits._
    val df = Seq((1L, "a  b"), (2L, "x y"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashShingled(df, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).length).toMap
    assert(got.keySet == Set(1L, 3L), s"kept ${got.keySet}") // 2L: 2 tokens < 3
    assert(got(1L) == 1 && got(3L) == 2, got.toString)
  }

  test("minhash near-dup: verified jaccard matches a direct computation") {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashNear(docs).collect()
    assert(pairs.nonEmpty, "expected some near-dup candidates in testdata")
    // recompute jaccard for one reported pair directly from the texts
    val r = pairs.head
    val texts = docs.select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    def shingles(t: String): Set[String] =
      t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (sa, sb) = (shingles(texts(r.getLong(0))), shingles(texts(r.getLong(1))))
    val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
    assert(math.abs(r.getDouble(2) - expected) < 1e-6)
  }

  test("simhash near-dup: equi-join on band keys, verified cosine above threshold") {
    val df = Dedup.simhashNear(Tables.embeddings(spark, dir))
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.3))
  }

  test("semantic dedup: verdict per vector, dup_of is lowest same-cell neighbor over tau") {
    import graft.functions.VectorFunctions.cosine_sim
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, dir)
    val df = Dedup.semanticDedup(e, nCells = 16, tau = 0.35)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
    val rows = df.collect()
    assert(rows.length == e.count(), "one verdict row per vector")
    // keep XOR dup_of: keepers have no dup_of, drops name a lower id
    rows.foreach { r =>
      if (r.getBoolean(2)) assert(r.isNullAt(3))
      else assert(r.getLong(3) < r.getLong(0), "dup_of must be a lower id")
    }
    // cross-check each dropped vector against a direct within-cell scan
    val cellOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0
      else BigDecimal(d / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    rows.filterNot(_.getBoolean(2)).foreach { r =>
      val id = r.getLong(0)
      val expect = cellOf.keys.filter(o => o < id && cellOf(o) == cellOf(id))
        .filter(o => cos(vecs(o), vecs(id)) >= 0.35)
      assert(expect.nonEmpty && expect.min == r.getLong(3),
        s"dup_of mismatch for $id: got ${r.getLong(3)}, expect ${expect.toSeq.sorted}")
    }
    // and keepers genuinely have no qualifying lower-id neighbor
    rows.filter(_.getBoolean(2)).foreach { r =>
      val id = r.getLong(0)
      assert(!cellOf.keys.exists(o => o < id && cellOf(o) == cellOf(id) &&
        cos(vecs(o), vecs(id)) >= 0.35), s"keeper $id has a qualifying neighbor")
    }
  }

  test("landmarkKeyAudit: est_candidates is the key self-join's pre-cut row count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 docs, two keys: key (5,7,2) holds 3 rows, key (4,7,1) holds 2
    val lm = Seq(
      (1L, 5, 7, 0, 2, 0, 10), (2L, 5, 7, 0, 2, 0, 11), (3L, 5, 7, 0, 2, 0, 12),
      (1L, 4, 7, 0, 1, 0, 20), (3L, 4, 7, 0, 1, 0, 21)
    ).toDF("doc_id", "la", "lb", "lc", "dt", "dt2", "ta")
    val r = Dedup.landmarkKeyAudit(lm).collect().head
    assert(r.getLong(0) == 5L, "n_landmarks")
    assert(r.getLong(1) == 2L, "n_keys")
    assert(r.getLong(2) == 3L, "max_bucket")
    assert(math.abs(r.getDouble(3) - 2.5) < 1e-9, "mean_bucket")
    // double (exact below 2^53): the decimal-squared sum can't ANSI-throw
    // on a saturated bucket — the regime the audit exists to diagnose
    assert(r.getDouble(4) == 13.0, "est_candidates = 3^2 + 2^2")
    // and 13 is EXACTLY the self-join row count before the a < b cut
    val j = lm.as("a").join(lm.as("b"), Seq("la", "lb", "lc", "dt", "dt2")).count()
    assert(j == 13L)
  }

  test("audioLandmarkNearAuto: saturation fires the triple branch, headroom keeps pairs") {
    import org.apache.spark.sql.functions.{col, concat, length, lit, octet_length}
    val header = graft.operators.Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL)
    val base = Tables.documents(spark, dir)
      .where(octet_length(col("text")) === length(col("text")) &&
        Sampling.hashBucket(col("doc_id")) < 20)
      .select(col("doc_id"), concat(lit(header), col("text").cast("binary")).as("blob"))
    // both sides of the decision, driven by the threshold lever (the
    // default threshold's behavior on a saturated corpus is pinned by the
    // sf0.01 oracle, whose shift-twin corpus measures mean bucket 18.4):
    // a floor threshold fires triples, a ceiling keeps pairs — each must
    // be EXACTLY the explicit-keyPeaks output
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val autoLo = rows(Dedup.audioLandmarkNearAuto(spark, base, maxBytes = 512,
      meanBucketMax = 0.5))
    val k3 = rows(Dedup.audioLandmarkNear(spark, base, maxBytes = 512, keyPeaks = 3))
    assert(autoLo == k3, "saturated decision must mine with triple landmarks")
    val autoHi = rows(Dedup.audioLandmarkNearAuto(spark, base, maxBytes = 512,
      meanBucketMax = 1e9))
    val k2 = rows(Dedup.audioLandmarkNear(spark, base, maxBytes = 512))
    assert(autoHi == k2, "unsaturated decision must mine with pair landmarks")
    assert(autoLo != autoHi, "the two branches genuinely differ on this corpus")
  }

  test("audioDedupAuto: treatment form self-dials keyPeaks, both branches ≡ explicit") {
    import org.apache.spark.sql.functions.{col, concat, length, lit, octet_length}
    val header = graft.operators.Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL)
    val zeros = Array.fill[Byte](24)(0)
    // the shift-twin corpus (the audio_dedup device): each doc plus its
    // 12-sample-delayed twin — distinct envelopes, so reps ≈ all docs
    val base = Tables.documents(spark, dir)
      .where(octet_length(col("text")) === length(col("text")) &&
        Sampling.hashBucket(col("doc_id")) < 20)
    val corpus = base
      .select(col("doc_id"), concat(lit(header), col("text").cast("binary")).as("blob"))
      .unionByName(base.select((col("doc_id") + lit(100000L)).as("doc_id"),
        concat(lit(header), lit(zeros), col("text").cast("binary")).as("blob")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val autoLo = rows(Dedup.audioDedupAuto(spark, corpus, maxBytes = 512,
      meanBucketMax = 0.5))
    assert(autoLo == rows(Dedup.audioDedup(spark, corpus, maxBytes = 512,
      keyPeaks = 3)), "saturated decision must mine with triple landmarks")
    val autoHi = rows(Dedup.audioDedupAuto(spark, corpus, maxBytes = 512,
      meanBucketMax = 1e9))
    assert(autoHi == rows(Dedup.audioDedup(spark, corpus, maxBytes = 512)),
      "unsaturated decision must mine with pair landmarks")
  }

  test("dedupGroups: reliable checkpointDir reproduces the localCheckpoint labels") {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashNear(docs)
    val local = Dedup.dedupGroups(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    try {
      val reliable = Dedup.dedupGroups(docs, pairs, checkpointDir = Some(ckDir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local, "reliable-checkpoint labels must be identical")
      // the opt-in genuinely wrote recoverable state to the FS
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .anyMatch(p => java.nio.file.Files.isRegularFile(p))
      assert(wrote, "reliable checkpoint must materialize files under checkpointDir")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckDir))
    }
  }

  test("dedupGroupsStar: matches HashToMin on real pairs; converges on the chain that defeats it") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashNear(docs)
    val viaHash = Dedup.dedupGroups(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStar = Dedup.dedupGroupsStar(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaHash, "star contraction must land the same components")

    // the motivating case: a 60-hop chain. HashToMin moves the min one hop
    // per round, so the default 20-round budget must reject it...
    val n = 60
    val chainDocs = (0 until n).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    val chainPairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a_id", "b_id")
    intercept[graft.core.GraftException] {
      Dedup.dedupGroups(chainDocs, chainPairs).collect()
    }
    // ...while star alternation contracts diameter geometrically and labels
    // every node with the chain min well inside a log-scale round budget
    val star = Dedup.dedupGroupsStar(chainDocs, chainPairs, maxIters = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.values.forall(_ == 0L), "every chain node joins component 0")
    assert(star.size == n)
  }

  test("dedupGroupsStar: generated random graphs — labels equal a driver union-find and HashToMin") {
    import spark.implicits._
    import org.scalacheck.Gen
    // deterministic scalacheck sample: a batch of random edge sets over
    // small node ranges, incl. chains (the star form's motivating shape)
    val edgeGen = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(1, 40)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es.map { case (a, b) => (a.toLong, b.toLong) }.filter(t => t._1 != t._2))
    val chain = (30, (0 until 29).map(i => (i.toLong, i + 1L)).toList)
    val cases = chain :: Gen.listOfN(6, edgeGen).sample.get.filter(_._2.nonEmpty)
    cases.zipWithIndex.foreach { case ((n, es), i) =>
      val docs = (0 until n).map(_.toLong).toDF("doc_id")
      val pairs = es.toDF("a_id", "b_id")
      // reference: driver-side union-find with min-root labels
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(x => x.toLong -> find(x).toLong).toMap
      val star = Dedup.dedupGroupsStar(docs, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == want, s"case $i: star vs union-find, edges=$es")
      val hash = Dedup.dedupGroups(docs, pairs, maxIters = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hash == want, s"case $i: hashToMin vs union-find, edges=$es")
    }
  }

  test("semanticDedupSplit: no hot cells == exact form; hot cells pair within sub-buckets") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, dir)
    // maxCell above any cell population -> every sub-key is empty and the
    // verdicts are EXACTLY semanticDedup's (the split column all-false)
    val wide = Dedup.semanticDedupSplit(e, nCells = 16, tau = 0.35,
      maxCell = Long.MaxValue).collect()
    assert(wide.forall(!_.getBoolean(2)), "no cell may split under an infinite cap")
    val exact = Dedup.semanticDedup(e, nCells = 16, tau = 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    val wideT = wide.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3),
      if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(wideT.toSeq == exact.toSeq, "infinite cap must reproduce the exact form")

    // a cap that genuinely splits: every verdict still one row per vector,
    // keepers/drops consistent, and every drop's dup_of shares its cell AND
    // (when the cell split) its simhash sub-bucket
    val df = Dedup.semanticDedupSplit(e, nCells = 16, tau = 0.35, maxCell = 24)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
    val rows = df.collect()
    assert(rows.length == e.count(), "one verdict row per vector")
    assert(rows.exists(_.getBoolean(2)), "cap 24 must split at least one cell")
    // a split-cell drop can only name a dup_of from the same sub-bucket, so
    // dup_of must itself sit in the same (cell, bits) bucket
    val bits = e.select(col("vec_id"),
        concat_ws("", graft.functions.LshFunctions.simhash_bits(col("embedding"), 8, 64)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    rows.filterNot(_.getBoolean(3)).foreach { r =>
      val d = r.getLong(4)
      assert(byId(d).getLong(1) == r.getLong(1), "dup_of must share the cell")
      if (r.getBoolean(2)) assert(bits(d) == bits(r.getLong(0)),
        s"split-cell drop ${r.getLong(0)} must share the sub-bucket with $d")
    }
    // identical vectors always collapse regardless of the split: vector
    // pairs with equal embeddings share cell and simhash by construction
    val dupPairs = e.as("x").join(e.as("y"),
        col("x.vec_id") < col("y.vec_id") &&
          col("x.embedding") === col("y.embedding"))
      .select(col("y.vec_id")).collect().map(_.getLong(0)).toSet
    dupPairs.foreach { id =>
      assert(!byId(id).getBoolean(3), s"identical vector $id must be dropped")
    }
  }

  test("semanticIncremental: corpus matches dropped, in-batch repeats keep first, fresh kept; re-admission idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def basis(i: Int, scale: Double): Seq[Double] =
      Seq.tabulate(64)(j => if (j == i) scale else 0.0)
    // reference: 4 orthogonal directions (ids 0..3 = the centroid seeds)
    val reference = (0 until 4).map(i => (i.toLong, basis(i, 1.0)))
      .toDF("vec_id", "embedding")
    val incoming = Seq(
      (10L, basis(0, 2.0)),   // scaled copy of ref dir 0 -> corpus hit
      (11L, basis(1, -1.0)),  // NEGATED dir 1: cosine -1 vs ref -> fresh
      (12L, basis(2, -1.0)),  // negated dir 2 -> fresh, first in batch
      (13L, basis(2, -3.0))   // same negated dir -> in-batch repeat of 12
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticIncremental(incoming, reference, nCells = 4, tau = 0.4)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(out(10L) == ((true, false, false)), "scaled ref copy must be a corpus hit")
    assert(out(11L) == ((false, false, true)), "negated direction is fresh")
    assert(out(12L) == ((false, false, true)), "first in-batch occurrence kept")
    assert(out(13L) == ((false, true, false)), "in-batch repeat dropped")
    // admitting the keepers then re-running the SAME batch admits nothing
    // new: every previously-admitted vector now corpus-matches itself
    val admitted = incoming.where(col("vec_id").isin(
      out.collect { case (id, (_, _, true)) => id }.toSeq: _*))
    val again = Dedup.semanticIncremental(incoming,
        reference.unionByName(admitted), nCells = 4, tau = 0.4)
      .collect().map(_.getBoolean(4))
    assert(!again.exists(identity), "second pass must admit nothing")
  }

  test("semanticDedup2: two-level verdicts consistent with its own fine assignment") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, dir)
    val df = Dedup.semanticDedup2(e, nFine = 16, nCoarse = 4, tau = 0.35)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
    val rows = df.collect()
    assert(rows.length == e.count(), "one verdict row per vector")
    val cellOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0
      else BigDecimal(d / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // within the operator's OWN fine cells, verdicts are the exact min-id
    // rule (no fine cell is hot at this scale, so pairing is exact)
    rows.foreach { r =>
      val id = r.getLong(0)
      val want = cellOf.keys.filter(o => o < id && cellOf(o) == cellOf(id))
        .filter(o => cos(vecs(o), vecs(id)) >= 0.35)
      if (r.getBoolean(3)) assert(want.isEmpty, s"keeper $id has a qualifying neighbor")
      else assert(want.nonEmpty && want.min == r.getLong(4), s"dup_of mismatch for $id")
    }
    // the fine cell ids live in the fine layer's range (seeding contract)
    assert(rows.forall(r => r.getLong(1) >= 1L && r.getLong(1) <= 16L))
  }

  test("semanticDedupSplit subBands: recall is monotone in bands, bounded by the exact form") {
    val e = Tables.embeddings(spark, dir)
    def dropped(subBands: Int): Set[Long] =
      Dedup.semanticDedupSplit(e, nCells = 16, tau = 0.35, maxCell = 24,
          subBands = subBands)
        .collect().filterNot(_.getBoolean(3)).map(_.getLong(0)).toSet
    val d1 = dropped(1); val d2 = dropped(2); val d8 = dropped(8)
    // full-key agreement implies every band agrees: more bands can only
    // compare MORE hot-cell pairs, so the dropped set grows monotonically
    assert(d1.subsetOf(d2), s"subBands=2 lost drops: ${d1 -- d2}")
    assert(d2.subsetOf(d8), s"subBands=8 lost drops: ${d2 -- d8}")
    // and every split-form drop is a genuine exact-form drop (banding only
    // ever MISSES pairs, never invents them)
    val exact = Dedup.semanticDedup(e, nCells = 16, tau = 0.35)
      .collect().filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(d8.subsetOf(exact), s"banded drops outside the exact set: ${d8 -- exact}")
  }

  test("semanticDedupSplit auto cap: equals the explicit 4x-mean cap; skew trips it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, dir)
    // 500 vectors / 16 cells -> auto cap = max(64, 4*500/16) = 125
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))
    val auto = Dedup.semanticDedupSplit(e, maxCell = 0).collect().map(key)
    val explicit = Dedup.semanticDedupSplit(e, maxCell = 125).collect().map(key)
    assert(auto.toSeq == explicit.toSeq, "auto must equal the documented rule's explicit cap")

    // a corpus skewed past 4x its fair share: 16 basis seeds, then 300
    // vectors piled onto seed 5's cell and the rest spread -> only that
    // cell may split under the auto cap (max(64, 4*N/16))
    val dim = 64
    def basis(i: Int, scale: Double): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i) scale else 0.0)
    val rows =
      (0 until 16).map(i => (i.toLong, basis(i, 1.0))) ++            // seeds = centroids
      (0 until 300).map(k => (100L + k, basis(5, 1.0 + k * 1e-7))) ++ // hot cell 6 (1-based)
      (0 until 48).map(k => (1000L + k, basis(k % 16, 2.0 + k * 1e-7)))
    val skewed = rows.toDF("vec_id", "embedding")
    val out = Dedup.semanticDedupSplit(skewed, nCells = 16, tau = 0.9, maxCell = 0)
      .collect()
    val splitCells = out.filter(_.getBoolean(2)).map(_.getLong(1)).toSet
    assert(splitCells.size == 1, s"exactly the hot cell splits, got $splitCells")
    // scaled copies of the same direction are cosine-1 dups: the pile
    // still collapses to its lowest id despite the split
    val pile = out.filter(r => r.getLong(0) >= 100L && r.getLong(0) < 400L)
    assert(pile.forall(!_.getBoolean(3)), "every piled vector is a duplicate")
    assert(pile.forall(r => r.getLong(4) == 5L || r.getLong(4) == 100L),
      "piled vectors collapse toward the cell's lowest ids")
  }

  test("spanDedup: duplicated-shingle fractions match a direct per-doc computation") {
    val docs = Tables.documents(spark, dir)
    val res = Dedup.spanDedup(docs, shingleSize = 5, tau = 0.5).collect()
    assert(res.length == docs.count(), "one audit row per document")
    // direct recomputation over collected text
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val all = texts.map { case (id, t) => id -> shingles(t) }
    val dfCount = all.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    res.foreach { r =>
      val id = r.getLong(0)
      val mine = all(id)
      assert(r.getLong(1) == mine.size, s"n_shingles for $id")
      val dup = mine.count(s => dfCount(s) >= 2)
      assert(r.getLong(2) == dup, s"n_dup for $id: got ${r.getLong(2)}, want $dup")
      val frac = dup.toDouble / math.max(mine.size, 1)
      assert(math.abs(r.getDouble(3) - frac) < 1e-6)
      assert(r.getBoolean(4) == (frac >= 0.5))
    }
  }

  test("ngram near-dup: banded candidates via equi-join, exact jaccard verify") {
    val docs = Tables.documents(spark, dir)
    val df = Dedup.ngramNear(docs)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.5))
    // cross-check one pair against a direct char-5-gram jaccard
    if (rows.nonEmpty) {
      val r = rows.head
      val texts = docs.select("doc_id", "text").collect()
        .map(x => x.getLong(0) -> x.getString(1)).toMap
      def grams(t: String): Set[String] = t.sliding(8).toSet
      val (sa, sb) = (grams(texts(r.getLong(0))), grams(texts(r.getLong(1))))
      val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(r.getDouble(2) - expected) < 1e-6)
    }
  }

  test("resolveKeepers: b-side of every pair dropped, everything else kept") {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.ngramNear(docs)
    val dropIds = pairs.select("b_id").collect().map(_.getLong(0)).toSet
    val res = Dedup.resolveKeepers(docs, pairs).collect()
    assert(res.length == docs.count())
    res.foreach { r =>
      assert(r.getBoolean(1) == !dropIds.contains(r.getLong(0)),
        s"doc ${r.getLong(0)} keep flag wrong")
    }
  }

  test("dedupGroups: chains resolve transitively to the component min id") {
    import spark.implicits._
    // components: {1,2,3} via chain 1-2, 2-3; {5,6}; singleton 4
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (5L, 6L, 0.9))
      .toDF("a_id", "b_id", "jaccard")
    val got = Dedup.dedupGroups(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("simhash planes are deterministic Rademacher vectors") {
    val p1 = Dedup.simhashPlanes(8, 16)
    val p2 = Dedup.simhashPlanes(8, 16)
    assert(p1 == p2)
    assert(p1.flatten.forall(v => v == 1.0 || v == -1.0))
    // not degenerate: both signs appear
    assert(p1.flatten.toSet == Set(1.0, -1.0))
  }

  test("indexed incremental dedup: equals inline, index built once then served") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val bucket = Sampling.hashBucket(col("doc_id"))
    val incoming = docs.where(bucket >= 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    val inline = rows(Dedup.exactIncremental(incoming, docs.where(bucket < 50)))
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = "documents-dedup-fp2-b50"
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    intercept[graft.core.GraftException] {
      Dedup.exactIncrementalIndexed(spark, dir, incoming,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(rows(Dedup.exactIncrementalIndexed(spark, dir, incoming)) == inline)
    // registry instances are manifest-backed: a fresh handle sees the build
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    // second probe serves the stored index: same version, no rebuild
    assert(rows(Dedup.exactIncrementalIndexed(spark, dir, incoming)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }

  test("incremental image dedup: NEAR copies of the seen corpus dropped; indexed equals inline, build-once") {
    import org.apache.spark.sql.functions.{col, length, octet_length}
    import spark.implicits._
    // engineered arm: a strictly-ascending 64-byte grid (every gradient bit
    // set); swapping two adjacent mid-row bytes flips EXACTLY one gradient
    // comparison — the near admission an exact-fingerprint form provably
    // cannot catch
    val a = Array.tabulate[Byte](64)(i => (i + 32).toByte)
    val drift = a.clone(); val t = drift(10); drift(10) = drift(11); drift(11) = t
    val other = Array.tabulate[Byte](64)(i => (127 - i).toByte)
    val fresh = Array.tabulate[Byte](64)(i => ((i * 37) % 96 + 32).toByte)
    val ref = Seq((1L, a), (2L, other)).toDF("doc_id", "blob")
    val incoming = Seq(
      (10L, a),      // exact copy of seen → seen_in_corpus
      (11L, drift),  // 1-bit near copy → seen_in_corpus (Hamming arm)
      (12L, fresh),  // fresh → keep
      (13L, fresh)   // in-batch repeat → matched_in_batch
    ).toDF("doc_id", "blob")
    val out = Dedup.imageIncremental(spark, incoming, ref).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(out(10L) == ((true, false, false)))
    // seen via the corpus arm AND in-batch matched (doc 10 is a lower-id
    // exact copy of the same grid, itself within Hamming 1 of the drift)
    assert(out(11L) == ((true, true, false)), "the 1-bit drifted copy must be seen")
    assert(out(12L) == ((false, false, true)))
    assert(out(13L) == ((false, true, false)))

    // indexed twin over the standard split: byte-identical to inline,
    // built once then served
    val base = Tables.documents(spark, dir)
      .where(octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val bucket = Sampling.hashBucket(col("doc_id"))
    val batch = base.where(bucket >= 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    val inline = rows(Dedup.imageIncremental(spark, batch, base.where(bucket < 50)))
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = "documents-image-phash-b50"
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    intercept[graft.core.GraftException] {
      Dedup.imageIncrementalIndexed(spark, dir, batch,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(rows(Dedup.imageIncrementalIndexed(spark, dir, batch)) == inline)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    assert(rows(Dedup.imageIncrementalIndexed(spark, dir, batch)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }

  test("videoStillMatchesIndexed: serves from the SHARED phash index (one registry entry, two consumers); FailIfMissing honored") {
    import org.apache.spark.sql.functions.{col, concat, length, lit, octet_length}
    val header = Multimodal.mp4VideoFramesHeader(frameBytes = 64)
    val base = Tables.documents(spark, dir)
      .where(octet_length(col("text")) === length(col("text")) &&
        length(col("text")) >= 64)
    // 64-byte frames: frame 0's zero-padded byte grid IS the source doc's
    // still grid, so every bucket<50 video hits its own indexed still at
    // Hamming 0; bucket>=50 docs are outside the index slice
    val videos = base.select(col("doc_id"),
      concat(lit(header), col("text").cast("binary")).as("blob"))
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = "documents-image-phash-b50"
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    intercept[graft.core.GraftException] {
      Dedup.videoStillMatchesIndexed(spark, dir, videos,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    val out = Dedup.videoStillMatchesIndexed(spark, dir, videos, maxHamming = 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val buckets = base.select(col("doc_id"),
        Sampling.hashBucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty && out.size == buckets.size)
    val in = buckets.filter(_._2 < 50).keys
    assert(in.forall(id => out(id)._1 >= 1L && !out(id)._2),
      "every indexed-slice video must match its own still")
    assert(buckets.filter(_._2 >= 50).keys.exists(id => out(id)._2),
      "some outside-slice video must keep")
    // ONE index serves both families: the build videoStillMatchesIndexed
    // just ran must satisfy imageIncrementalIndexed without a rebuild
    // (fresh registry instance — entries merge in from the manifest)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    Dedup.imageIncrementalIndexed(spark, dir,
      base.limit(2).select(col("doc_id"), col("text").cast("binary").as("blob")),
      policy = graft.core.IndexPolicy.FailIfMissing).collect()
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }

  test("imageNearAuto: the saturation audit routes a replica corpus to the rep mine; unsaturated side ≡ imageNear") {
    import spark.implicits._
    val a = Array.tabulate[Byte](64)(i => (i + 32).toByte)
    val drift = a.clone(); val t0 = drift(10); drift(10) = drift(11); drift(11) = t0
    val far = Array.tabulate[Byte](64)(i => (127 - i).toByte)
    // replica corpus: 6 copies each of a near-twin grid pair + one far
    // grid — est_candidates/n = 73/13 ≈ 5.6, so fanoutMax = 2 saturates
    // and the default 16 does not (both branches pinned on one corpus)
    val docs = ((1L to 6L).map(i => (i, a)) ++
      (11L to 16L).map(i => (i, drift)) ++ Seq((20L, far)))
      .toDF("doc_id", "blob")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val explicit = rows(Dedup.imageNear(spark, docs))
    // the explicit form is quadratic on the replica groups: 15 + 15
    // intra-group Hamming-0 pairs + 36 cross pairs at Hamming 1
    assert(explicit.length == 66, s"expected 66 pairs, got ${explicit.length}")
    // saturated branch: distinct grids collapse to min-id reps, ONE pair
    val escalated = rows(Dedup.imageNearAuto(spark, docs, fanoutMax = 2.0))
    assert(escalated == Seq((1L, 11L, 1L)),
      s"rep mine must report exactly the rep pair: $escalated")
    // unsaturated branch (default threshold): auto ≡ explicit, same rows
    assert(rows(Dedup.imageNearAuto(spark, docs)) == explicit)
    // audit row sanity: the quantities the rule reads
    val audit = Dedup.phashKeyAudit(
      graft.operators.Multimodal.imagePHash(spark, docs)).head
    assert(audit.getLong(0) == 13 && audit.getLong(1) == 3 &&
      audit.getLong(2) == 6 && audit.getAs[Double]("est_candidates") == 73.0)
  }

  test("minhashNearAuto: the band-key audit routes a replica corpus to the sha-collapse rep mine; unsaturated side ≡ minhashNear") {
    import spark.implicits._
    // replica corpus: 8 byte-identical copies of A, one near twin B
    // (word-trigram Jaccard 4/5 = 0.8), two far docs — the A group shares
    // every band key, so est_candidates/n_docs ≫ 16 saturates the default
    // dial; fanoutMax = 1e9 pins the unsaturated branch on the SAME corpus
    val a = "aa bb cc dd ee ff"
    val b = a + " gg"
    val docs = ((1L to 8L).map(i => (i, a)) ++ Seq((11L, b),
      (20L, "pp qq rr ss tt uu"), (21L, "vv ww xx yy zz qv")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val explicit = rows(Dedup.minhashNear(docs))
    // quadratic on the replica group: C(8,2) = 28 exact pairs at J=1.0,
    // plus the 8 A–B near pairs the banding surfaces deterministically
    assert(explicit.length == 36, s"expected 36 pairs, got ${explicit.length}")
    assert(explicit.count(_._3 == 1.0) == 28)
    // saturated branch (default fanoutMax 16): byte-identical texts
    // collapse to min-id reps, so the mine reports ONE rep pair
    val escalated = rows(Dedup.minhashNearAuto(docs))
    assert(escalated == Seq((1L, 11L, 0.8)),
      s"rep mine must report exactly the rep pair: $escalated")
    // unsaturated branch: auto ≡ explicit, row-identical
    assert(rows(Dedup.minhashNearAuto(docs, fanoutMax = 1e9)) == explicit)
    // audit quantities the rule reads, hand-counted: 11 docs enter the
    // mine; the A bucket is 8 (9 where B's band agrees)
    val audit = Dedup.minhashKeyAudit(docs).head
    assert(audit.getLong(0) == 11, s"n_docs: ${audit.getLong(0)}")
    assert(audit.getLong(2) >= 8 && audit.getLong(2) <= 9,
      s"max_bucket: ${audit.getLong(2)}")
    assert(audit.getAs[Double]("est_candidates") >= 6.0 * 64,
      "the replica group alone contributes >= bands * 8^2")
  }

  test("ngramNearAuto: same audit-then-branch over the char-shingle family") {
    import spark.implicits._
    val a = "aa bb cc dd ee ff"
    val b = a + " gg"
    val docs = ((1L to 8L).map(i => (i, a)) ++ Seq((11L, b),
      (20L, "pp qq rr ss tt uu"), (21L, "vv ww xx yy zz qv")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val explicit = rows(Dedup.ngramNear(docs))
    assert(explicit.count(_._3 == 1.0) == 28, "28 exact replica pairs")
    // saturated: reps only — at most the (1, 11) near pair survives
    val escalated = rows(Dedup.ngramNearAuto(docs))
    assert(escalated.forall(p => p._1 == 1L && p._2 == 11L),
      s"rep mine must pair reps only: $escalated")
    assert(escalated.length < explicit.length, "escape must cut the output")
    // unsaturated: row-identical to the explicit form
    assert(rows(Dedup.ngramNearAuto(docs, fanoutMax = 1e9)) == explicit)
  }

  test("semanticDedupAuto: exact-collapse escape on a replica embedding corpus — members inherit rep verdicts, keep/dup_of agree with the naive mine") {
    import spark.implicits._
    // 8 identical copies of A, a near twin B (cosine ≈ 1 ≥ tau), two
    // orthogonal far vectors — the hot-cell split provably cannot cut
    // this corpus (identical vectors share every sub-bucket), the
    // exact-collapse escape can, and its restored verdicts must equal
    // the naive mine's row for row
    val a = Array.tabulate(64)(i => if (i < 8) 1.0 else 0.0).toSeq
    val b = a.updated(0, 1.0 + 1e-9)
    val f1 = Array.tabulate(64)(i => if (i >= 30 && i < 38) 1.0 else 0.0).toSeq
    val f2 = Array.tabulate(64)(i => if (i >= 50 && i < 58) 1.0 else 0.0).toSeq
    val e = ((1L to 8L).map(i => (i, a)) ++ Seq((11L, b), (20L, f1), (21L, f2)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    val naive = rows(Dedup.semanticDedup(e))
    // est/n = 67/11 ≈ 6.1 < 16, so the default dial does NOT saturate —
    // fanoutMax = 2 pins the escalated branch on the same corpus (the
    // imageNearAuto device)
    val escalated = rows(Dedup.semanticDedupAuto(e, fanoutMax = 2.0))
    // keep/dup_of must agree with the naive mine exactly; cell ordinals
    // are the DECLARED trade (the rep slice's seed window draws distinct
    // vectors — here 2 seeds where the naive window holds 9, 8 of them
    // copies of A — so the ordinal spaces differ by construction)
    assert(escalated.map(r => (r._1, r._3, r._4)) ==
      naive.map(r => (r._1, r._3, r._4)),
      s"collapse-restored keep/dup_of must equal the naive mine's:\n$escalated\nvs\n$naive")
    // member inheritance: 2–8 lose to rep 1; the twin 11 loses to 1 in
    // BOTH forms (same cell as A under either seed geometry)
    assert(escalated.filter(r => r._1 >= 2 && r._1 <= 8)
      .forall(r => !r._3 && r._4 == 1L))
    // members share their rep's cell
    val cellOf = escalated.map(r => r._1 -> r._2).toMap
    assert((2L to 8L).forall(i => cellOf(i) == cellOf(1L)))
    // unsaturated branch: IS the naive rung, cells included
    assert(rows(Dedup.semanticDedupAuto(e)) == naive)
    // audit hand count: 11 vectors, 4 distinct, max group 8, est 64+1+1+1
    val audit = Dedup.embedKeyAudit(e).head
    assert(audit.getLong(0) == 11 && audit.getLong(1) == 4 &&
      audit.getLong(2) == 8 &&
      audit.getAs[Double]("est_candidates") == 67.0)
  }

  test("minhashDedup/ngramDedup: collapse-first treatment form ≡ resolveKeepers over the naive mine, member for member") {
    import spark.implicits._
    // replica classes + a near twin + uniques: 8 copies of A, twin B
    // (J = 0.8 to A), 2 copies of F, two far uniques — keepers must be
    // the class min-ids minus any rep that near-loses to a smaller rep
    val a = "aa bb cc dd ee ff"
    val docs = ((1L to 8L).map(i => (i, a)) ++ Seq((11L, a + " gg"),
      (20L, "pp qq rr ss tt uu"), (21L, "vv ww xx yy zz qv")) ++
      Seq((30L, "hh ii jj kk ll mm"), (31L, "hh ii jj kk ll mm")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    val naiveMh = rows(Dedup.resolveKeepers(docs, Dedup.minhashNear(docs)))
    assert(rows(Dedup.minhashDedup(docs)) == naiveMh,
      "collapse-first minhash verdicts must equal the naive mine's")
    val naiveNg = rows(Dedup.resolveKeepers(docs, Dedup.ngramNear(docs)))
    assert(rows(Dedup.ngramDedup(docs)) == naiveNg,
      "collapse-first ngram verdicts must equal the naive mine's")
    // hand count: members 2–8 lose to rep 1; twin 11 loses to 1; 31
    // loses to 30; keepers are 1, 20, 21, 30
    assert(naiveMh.filter(_._2).map(_._1) == Seq(1L, 20L, 21L, 30L))
  }

  test("simhashNearAuto: full-bit-signature collapse on a replica embedding corpus; unsaturated side ≡ simhashNear") {
    import spark.implicits._
    // 8 byte-identical copies of A, one near twin B (1e-9 nudge on dim 0:
    // same sign planes, cosine ≈ 1), two orthogonal far vectors (disjoint
    // support, cosine 0 — banded or not, the verify drops them)
    val a = Array.tabulate(64)(i => if (i < 8) 1.0 else 0.0).toSeq
    val b = a.updated(0, 1.0 + 1e-9)
    val f1 = Array.tabulate(64)(i => if (i >= 30 && i < 38) 1.0 else 0.0).toSeq
    val f2 = Array.tabulate(64)(i => if (i >= 50 && i < 58) 1.0 else 0.0).toSeq
    val e = ((1L to 8L).map(i => (i, a)) ++ Seq((11L, b), (20L, f1), (21L, f2)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val explicit = rows(Dedup.simhashNear(e))
    // quadratic on the replica group: C(8,2) = 28 identical pairs at
    // score 1.0 plus the 8 A–B pairs
    assert(explicit.length == 36, s"expected 36 pairs, got ${explicit.length}")
    assert(explicit.count(_._3 == 1.0) >= 28)
    // saturated (default fanoutMax 16): identical bit signatures collapse
    // to min-id reps — exactly the (1, 11) rep pair survives
    val escalated = rows(Dedup.simhashNearAuto(e))
    assert(escalated.map(p => (p._1, p._2)) == Seq((1L, 11L)),
      s"rep mine must report exactly the rep pair: $escalated")
    // unsaturated: row-identical to the explicit form
    assert(rows(Dedup.simhashNearAuto(e, fanoutMax = 1e9)) == explicit)
    // audit quantities: 11 vectors, the A bucket is 8 or 9 per band
    val audit = Dedup.simhashKeyAudit(e).head
    assert(audit.getLong(0) == 11, s"n_docs: ${audit.getLong(0)}")
    assert(audit.getLong(2) >= 8 && audit.getLong(2) <= 9,
      s"max_bucket: ${audit.getLong(2)}")
  }

  test("incremental audio dedup: delayed copy caught by the VOTE arm where the envelope arm provably misses") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val header = Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL)
    def pcm(vals: Seq[Int]): Array[Byte] =
      vals.flatMap(v => Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)).toArray
    // 12-loud/12-quiet oscillation: window 16 / hop 4 levels peak every ~6
    // windows, so the clip carries well over minVotes=5 landmarks
    val samples = Seq.tabulate(256)(k => if ((k / 12) % 2 == 0) 20000 else 100)
    val wav = header ++ pcm(samples)
    // 12 zero SAMPLES prepended = 3 hops but NOT a window multiple — the
    // audio_shift_near misalignment: every interior level reappears at
    // shifted indices (landmark keys invariant), the env string does not
    val delayed = header ++ pcm(Seq.fill(12)(0) ++ samples)
    val fresh = header ++ pcm(Seq.tabulate(256)(k => if ((k / 9) % 3 == 0) 28000 else 3000))
    val ref = Seq((1L, wav)).toDF("doc_id", "blob")
    val incoming = Seq(
      (10L, wav),      // verbatim re-ingest → seen (envelope arm)
      (11L, delayed),  // delayed copy → seen (vote arm ONLY)
      (12L, fresh),    // fresh clip → keep
      (13L, fresh),    // in-batch repeat → matched_in_batch
      (14L, "not audio at all".getBytes("UTF-8")) // non-WAV → pass-through
    ).toDF("doc_id", "blob")
    // the envelope-arm miss is structural, not assumed: the delayed env
    // string is NOT in the reference's envelope state
    val refEnvs = Multimodal.audioEnvelope(spark, ref)
      .select(col("env")).collect().map(_.getString(0)).toSet
    val delayedEnv = Multimodal.audioEnvelope(spark,
        incoming.where(col("doc_id") === 11L))
      .select(col("env")).head.getString(0)
    assert(!refEnvs.contains(delayedEnv), "the delay must change the envelope string")
    val out = Dedup.audioIncremental(spark, incoming, ref).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).toMap
    assert(out(10L) == ((true, true, false, false)))
    // seen via votes AND in-batch matched (doc 10 is a lower-id clip it
    // also votes against)
    assert(out(11L) == ((true, true, true, false)),
      "the delayed copy must be seen through the landmark-vote arm")
    assert(out(12L) == ((true, false, false, true)))
    assert(out(13L) == ((true, false, true, false)))
    assert(out(14L) == ((false, false, false, true)), "non-WAV rows pass through")
  }

  test("incremental video dedup: re-introed copy caught by the VOTE arm where the fingerprint arm provably misses") {
    import spark.implicits._
    val header = Multimodal.mp4VideoFramesHeader()
    val payload = Array.tabulate[Byte](128)(i => ((i * 7) % 96 + 32).toByte)
    val junk = Array.tabulate[Byte](32)(i => ((i * 13) % 96 + 32).toByte)
    val base = header ++ payload
    val reintro = header ++ junk ++ payload // distinct fingerprint, shared frames at one offset
    val fresh = header ++ Array.tabulate[Byte](128)(i => ((i * 31) % 96 + 32).toByte)
    val ref = Seq((1L, base)).toDF("doc_id", "blob")
    val incoming = Seq(
      (10L, base),    // re-mux stand-in → seen (fingerprint arm)
      (11L, reintro), // re-cut → seen (vote arm ONLY)
      (12L, fresh),   // fresh → keep
      (13L, fresh),   // in-batch repeat → matched_in_batch
      (14L, "not a video".getBytes("UTF-8")) // non-MP4 → pass-through
    ).toDF("doc_id", "blob")
    // the fingerprint-arm miss is structural: the re-introed fingerprint
    // differs from the reference's
    val fps = Dedup.videoFingerprints(Multimodal.videoFrameHashes(spark,
        ref.unionByName(incoming.where(org.apache.spark.sql.functions.col("doc_id") === 11L))))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) != fps(11L), "the junk intro frame must change the fingerprint")
    val out = Dedup.videoIncremental(spark, incoming, ref).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).toMap
    assert(out(10L) == ((true, true, false, false)))
    assert(out(11L) == ((true, true, true, false)),
      "the re-introed copy must be seen through the frame-vote arm")
    assert(out(12L) == ((true, false, false, true)))
    assert(out(13L) == ((true, false, true, false)))
    assert(out(14L) == ((false, false, false, true)), "non-MP4 rows pass through")
  }

  test("indexed incremental audio/video dedup: equals inline, FailIfMissing, build-once serve-twice") {
    import org.apache.spark.sql.functions.{col, concat, length, lit, octet_length}
    val wavHeader = Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL)
    val mp4Header = Multimodal.mp4VideoFramesHeader()
    val bucket = Sampling.hashBucket(col("doc_id"))
    val base = Tables.documents(spark, dir)
      .where(octet_length(col("text")) === length(col("text")) && bucket < 20)
    def wrapped(h: Array[Byte], d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"),
        concat(lit(h), col("text").cast("binary")).as("blob"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    val reg = CatalogOps.indexRegistry(spark, dir)
    // audio: incoming = the >= 10 slice; state = the < 10 slice's
    // landmark rows + distinct envelopes (what the streaming gate keeps)
    val aInc = wrapped(wavHeader, base.where(bucket >= 10))
    val aInline = rows(Dedup.audioIncremental(spark, aInc,
      wrapped(wavHeader, base.where(bucket < 10)), maxBytes = 512))
    if (reg.isIndexRegistered("documents-audio-state-b10"))
      reg.dropIndex("documents-audio-state-b10")
    intercept[graft.core.GraftException] {
      Dedup.audioIncrementalIndexed(spark, dir, aInc, maxBytes = 512,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(rows(Dedup.audioIncrementalIndexed(spark, dir, aInc, maxBytes = 512)) == aInline)
    val aBuilt = CatalogOps.indexRegistry(spark, dir).getIndex("documents-audio-state-b10")
    assert(rows(Dedup.audioIncrementalIndexed(spark, dir, aInc, maxBytes = 512)) == aInline)
    assert(CatalogOps.indexRegistry(spark, dir)
      .getIndex("documents-audio-state-b10").version == aBuilt.version)
    // video: same split, frame-hash rows + distinct fingerprints
    val vInc = wrapped(mp4Header, base.where(bucket >= 10))
    val vInline = rows(Dedup.videoIncremental(spark, vInc,
      wrapped(mp4Header, base.where(bucket < 10))))
    if (reg.isIndexRegistered("documents-video-state-b10"))
      reg.dropIndex("documents-video-state-b10")
    intercept[graft.core.GraftException] {
      Dedup.videoIncrementalIndexed(spark, dir, vInc,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(rows(Dedup.videoIncrementalIndexed(spark, dir, vInc)) == vInline)
    val vBuilt = CatalogOps.indexRegistry(spark, dir).getIndex("documents-video-state-b10")
    assert(rows(Dedup.videoIncrementalIndexed(spark, dir, vInc)) == vInline)
    assert(CatalogOps.indexRegistry(spark, dir)
      .getIndex("documents-video-state-b10").version == vBuilt.version)
  }

  test("indexed dedup groups: stored component map equals inline, build-once serve-twice") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inline = rows(Dedup.dedupGroups(docs, Dedup.ngramNear(docs)
      .select(col("a_id"), col("b_id"))))
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = "documents-dedup-groups-ngram8"
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    intercept[graft.core.GraftException] {
      Dedup.dedupGroupsIndexed(spark, dir,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(rows(Dedup.dedupGroupsIndexed(spark, dir)) == inline)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    assert(rows(Dedup.dedupGroupsIndexed(spark, dir)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }

  test("indexed incremental semantic dedup: equals inline against the stored cell index") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val bucket = Sampling.hashBucket(col("vec_id"))
    val incoming = e.where(bucket >= 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    val inline = rows(Dedup.semanticIncremental(incoming, e.where(bucket < 50)))
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = "embeddings-semcells-b50-c16"
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    intercept[graft.core.GraftException] {
      Dedup.semanticIncrementalIndexed(spark, dir, incoming,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(rows(Dedup.semanticIncrementalIndexed(spark, dir, incoming)) == inline)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    // second probe serves the stored index: same version, no rebuild —
    // and the round-tripped centroids reproduce cell geometry exactly
    assert(rows(Dedup.semanticIncrementalIndexed(spark, dir, incoming)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }

  test("indexed incremental near-dedup: equals inline against the stored shingle index") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val bucket = Sampling.hashBucket(col("doc_id"))
    val incoming = docs.where(bucket >= 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    val inline = rows(Dedup.ngramNearIncremental(incoming, docs.where(bucket < 50)))
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = "documents-dedup-band2-b50-n8"
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    assert(rows(Dedup.ngramNearIncrementalIndexed(spark, dir, incoming)) == inline)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    assert(rows(Dedup.ngramNearIncrementalIndexed(spark, dir, incoming)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }

  test("sourceOverlap: identical sources estimate exactly 1.0, disjoint exactly 0.0") {
    import spark.implicits._
    val mirror = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, mirror, "crawl-a"), (2L, mirror, "crawl-b"), // byte-identical shingle sets
      (3L, "one two three four five six", "books")      // disjoint shingles
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(("books", "crawl-a"), ("books", "crawl-b"), ("crawl-a", "crawl-b")))
    // equal shingle sets agree on every seed's min — exactly 1.0
    assert(out(("crawl-a", "crawl-b")) == 1.0)
    // XOR is a bijection: disjoint sets can never share a min — exactly 0.0
    assert(out(("books", "crawl-a")) == 0.0 && out(("books", "crawl-b")) == 0.0)
  }

  test("indexed word-shingle incremental near-dedup: equals inline, distinct index identity") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val bucket = Sampling.hashBucket(col("doc_id"))
    val incoming = docs.where(bucket >= 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    val inline = rows(Dedup.minhashNearIncremental(incoming, docs.where(bucket < 50)))
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = "documents-dedup-wband-b50-s3"
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    assert(rows(Dedup.minhashNearIncrementalIndexed(spark, dir, incoming)) == inline)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    assert(rows(Dedup.minhashNearIncrementalIndexed(spark, dir, incoming)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
    // the word-shingle index is its own registry entry — a char-ngram probe
    // must never be served from it (shingle definition is index identity)
    assert(built.params("shingles") == "word")
  }

  test("approx incremental near-dedup: inline equals indexed, estimates on the seed grid") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val bucket = Sampling.hashBucket(col("doc_id"))
    val incoming = docs.where(bucket >= 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    val inline = rows(Dedup.minhashNearIncrementalApprox(incoming, docs.where(bucket < 50)))
    assert(inline.nonEmpty)
    // every admitted doc is present exactly once; estimates are agreeing-
    // seed fractions, so they live on the k/12 grid
    assert(inline.map(_._1).distinct.size == inline.size)
    inline.foreach { case (_, n, est, keep) =>
      assert(keep == (n == 0L))
      // est is the 6-dp ROUNDING of k/12 — compare against the nearest
      // grid point, not exact divisibility
      assert(math.abs(est - math.rint(est * 12) / 12.0) < 1e-5)
    }
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = Dedup.wordSigIndexName(50, 3)
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    assert(rows(Dedup.minhashNearIncrementalApproxIndexed(spark, dir, incoming)) == inline)
    // served from the stored signature index on the second call
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    assert(rows(Dedup.minhashNearIncrementalApproxIndexed(spark, dir, incoming)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
    assert(built.params("layout") == "bands+sig")
  }

  test("trimSpans: cross-doc boilerplate removed, unique text kept, short docs untouched") {
    import spark.implicits._
    val boiler = "this exact boilerplate run is shared between documents verbatim"
    val docs = Seq(
      (1L, s"alpha unique opening words here $boiler and a distinct alpha ending run"),
      (2L, s"totally different beta preamble text $boiler plus another beta specific closing"),
      (3L, "entirely unique document with no shared spans against anything else present"),
      (4L, "short doc")).toDF("doc_id", "text")
    val out = Dedup.trimSpans(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap

    // the shared 10-word run plus every 5-shingle straddling it is covered;
    // compute the expectation directly from the definition
    def toks(s: String) = s.split(" ", -1).toSeq
    val all = Seq(1L, 2L, 3L).map(id => id -> toks(docs.where($"doc_id" === id)
      .head().getString(1))).toMap
    val perDocShingles = all.map { case (id, t) =>
      id -> (0 to t.length - 5).map(i => t.slice(i, i + 5).mkString(" ")).toSet }
    val dup = perDocShingles.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).collect { case (s, occ) if occ.size >= 2 => s }.toSet
    for (id <- Seq(1L, 2L, 3L)) {
      val t = all(id)
      val covered = (0 to t.length - 5).filter(i =>
        dup(t.slice(i, i + 5).mkString(" "))).flatMap(i => i until i + 5).toSet
      val expect = t.zipWithIndex.collect { case (w, i) if !covered(i) => w }.mkString(" ")
      assert(out(id)._1 == expect, s"doc $id")
      assert(out(id)._3 == covered.size.toLong)
    }
    // the boilerplate really was removed from both carriers, kept elsewhere
    assert(!out(1L)._1.contains("boilerplate") && !out(2L)._1.contains("boilerplate"))
    assert(out(3L)._3 == 0L && out(3L)._1 == all(3L).mkString(" "))
    assert(out(4L) == (("short doc", 2L, 0L)))
  }

  test("minhashNearApprox: pairs match signature-agreement recomputation") {
    import org.apache.spark.sql.functions.col
    import graft.functions.LshFunctions
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashNearApprox(docs).collect()
    assert(pairs.nonEmpty)
    val sigs = docs
      .where(org.apache.spark.sql.functions.expr("size(split(text, ' ')) >= 3"))
      .select(col("doc_id"),
        LshFunctions.minhash_signature_long(
          LshFunctions.word_shingle_hash56(col("text"), 3), 12).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    pairs.foreach { r =>
      val (a, b, est) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val agree = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      assert(est == math.rint(agree.toDouble / 12 * 1e6) / 1e6)
      assert(est >= 0.5)
      assert(a < b)
    }
  }

  test("imageNear: real PNGs pair by perceptual similarity; banding is lossless; no cartesian") {
    import org.apache.spark.sql.functions.col
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = f(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = png((x, _) => x * 4)                 // horizontal gradient
    val near = png((x, y) => x * 4 + (if (x > 55 && y > 55) 40 else 0)) // corner blotch
    val far = png((x, _) => 255 - x * 4)            // reversed gradient
    // hash sanity: the near pair is close in Hamming space, the far pair is not
    val h = Seq(base, near, far).map(b => Multimodal.dhash56(Multimodal.grayGrid(b)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0), h(1)) <= 6, s"near pair hamming ${ham(h(0), h(1))}")
    assert(ham(h(0), h(2)) > 6, s"far pair hamming ${ham(h(0), h(2))}")
    import spark.implicits._
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "blob")
    val pairs = Dedup.imageNear(spark, df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // lossless banding at maxHamming < bands: an exact brute-force pass
    // over the real corpus hashes finds nothing the banded path missed
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val hashes = Multimodal.imagePHash(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes
      if a < b && ham(ha, hb) <= 6
    } yield (a, b)).toSet
    val banded = Dedup.imageNear(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
    // scale guard: candidates come from the bucket aggregation, never a
    // cross product; the verify joins are id-keyed
    val p = Dedup.imageNear(spark, docs).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs blowup:\n$p")
  }

  test("autoAgreeBands: log-scaled t, hard lossless clamp; imageDedup auto ≡ manual") {
    import org.apache.spark.sql.functions.col
    // formula pins at r = 7 (bands = 8 over 56 bits): smallest t with
    // 2^(t·r) ≥ D, exact-power boundaries included
    assert(Dedup.autoAgreeBands(1L, 8, 56, 6) == 1)      // tiny-corpus floor
    assert(Dedup.autoAgreeBands(128L, 8, 56, 6) == 1)    // 2^7 exactly
    assert(Dedup.autoAgreeBands(129L, 8, 56, 6) == 2)
    assert(Dedup.autoAgreeBands(500L, 8, 56, 6) == 2)    // sf0.01 regime
    assert(Dedup.autoAgreeBands(16384L, 8, 56, 6) == 2)  // 2^14 exactly
    // the clamp is the PIGEONHOLE fence, not a preference: 250k distinct
    // hashes want t=3 but maxHamming=6 caps the lossless t at 2
    assert(Dedup.autoAgreeBands(250000L, 8, 56, 6) == 2)
    assert(Dedup.autoAgreeBands(250000L, 8, 56, 5) == 3) // relaxed mH → ceiling 3
    // a wider band split (14×4) raises the ceiling: D = 2^40 wants t=10,
    // lossless cap is 14 − 6 = 8
    assert(Dedup.autoAgreeBands(1L << 40, 14, 56, 6) == 8)
    // auto ≡ manual end-to-end on the real corpus: any clamped t is
    // lossless, so the verdict set is t-independent
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    def run(t: Int) = Dedup.imageDedup(spark, docs, agreeBands = t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(run(0) == run(2))
    assert(run(1) == run(2))
  }

  test("candidatePairs: join expansion for oversized buckets ≡ in-bucket array path; caps respected") {
    import spark.implicits._
    // buckets: size 5 (above a tiny pairExplodeMax → join path), size 2
    // (array path), size 1 (dropped — no pair), size 7 (above maxBucket —
    // dropped by the cap regardless of expansion strategy)
    val keyed = (Seq(
      (0, 10L, 1L), (0, 10L, 2L), (0, 10L, 3L), (0, 10L, 4L), (0, 10L, 5L),
      (1, 20L, 6L), (1, 20L, 7L),
      (2, 30L, 8L)
    ) ++ (0 until 7).map(i => (3, 40L, 100L + i))).toDF("band", "key", "doc_id")
    def pairs(pairExplodeMax: Int) =
      Dedup.candidatePairs(keyed, "band", "key", "doc_id",
          maxBucket = 6, pairExplodeMax = pairExplodeMax)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- 1L to 5L; b <- (a + 1) to 5L
    } yield (a, b)).toSet + ((6L, 7L))
    // everything through the array path vs the size-5 bucket through the
    // join path: pair-identical output
    assert(pairs(pairExplodeMax = 256) == expected)
    assert(pairs(pairExplodeMax = 3) == expected)
  }

  test("verbatimOverlap: diagonal island merge measures exact shared run lengths") {
    import spark.implicits._
    val docs = Seq(
      (1L, "q w e r t y u i o p"),            // 10 tokens
      (2L, "z1 z2 e r t y u i z3 z4"),        // shares "e r t y u i" (6)
      (3L, "q w e r t xx u i o p")            // shares "q w e r t" (5) only
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // a shared run of L tokens is an island of L-4 consecutive shingles:
    // (1,2) -> 2 shingles = 6 tokens; (1,3) -> 1 shingle = 5 tokens
    assert(rows(Dedup.verbatimOverlap(docs, minRunTokens = 5)) ==
      Seq((1L, 2L, 6L, 2L), (1L, 3L, 5L, 1L)))
    // the threshold cuts exactly at run length
    assert(rows(Dedup.verbatimOverlap(docs, minRunTokens = 6)) ==
      Seq((1L, 2L, 6L, 2L)))
    // scattered shared shingles never merge across diagonals: doc 3's
    // second half shares "u i o p" with doc 1 — only 4 tokens, below
    // shingle size, so no second island exists and max_run stays 5
    assert(rows(Dedup.verbatimOverlap(docs, minRunTokens = 7)).isEmpty)
  }

  test("sharedRunsFor: pair-restricted runs with zero-fill and order normalization") {
    import spark.implicits._
    val docs = Seq(
      (1L, "q w e r t y u i o p"),
      (2L, "z1 z2 e r t y u i z3 z4"),
      (3L, "a1 a2 a3 a4 a5 a6 a7")
    ).toDF("doc_id", "text")
    // pairs arrive unordered and with a no-overlap member: (3,2) must
    // normalize to (2,3) and report the ZERO row — that zero IS the
    // finding (signature-near but no verbatim run at this granularity)
    val pairs = Seq((1L, 2L), (3L, 2L)).toDF("a_id", "b_id")
    val out = Dedup.sharedRunsFor(docs, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 2L, 6L, 2L), (2L, 3L, 0L, 0L)))
  }

  test("verbatimOverlapAuto: the replica escape mines reps only; unsaturated side IS the explicit form") {
    import spark.implicits._
    val t1 = "q w e r t y u i o p"
    val replicas = (10L to 13L).map((_, t1)) :+ (14L, "z1 z2 e r t y u i z3 z4")
    val docs = replicas.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // forced saturation (fanoutMax = 2): the sha-256 collapse leaves reps
    // {10, 14} and the mine reports ONE rep pair instead of the replica
    // group's C(4,2)+4 quadratic pair list
    assert(rows(Dedup.verbatimOverlapAuto(docs, minRunTokens = 5, fanoutMax = 2.0)) ==
      Seq((10L, 14L, 6L, 2L)))
    // identical docs measure max_run = the full token count (10): the
    // island spans every position
    val full = rows(Dedup.verbatimOverlap(docs, minRunTokens = 5))
    assert(full.filter(p => p._1 >= 10L && p._2 <= 13L)
      .forall(p => p._3 == 10L && p._4 == 6L))
    // fanoutMax huge -> the branch IS verbatimOverlap, row-identical
    assert(rows(Dedup.verbatimOverlapAuto(docs, minRunTokens = 5, fanoutMax = 1e18)) == full)
    // the audit's quantities on this corpus, hand-counted: 5 docs with 6
    // positional shingles each = 30 postings; shared shingles multiply
    val a = Dedup.overlapKeyAudit(docs).head
    assert(a.getLong(0) == 30L)                       // n_positions
    assert(a.getAs[Double]("est_candidates") > 30.0)  // fan-out > 1
  }

  test("verbatimOverlapDfCap: boilerplate postings drop; runs through a hot region fragment to their longest surviving segment") {
    import spark.implicits._
    // A and B share a 21-token run whose MIDDLE five words are corpus
    // boilerplate (the template phrase lives in 10 other distinct docs);
    // every C pair shares ONLY the template phrase
    val shared = ((1 to 8).map(i => s"a$i") ++ Seq("h1", "h2", "h3", "h4", "h5") ++
      (1 to 8).map(i => s"b$i")).mkString(" ")
    val docs = (Seq((1L, shared), (2L, shared)) ++
      (3L to 12L).map(i => (i, s"c${i}x c${i}y h1 h2 h3 h4 h5 c${i}z c${i}w")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // uncapped: the (1,2) run measures the full 21 tokens, and the hot
    // phrase manufactures a pair for EVERY document combination — 45 C
    // pairs + 20 A/B x C pairs of run exactly 5, the quadratic regime
    val uncapped = rows(Dedup.verbatimOverlap(docs, minRunTokens = 5))
    assert(uncapped.contains((1L, 2L, 21L, 17L)))
    assert(uncapped.count(_._3 == 5L) == 65)
    // the cut (hot-shingle occ = 12 > maxDf = 8): boilerplate-only pairs
    // disappear, and the (1,2) run FRAGMENTS at the dropped position —
    // two 12-token flanks, longest surviving segment reported
    assert(rows(Dedup.verbatimOverlapDfCap(docs, minRunTokens = 5, maxDf = 8)) ==
      Seq((1L, 2L, 12L, 16L)))
    // maxDf above every occurrence count: the cap is a no-op, row-identical
    assert(rows(Dedup.verbatimOverlapDfCap(docs, minRunTokens = 5, maxDf = 64)) ==
      uncapped)
  }

  test("decontaminateRunsIndexed ≡ inline; evalLeakReport is the exact pair-count flip side") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toVector).toSeq
    val inline = rows(Dedup.decontaminateRuns(docs))
    // indexed twin: FailIfMissing honored, then build-once-serve-twice,
    // verdicts byte-identical to the inline form over the same slice
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = "documents-verbatim-evalpos-ge90-s5"
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    intercept[graft.core.GraftException] {
      Dedup.decontaminateRunsIndexed(spark, dir, docs,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(rows(Dedup.decontaminateRunsIndexed(spark, dir, docs)) == inline)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    assert(rows(Dedup.decontaminateRunsIndexed(spark, dir, docs,
      policy = graft.core.IndexPolicy.FailIfMissing)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
    // the TREATMENT's indexed twin serves from the same stored postings,
    // trim-identical to the inline form
    assert(rows(Dedup.decontaminateTrimIndexed(spark, dir, docs,
        policy = graft.core.IndexPolicy.FailIfMissing)) ==
      rows(Dedup.decontaminateTrim(docs)))
    // flip-side invariant: both reports count the SAME (train, eval)
    // pairs at the rule, one keyed by each side — totals must agree
    val leak = Dedup.evalLeakReport(docs)
    val pairsFromTrain = Dedup.decontaminateRuns(docs)
      .agg(org.apache.spark.sql.functions.sum(col("n_eval_hits"))).head.getLong(0)
    val pairsFromEval = leak
      .agg(org.apache.spark.sql.functions.sum(col("n_train_leaks"))).head.getLong(0)
    assert(pairsFromTrain == pairsFromEval)
    // zero-fill contract: every eval doc reports, compromised ⇔ leaks > 0
    assert(leak.count() == docs.where(
      graft.operators.Sampling.hashBucket(col("doc_id")) >= 90).count())
    assert(leak.collect().forall(r => r.getBoolean(3) == (r.getLong(1) > 0L)))
    // the report's INDEXED rung (r17): served from the same stored eval
    // postings the audit probes — one evalPos entry, three consumers
    // — byte-identical to the inline report, FailIfMissing honored
    assert(rows(Dedup.evalLeakReportIndexed(spark, dir, docs,
      policy = graft.core.IndexPolicy.FailIfMissing)) == rows(leak))
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }

  test("evalLeakReport mirrors decontaminateRuns: sub-threshold maxima report honestly") {
    import spark.implicits._
    // pick ids by measured bucket: eval doc E shares a 7-token run with
    // train doc T — below the 13 rule, so NOT a leak, but the honest max
    // is 7 on BOTH reports (the r16 advice's asymmetry: the report used
    // to filter pairs before aggregating and zeroed sub-threshold maxima)
    def bucketOf(i: Long): Long = spark.range(i, i + 1)
      .select(Sampling.hashBucket(org.apache.spark.sql.functions.col("id")))
      .head.getLong(0)
    val ev = (0L until 500L).find(bucketOf(_) >= 90).get
    val tr = (0L until 500L).find(bucketOf(_) < 80).get
    val run7 = (1 to 7).map(i => s"sh$i")
    val docs = Seq(
      (ev, ((1 to 8).map(i => s"ee$i") ++ run7).mkString(" ")),
      (tr, (run7 ++ (1 to 8).map(i => s"tt$i")).mkString(" "))).toDF("doc_id", "text")
    val leakRow = Dedup.evalLeakReport(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(leakRow == Seq((ev, 0L, 7L, false)),
      "sub-threshold max reports 7, not 0; no leak counted")
    val runRow = Dedup.decontaminateRuns(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(runRow == Seq((tr, 7L, 0L, false)), "the train-side mirror agrees")
  }

  test("maxEvalDf/maxRefDf: benchmark-template matches vanish; content quotes survive the cap") {
    import spark.implicits._
    // ids chosen for their hash buckets: eval docs share a 10-word prompt
    // TEMPLATE; train doc A quotes eval CONTENT (8 tokens), train doc B
    // carries only the template — the format-not-content false positive
    def bucketOf(i: Long): Long = spark.range(i, i + 1)
      .select(Sampling.hashBucket(org.apache.spark.sql.functions.col("id")))
      .head.getLong(0)
    val evalIds = (0L until 500L).filter(bucketOf(_) >= 90).take(6)
    val Seq(a, bId, c) = (0L until 500L).filter(bucketOf(_) < 80).take(3)
    val tpl = (1 to 10).map(i => s"tp$i")
    val content = (i: Long) => (1 to 12).map(j => s"ev${i}x$j")
    val docs = (evalIds.map(i => (i, (tpl ++ content(i)).mkString(" "))) ++ Seq(
      (a, ((1 to 6).map(j => s"fa$j") ++ content(evalIds.head).take(8)).mkString(" ")),
      (bId, (tpl ++ (1 to 6).map(j => s"fb$j")).mkString(" ")),
      (c, (1 to 15).map(j => s"fc$j").mkString(" ")))).toDF("doc_id", "text")
    def flags(maxEvalDf: Int) =
      Dedup.decontaminateRuns(docs, minRunTokens = 8, maxEvalDf = maxEvalDf)
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val uncapped = flags(0)
    assert(uncapped(a) && uncapped(bId) && !uncapped(c),
      "uncapped: both the content quote and the template-only doc flag")
    // the template's 6 pure shingles occur 6x on the eval side (> 4 ->
    // cut); the quoted content's occur once (<= 4 -> kept)
    val capped = flags(4)
    assert(capped(a), "the content quote must survive the cap")
    assert(!capped(bId), "the format-only match must vanish under the cap")
    assert(!capped(c))
    // same cut through the leak report (train as the reference side) and
    // the incremental gate (seen corpus as the reference side): default 0
    // is bit-identical to the uncapped form
    assert(Dedup.evalLeakReport(docs, minRunTokens = 8).collect().toSeq ==
      Dedup.evalLeakReport(docs, minRunTokens = 8, maxTrainDf = 1000000).collect().toSeq)
    val inc = Dedup.verbatimIncremental(
      docs.where($"doc_id" === bId), docs.where($"doc_id".isin(evalIds: _*)),
      minRunTokens = 8, maxRefDf = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(inc(bId), "the incremental gate must admit a template-only doc under the cap")
    // and the TREATMENT: the capped trim removes exactly the 8-token
    // content quote from A and leaves B's template UNTOUCHED (uncapped it
    // would strip B's 10 template tokens — a training doc losing text for
    // sharing a benchmark's FORMAT)
    val trimCap = Dedup.decontaminateTrim(docs, minRunTokens = 8, maxEvalDf = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(trimCap(a) == 8L && trimCap(bId) == 0L && trimCap(c) == 0L, trimCap.toString)
    val trimUncapped = Dedup.decontaminateTrim(docs, minRunTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(trimUncapped(bId) == 10L, trimUncapped.toString)
  }

  test("verbatimIncremental: a long quote drops a doc a signature admission would wave through") {
    import spark.implicits._
    val reference = Seq((100L, "q w e r t y u i o p")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "x1 x2 e r t y u i x3 x4 x5 x6 x7 x8"),  // quotes 6 ref tokens
      (2L, "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10")        // fresh
    ).toDF("doc_id", "text")
    val out = Dedup.verbatimIncremental(incoming, reference, minRunTokens = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    // doc 1's word-shingle Jaccard vs the reference is 2/14 — far below
    // any near-dedup threshold — yet it verbatim-quotes 6 contiguous
    // tokens: exactly the admission the run rule exists to refuse
    assert(out == Seq((1L, 1L, 6L, false), (2L, 0L, 0L, true)))
    // one token longer than the quote: both admit
    assert(Dedup.verbatimIncremental(incoming, reference, minRunTokens = 7)
      .collect().forall(_.getBoolean(3)))
  }

  test("verbatimIncrementalIndexed: equals inline, FailIfMissing, build-once serve-twice") {
    import org.apache.spark.sql.functions.col
    val base = Tables.documents(spark, dir)
    val bucket = Sampling.hashBucket(col("doc_id"))
    val batch = base.where(bucket >= 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val inline = rows(Dedup.verbatimIncremental(batch, base.where(bucket < 50)))
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = Dedup.verbatimPosIndexName(50, 5)
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    intercept[graft.core.GraftException] {
      Dedup.verbatimIncrementalIndexed(spark, dir, batch,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(rows(Dedup.verbatimIncrementalIndexed(spark, dir, batch)) == inline)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    assert(rows(Dedup.verbatimIncrementalIndexed(spark, dir, batch)) == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }

  test("decontaminateRuns: train docs containing an eval passage flag at the run rule") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // every doc: 5 unique tokens + the SAME 8-token quote — any pair
    // shares exactly the 8-token run, so expectations are uniform and the
    // id-hash bucket split drives who is train and who is eval
    val quote = "k1 k2 k3 k4 k5 k6 k7 k8"
    val docs = (0L until 200L)
      .map(i => (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e $quote"))
      .toDF("doc_id", "text")
    val nEval = docs.where(Sampling.hashBucket(col("doc_id")) >= 90).count()
    assert(nEval > 0L)
    val out = Dedup.decontaminateRuns(docs, minRunTokens = 8)
    val rows = out.collect()
    assert(rows.length == docs.where(Sampling.hashBucket(col("doc_id")) < 80).count())
    // every train doc contains the eval passage: mr = 8 exactly (the
    // unique flanks stop the island), every eval doc is a hit
    assert(rows.forall(r => r.getLong(1) == 8L && r.getLong(2) == nEval &&
      r.getBoolean(3)))
    // one token above the quote: the measurement stays, the flag drops
    val strict = Dedup.decontaminateRuns(docs, minRunTokens = 9).collect()
    assert(strict.forall(r => r.getLong(1) == 8L && r.getLong(2) == 0L &&
      !r.getBoolean(3)))
  }

  test("decontaminateTrim: exactly the eval passage is removed, everything else byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val quote = "k1 k2 k3 k4 k5 k6 k7 k8"
    val long = (0L until 200L)
      .map(i => (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e $quote"))
    val short = (200L until 210L).map(i => (i, s"s$i t$i"))  // < shingleSize
    val docs = (long ++ short).toDF("doc_id", "text")
    val out = Dedup.decontaminateTrim(docs, minRunTokens = 8).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // surgical: the 8-token eval passage goes, the 5 unique flanking
    // tokens stay, in order — the doc survives decontaminated
    out.foreach { case (id, (kept, nt, nr)) =>
      if (id < 200L) {
        assert(nt == 13L && nr == 8L, s"doc $id: $nt/$nr")
        assert(kept == s"u${id}a u${id}b u${id}c u${id}d u${id}e", s"doc $id: '$kept'")
      } else {
        // sub-shingle docs pass through untouched
        assert(nr == 0L && kept == s"s$id t$id")
      }
    }
    // the trim set IS the flag set: treatment and audit agree doc-for-doc
    val flagged = Dedup.decontaminateRuns(docs, minRunTokens = 8).collect()
      .filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(out.filter(_._2._3 > 0L).keySet == flagged)
    // above the quote length nothing is removed and text is byte-identical
    assert(Dedup.decontaminateTrim(docs, minRunTokens = 9).collect()
      .forall(r => r.getLong(3) == 0L))
  }
}
