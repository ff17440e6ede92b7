package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: measured scale-up evidence for the flagship operators.
  *
  * Replicates the sf embedding corpus `factor`× (ids re-keyed, vectors
  * perturbed per replica so near-dup structure survives but exact-dup
  * collapse doesn't trivialize the work) into a MULTI-FILE parquet table
  * — restoring the split-count parallelism the single-file testdata
  * lacks — then times exact top-k, LSH probe, IVF probe, and SimHash
  * near-dup candidate generation at the inflated size. The point is the
  * SHAPE of the growth: per-row cost must stay flat (linear total) and
  * no operator may degenerate to a single task or an all-pairs join.
  *
  * Usage: runMain graft.ScaleSmoke [factor] [sfDir]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(500)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r18: codegen-cache headroom, the Bench.scala measurement
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.core.Tables

    val dirHash = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

    // Replicate a source table `f`-fold into a cached multi-file parquet
    // copy (restoring the split-count parallelism single-file testdata
    // hides); `reps` maps (base row, replica idx, base row count) to the
    // re-keyed replica row.
    def replicate(tag: String, f: Int,
                  base: org.apache.spark.sql.DataFrame,
                  reps: (org.apache.spark.sql.DataFrame, Long) => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val path = s"${sys.props("java.io.tmpdir")}/graft-scale-$tag-$dirHash-$f"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
        Tables.write(reps(base.crossJoin(spark.range(f).toDF("rep")), base.count())
          .repartition(32))
          .mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }

    val e = replicate("emb", factor, Tables.embeddings(spark, dir), (crossed, n) =>
      crossed.select(
        (col("vec_id") + col("rep") * n).as("vec_id"),
        // perturb one component per replica: vectors stay near their
        // original (near-dup structure intact) without being identical
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN x + rep * 1e-9 ELSE x END)")
          .as("embedding"),
        col("label")))
    // per-stage shuffle volume — the Bench suite's candidate-volume
    // instrument carried into the smoke rows (r14 verdict #8): the banded
    // families' kill signature is tens of GB of candidate shuffle, and the
    // at-scale rows should carry the field, not just wall time. Same
    // listener + flush-before-zero/flush-before-read discipline as Bench.
    val shufR = new java.util.concurrent.atomic.AtomicLong(0)
    val shufW = new java.util.concurrent.atomic.AtomicLong(0)
    // source-scan input bytes — the pruned-scan stage's measurement: the
    // partition-pruning claim is "blocked sources' files never open", and
    // bytesRead is the field that proves it
    val inBytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shufR.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        inBytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
      }
    })
    def time(label: String)(f: => Long): Unit = {
      org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
      shufR.set(0); shufW.set(0)
      val t0 = System.nanoTime()
      val rows = f
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
      println(f"## $label%-22s $secs%8.2f s  ($rows rows)  " +
        f"[shuffle r ${shufR.get() / 1048576.0}%.1f MB / w ${shufW.get() / 1048576.0}%.1f MB]")
    }
    println(s"## corpus: ${e.count()} vectors x 64 dims, " +
      s"${e.rdd.getNumPartitions} scan partitions")

    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.split(",").toSet)
    def stage(label: String)(f: => Long): Unit =
      if (only.forall(_.exists(label.startsWith))) time(label)(f)

    val qv = Similarity.queryVector(spark, dir, 0L)
    import graft.functions.VectorFunctions.cosine_sim
    stage("exact top-k") {
      e.select(col("vec_id"), round(cosine_sim(col("embedding"), typedLit(qv)), 6).as("s"))
        .orderBy(desc("s"), asc("vec_id")).limit(10)
        .queryExecution.toRdd.count()
    }
    stage("batch sim join (8q)") {
      Similarity.similarityJoin(e,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
        k = 5).queryExecution.toRdd.count()
    }
    // centroid lookup hoisted out of the timed block — it is a separate
    // driver-side point scan, not the operator under measurement
    val cents = graft.operators.Ann.seedCentroids(Tables.embeddings(spark, dir), 16)
    stage("ivf cell assignment") {
      graft.operators.Ann.assignCells(e, cents)
        .groupBy(col("cell")).agg(count(lit(1)))
        .queryExecution.toRdd.count()
    }
    stage("pq adc top-k") {
      import org.apache.spark.sql.graft.Bridge
      val dsub = 8
      val cb = (0 until 8).map(s => cents.map(_.slice(s * dsub, (s + 1) * dsub)))
      e.select(col("vec_id"),
          round(cosine_sim(Bridge.column(graft.functions.PqReconstruct(
            Bridge.expression(col("embedding").cast("array<double>")), cb)),
            typedLit(qv)), 6).as("s"))
        .orderBy(desc("s"), asc("vec_id")).limit(10)
        .queryExecution.toRdd.count()
    }
    stage("hard negatives (8a)") {
      graft.operators.Mining.hardNegatives(e, 8)
        .queryExecution.toRdd.count()
    }
    stage("knn label audit (16a)") {
      // fixed ~16-anchor budget regardless of corpus size — the production
      // posture: the audit samples a constant anchor count, so its cost is
      // one corpus scan (scored pairs = anchors × corpus, not a fraction²)
      // Long end-to-end: a .toInt here goes negative past ~34B rows and
      // pmod then selects wrong/no anchors — the exact regime this smoke
      // test exists to model.
      val anchorMod = math.max(1L, e.count() / 16L)
      graft.operators.EmbeddingStats.knnLabelAudit(e, k = 10, anchorMod = anchorMod)
        .queryExecution.toRdd.count()
    }
    stage("simhash candidates") {
      import graft.functions.LshFunctions
      val withBits = e.select(col("vec_id"),
        LshFunctions.simhash_bits(col("embedding"), 24, 64).as("bs"))
      withBits.select(col("vec_id"),
          posexplode(LshFunctions.band_keys(col("bs"), 3, 8)).as(Seq("band", "key")))
        .groupBy(col("band"), col("key")).agg(count(lit(1)).as("c"))
        .queryExecution.toRdd.count()
    }

    // Round-7 incremental-dedup family: replicate the documents table with
    // BOUNDED near-dup families — replicas 0-1 keep the base text (one
    // near-dup partner pair per base doc), later replicas are made
    // dissimilar by translating vowels+spaces to rep-dependent consonants
    // (destroys char-shingle overlap). An unbounded family (every replica
    // similar) is the adversarial mega-clique regime: candidate pairs grow
    // O(family²) and the Jaccard-verify join ships both shingle sets per
    // pair — measured 1.55M pairs / ~37 GB of verify traffic at 125k docs,
    // vs ~corpus-sized candidates here. Real crawls are the bounded case;
    // mega-cliques are what the downstream connected-components resolve
    // handles. factor/10 keeps text volume comparable to the embeddings.
    val docFactor = math.max(1, factor / 10)
    // the translate target must be INJECTIVE in rep or same-residue
    // replicas get byte-identical texts (exact-dup families the bounded
    // design excludes); two independent windows give 18×19 = 342 targets
    require(docFactor <= 342, s"docFactor $docFactor exceeds distinct translate targets")
    val docs = replicate("docs5", docFactor, // tag versions the generator formula
      Tables.documents(spark, dir), (crossed, n) =>
        crossed.select((col("doc_id") + col("rep") * n).as("doc_id"),
          when(col("rep") < 2, concat(col("text"), lit(" r"), col("rep")))
            .otherwise(expr(
              """translate(text, 'aeiou ', concat(
                |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(rep, 18) as int) + 1, 3),
                |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(rep div 18, 19) as int) + 1, 2),
                |  '_'))""".stripMargin))
            .as("text"),
          col("lang"), col("source")))
    // content-hash split, not id magnitude: sparse or offset id spaces
    // would make a value-threshold split degenerate to one empty side
    val half = graft.operators.Sampling.hashBucket(col("doc_id")) < 50
    stage("incr exact dedup") {
      graft.operators.Dedup.exactIncremental(docs.where(!half), docs.where(half))
        .queryExecution.toRdd.count()
    }
    stage("incr near dedup") {
      graft.operators.Dedup.ngramNearIncremental(docs.where(!half), docs.where(half))
        .queryExecution.toRdd.count()
    }

    // Round-8 indexed incremental dedup: the same admissions served by the
    // CATALOG-MANAGED stored index. A dir-shaped view of the replicated
    // corpus backs the registry (the API is dir-coupled by design — an
    // index belongs to a catalog, not a DataFrame). Stage #1 pays the
    // one-time index build (dropped first so the measurement is honest);
    // stage #2 is the steady-state per-batch cost a pipeline actually pays
    // — history is never re-hashed (exact) or re-shingled (near).
    val scaleDir = s"${sys.props("java.io.tmpdir")}/graft-scale-sfdir-$dirHash-$docFactor"
    locally {
      val link = java.nio.file.Paths.get(scaleDir, "documents.parquet")
      java.nio.file.Files.createDirectories(link.getParent)
      // recreate unconditionally: a link left by an older generator tag
      // would silently serve stale data (and exists() follows links, so a
      // dangling one also defeats a create-if-missing guard)
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(
        s"${sys.props("java.io.tmpdir")}/graft-scale-docs5-$dirHash-$docFactor"))
    }
    def dropIfRegistered(name: String): Unit = {
      val reg = graft.operators.CatalogOps.indexRegistry(spark, scaleDir)
      if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    }
    // the drop lives INSIDE the build stage so an isolated probe run
    // (SPARK_GRAFT_SMOKE_ONLY="incr near IDX probe") reuses a prior build
    stage("incr exact IDX build") {
      dropIfRegistered(graft.operators.Dedup.exactFpIndexName(50))
      graft.operators.Dedup.exactIncrementalIndexed(spark, scaleDir, docs.where(!half))
        .queryExecution.toRdd.count()
    }
    stage("incr exact IDX probe") {
      graft.operators.Dedup.exactIncrementalIndexed(spark, scaleDir, docs.where(!half))
        .queryExecution.toRdd.count()
    }
    stage("incr near IDX build") {
      dropIfRegistered(graft.operators.Dedup.ngramBandIndexName(50, 8))
      graft.operators.Dedup.ngramNearIncrementalIndexed(spark, scaleDir, docs.where(!half))
        .queryExecution.toRdd.count()
    }
    stage("incr near IDX probe") {
      graft.operators.Dedup.ngramNearIncrementalIndexed(spark, scaleDir, docs.where(!half))
        .queryExecution.toRdd.count()
    }
    stage("lang id") {
      graft.operators.TextAnalysis.langId(docs).queryExecution.toRdd.count()
    }

    // LSH dial measurements (the PLANS.md scale table): per near-dup
    // family, the banded bucket histogram — max bucket size and the
    // in-bucket pair upper bound Σ c·(c−1)/2 — plus the DISTINCT candidate
    // count the verify join actually receives, then the end-to-end wall
    // time of the full operator (bucketing + verify) at this corpus size.
    val D = graft.operators.Dedup
    def lshStats(label: String, banded: org.apache.spark.sql.DataFrame,
                 idCol: String): Unit =
      if (only.forall(_.exists(label.startsWith))) {
        val h = banded.groupBy(col("band"), col("key")).agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("mx"),
            sum(when(col("c") > 1, (col("c") * (col("c") - 1) / 2).cast("bigint"))
              .otherwise(0L)).as("ub"))
          .collect()(0)
        val candN = D.candidatePairs(banded, "band", "key", idCol).count()
        println(f"## $label%-22s max bucket ${h.getLong(0)}%6d  " +
          f"pair UB ${h.getLong(1)}%10d  distinct candidates $candN%10d")
      }

    stage("minhash near-dup") { D.minhashNear(docs).queryExecution.toRdd.count() }
    stage("minhash approx near-dup") {
      // signature-only verify: nothing document-length-sized past the scan
      D.minhashNearApprox(docs).queryExecution.toRdd.count()
    }
    lshStats("minhash buckets r2b6",
      D.ngramBandKeys(D.minhashShingled(docs, 3), 12, 6), "doc_id")
    // the replica-crawl saturation regime, TEXT edition (the r15 band-key
    // audit discipline): every doc maps to one of 2000 duplicate classes
    // (two near-twin variants each, word-trigram J = 0.8), so byte-
    // identical groups of ~n/4000 share EVERY band key and Σ|bucket|² is
    // quadratic in the group size — no banding parameter can cut it. The
    // audit-gated auto entry collapses to the ~4000 distinct texts before
    // mining (output linear); the explicit form is registered on a 10%
    // slice only — the bounded measurement of the quadratic arm, the
    // video-near-hamming device.
    val tsat = {
      val cls = "md5(cast(doc_id % 2000 as string))"
      docs.select(col("doc_id"), expr(
        s"""concat(concat_ws(' ',
           |    substring($cls, 1, 5), substring($cls, 6, 5),
           |    substring($cls, 11, 5), substring($cls, 16, 5),
           |    substring($cls, 21, 5), substring($cls, 26, 5)),
           |  CASE WHEN doc_id % 4000 < 2000 THEN '' ELSE ' zvariant' END)""".stripMargin)
        .as("text"), col("lang"), col("source"))
    }
    locally {
      stage("minhash key audit (sat)") {
        D.minhashKeyAudit(tsat).queryExecution.toRdd.count()
      }
      stage("minhash near (sat 10%)") {
        D.minhashNear(tsat.where(
          graft.operators.Sampling.hashBucket(col("doc_id")) < 10))
          .queryExecution.toRdd.count()
      }
      stage("minhash near auto (sat)") {
        D.minhashNearAuto(tsat).queryExecution.toRdd.count()
      }
      stage("overlap key audit (sat)") {
        // the positional family's probe on the same replica crawl: byte-
        // identical docs share every shingle at every position, so the
        // co-occurrence volume has the Σ occ² replica floor
        D.overlapKeyAudit(tsat).queryExecution.toRdd.count()
      }
      stage("verbatim overlap (sat 10%)") {
        // the bounded registration of the quadratic co-occurrence arm —
        // the minhash-near-sat device for the positional family
        D.verbatimOverlap(tsat.where(
            graft.operators.Sampling.hashBucket(col("doc_id")) < 10),
          minRunTokens = 6).queryExecution.toRdd.count()
      }
      stage("verbatim overlap auto (sat)") {
        // the self-dialed escape at the full corpus: reps ≈ 4000 distinct
        // texts, co-occurrences linear in them
        D.verbatimOverlapAuto(tsat, minRunTokens = 6)
          .queryExecution.toRdd.count()
      }
    }
    stage("verbatim overlap (healthy 250k)") {
      // a genuinely near-distinct 250k-doc corpus for the positional
      // family: the shared `docs` corpus is unusable here — its translate
      // map consumes the SPACE character, so every rep>=2 doc is a single
      // token with zero postings and the mine would silently measure only
      // the 10k r0/r1 twins (the first registration of this stage did
      // exactly that: factor-invariant output, caught by comparing rows
      // across factors). This corpus translates VOWELS ONLY with a
      // per-DOC map, so texts stay multi-word and near-distinct; shared
      // runs exist only where replicas of one base doc collide on the
      // 18x19 map grid
      val hdocs = docs.select(col("doc_id"), expr(
        """translate(text, 'aeiou', concat(
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id, 18) as int) + 1, 3),
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id div 18, 19) as int) + 1, 2)))""".stripMargin)
        .as("text"))
      D.verbatimOverlap(hdocs, minRunTokens = 10).queryExecution.toRdd.count()
    }
    stage("verbatim dfcap (boiler)") {
      // the BOILERPLATE regime (r15 verdict missing #1): the 250k
      // near-distinct corpus with one shared 10-word template header —
      // distinct texts, so the sha-rep escape cannot collapse anything,
      // and each of the header's ~6 pure shingles posts ~250k times:
      // uncapped co-occurrence volume ~6·(250k)² ≈ 4e11 rows, unrunnable
      // by construction. The df-capped mine drops the hot postings before
      // the join and completes linearly; the audit row alongside (below)
      // registers the avoided volume as a measured number.
      val hdr = (1 to 10).map(i => s"hx$i").mkString(" ")
      val bdocs = docs.select(col("doc_id"), expr(
        s"""concat('$hdr ', translate(text, 'aeiou', concat(
           |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id, 18) as int) + 1, 3),
           |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id div 18, 19) as int) + 1, 2))))""".stripMargin)
        .as("text"))
      D.verbatimOverlapDfCap(bdocs, minRunTokens = 10, maxDf = 64)
        .queryExecution.toRdd.count()
    }
    stage("overlap audit (boiler)") {
      // the Σ occ² floor the cap avoids, measured: one bounded row whose
      // est_candidates carries the ~4e11 uncapped join volume
      val hdr = (1 to 10).map(i => s"hx$i").mkString(" ")
      val bdocs = docs.select(col("doc_id"), expr(
        s"""concat('$hdr ', translate(text, 'aeiou', concat(
           |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id, 18) as int) + 1, 3),
           |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id div 18, 19) as int) + 1, 2))))""".stripMargin)
        .as("text"))
      D.overlapKeyAudit(bdocs).queryExecution.toRdd.count()
    }
    stage("verbatim incr (10%)") {
      // the against-seen-corpus rung at scale: 10% incoming vs the other
      // 90% as inline reference (the same vowels-translated near-distinct
      // corpus as the healthy row — the shared docs corpus's space-eating
      // translate would empty the posting side)
      val hdocs = docs.select(col("doc_id"), expr(
        """translate(text, 'aeiou', concat(
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id, 18) as int) + 1, 3),
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id div 18, 19) as int) + 1, 2)))""".stripMargin)
        .as("text"))
      val b = graft.operators.Sampling.hashBucket(col("doc_id"))
      D.verbatimIncremental(hdocs.where(b >= 90), hdocs.where(b < 90))
        .queryExecution.toRdd.count()
    }
    stage("decontaminate trim (250k)") {
      // the decontamination TREATMENT at scale: trim every train token
      // covered by a >= 13-token run shared with the bucket>=90 eval
      // slice — the realistic shape (eval side benchmark-sized relative
      // to train), over the same near-distinct vowels-translated corpus
      val hdocs = docs.select(col("doc_id"), expr(
        """translate(text, 'aeiou', concat(
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id, 18) as int) + 1, 3),
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id div 18, 19) as int) + 1, 2)))""".stripMargin)
        .as("text"))
      D.decontaminateTrim(hdocs).queryExecution.toRdd.count()
    }
    stage("eval leak report (250k)") {
      // the per-benchmark leak report at scale: the aggregation keys on
      // the bounded eval side, train postings stream through one hash
      // join — same vowels-translated near-distinct corpus
      val hdocs = docs.select(col("doc_id"), expr(
        """translate(text, 'aeiou', concat(
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id, 18) as int) + 1, 3),
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id div 18, 19) as int) + 1, 2)))""".stripMargin)
        .as("text"))
      D.evalLeakReport(hdocs).queryExecution.toRdd.count()
    }
    stage("decontam runs indexed (250k)") {
      // the fixed-benchmark deployment shape at scale: the eval index is
      // built once from the base dir's documents (the registry slice) and
      // a 250k training snapshot streams through the stored postings —
      // per-snapshot cost O(train postings), eval never re-tokenized
      val hdocs = docs.select(col("doc_id"), expr(
        """translate(text, 'aeiou', concat(
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id, 18) as int) + 1, 3),
          |  substr('bcdfghjklmnpqrstvwxz', cast(pmod(doc_id div 18, 19) as int) + 1, 2)))""".stripMargin)
        .as("text"))
      D.decontaminateRunsIndexed(spark, dir, hdocs, trainPct = 100)
        .queryExecution.toRdd.count()
    }
    stage("stream decontam admit") {
      // contamination refused at the training-store door, at scale: the
      // eval index is a build-time fact (resolved OUTSIDE the admit loop,
      // as the registry deployment does); a 250k crawl snapshot streams
      // through in 5 batches and each batch pays one hash join of its own
      // postings against the stored benchmark-sized eval table. The raw
      // replicated corpus is the device: rep<2 docs carry full-length
      // runs of their base documents, so replicas of eval-slice bases
      // genuinely contaminate and must be refused with attribution.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      D.evalPos(spark, dir, 90, 5, graft.core.IndexPolicy.BuildIfMissing) // outside the timer loop
      val rows = docs.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      val base = java.nio.file.Files.createTempDirectory("graft-sdadmit-").toString
      val mem = MemoryStream[(Long, String)]
      var admitted = 0L
      var rejected = 0L
      rows.grouped(50000).zipWithIndex.foreach { case (b, i) =>
        mem.addData(b: _*)
        val t0 = System.nanoTime()
        val q = graft.streaming.Streaming.streamDecontamAdmit(spark, dir,
          mem.toDF().toDF("doc_id", "text"), s"$base/ckpt",
          policy = graft.core.IndexPolicy.FailIfMissing)(
          df => admitted += df.count(), df => rejected += df.count())
        try q.awaitTermination(600000) finally q.stop()
        val tt0 = System.currentTimeMillis()
        while (spark.streams.active.nonEmpty && System.currentTimeMillis() - tt0 < 10000)
          Thread.sleep(50)
        println(f"##   batch $i%3d admit ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
      println(f"##   admitted $admitted%,d  rejected $rejected%,d")
      admitted + rejected
    }
    stage("source gate (250k)") {
      // the host-level gate at scale: per-doc gate columns audit-join on
      // doc_id, ONE aggregation keyed by source (partial agg map-side —
      // the shuffle carries sources x partitions rows, not documents),
      // and a sources-sized verdict output
      graft.operators.SourceCurate.sourceGate(docs)
        .queryExecution.toRdd.count()
    }
    stage("stream source admit") {
      // the running-evidence host door at scale: 5 batches of 50k; state
      // is the per-source stats table — bounded by the NUMBER OF SOURCES,
      // the smallest state of any gate here
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val rows = docs.select(col("doc_id").cast("long"), col("text"),
          col("lang"), col("source"))
        .as[(Long, String, String, String)].collect()
      val base = java.nio.file.Files.createTempDirectory("graft-ssrcadmit-").toString
      val mem = MemoryStream[(Long, String, String, String)]
      var admitted = 0L
      rows.grouped(50000).zipWithIndex.foreach { case (b, i) =>
        mem.addData(b: _*)
        val t0 = System.nanoTime()
        val q = graft.streaming.Streaming.streamSourceGateAdmit(
          mem.toDF().toDF("doc_id", "text", "lang", "source"),
          s"$base/out", s"$base/ckpt")(df => admitted += df.count())
        try q.awaitTermination(600000) finally q.stop()
        val tt0 = System.currentTimeMillis()
        while (spark.streams.active.nonEmpty && System.currentTimeMillis() - tt0 < 10000)
          Thread.sleep(50)
        println(f"##   batch $i%3d admit ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
      println(f"##   admitted $admitted%,d of ${rows.length}%,d")
      admitted
    }
    stage("source auto rank (1M hosts)") {
      // the two-level rank at web-crawl host counts (r17 advice: the
      // global row_number window was a single task here): 1M synthetic
      // measured hosts → per-bucket parallel rank + a ≤1001-entry
      // driver-side prefix sum; no partitionless window in the plan
      val hosts = spark.range(1000000L).select(
        format_string("h%07d", col("id")).as("source"),
        (lit(5L) + col("id") % 7).as("n_docs"),
        (lit(100L) * (lit(5L) + col("id") % 7)).as("n_tokens"),
        (pmod(hash(col("id")), lit(1000000)).cast("bigint")
          * (lit(5L) + col("id") % 7)).as("q_micro_sum"),
        lit(0L).as("n_low_quality"), lit(0L).as("n_repetitive"),
        lit(0L).as("n_pii"))
      graft.operators.SourceCurate.sourceGateAutoFromStats(hosts)
        .queryExecution.toRdd.count()
    }
    stage("pruned scan bytes") {
      // the scan-avoidance claim END-TO-END (r17 verdict #7): write the
      // 250k corpus partitioned by source, block the bottom half of hosts
      // by quality, and compare bytes READ by a full scan vs the pruned
      // scan — blocked sources' files are never opened (planning-time
      // PartitionFilters), so the delta is measured, not asserted
      val S = graft.operators.SourceCurate
      val path = s"${sys.props("java.io.tmpdir")}/graft-scale-bysource-$dirHash-$docFactor"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")))
        S.writeBySource(docs, path)
      val kept = S.sourceGateAutoFromStats(S.sourceStats(docs),
          blockBottomPct = 50)
        .where(col("keep")).select(col("source"))
        .collect().map(_.getString(0)).toSeq // sources-sized, the gate contract
      org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
      inBytes.set(0)
      val fullRows = spark.read.parquet(path).queryExecution.toRdd.count()
      org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
      val fullB = inBytes.get()
      inBytes.set(0)
      val n = S.prunedScan(spark, path, kept).queryExecution.toRdd.count()
      org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
      val prunedB = inBytes.get()
      println(f"##   bytes read: full $fullB%,d ($fullRows%,d rows) -> pruned " +
        f"$prunedB%,d ($n%,d rows) with ${kept.length} sources kept " +
        f"(${100.0 * (fullB - prunedB) / math.max(1L, fullB)}%.1f%% avoided)")
      n
    }
    stage("mixture draw (250k)") {
      // the executable mixture at scale: evidence is ONE groupBy(source)
      // aggregation (map-side combined, reducers = #sources), the plan is
      // sources-sized and broadcast, and the per-doc draw is one narrow
      // codegen projection — the corpus is touched once, nothing
      // data-sized shuffles (the shuffle columns should read ~0)
      graft.operators.Sampling.mixtureDraw(docs)
        .queryExecution.toRdd.count()
    }
    stage("mixture audit (250k)") {
      // achieved-vs-target: the draw joined back to per-doc token counts,
      // one more groupBy(source) — the realized-mixture audit a curator
      // publishes; still nothing beyond sources x partitions in a shuffle
      graft.operators.Sampling.mixtureAudit(docs)
        .queryExecution.toRdd.count()
    }
    stage("mixture incr (1% batch)") {
      // the running-evidence draw's steady-state cost: a 1% batch drawn
      // under state = token stats of everything else — per-batch work is
      // the batch's own stats aggregation + a sources-sized merge, never
      // a re-scan of history (state here is materialized OUTSIDE the
      // timer, as the streaming checkpoint would hold it)
      val incHalf = graft.operators.Sampling.hashBucket(col("doc_id")) < 1
      val state = graft.operators.Sampling.sourceTokenStats(docs.where(!incHalf))
        .persist()
      state.count()
      try graft.operators.Sampling
        .mixtureDrawIncremental(docs.where(incHalf), state)
        .queryExecution.toRdd.count()
      finally state.unpersist()
    }
    stage("mixture plan (1M hosts)") {
      // the planner alone at web-crawl host counts: from-stats weights /
      // epochs over 1M synthetic sources — one 1-row denominator
      // aggregation broadcast back onto sources-sized rows; re-planning a
      // new temperature or budget never re-reads a corpus
      val hosts = spark.range(1000000L).select(
        format_string("h%07d", col("id")).as("source"),
        (lit(5L) + col("id") % 7).as("docs"),
        (lit(100L) * (lit(5L) + col("id") % 7)).as("tokens"))
      graft.operators.Sampling.sourceMixtureFromTokenStats(hosts)
        .queryExecution.toRdd.count()
    }
    stage("budget hist (250k)") {
      // the token-weighted score histogram at scale: one map-side-combined
      // aggregation into ≤1001 bins — the shuffle carries bins x
      // partitions rows, never documents; the per-doc quality scan is the
      // whole cost
      graft.operators.BudgetSelect.scoreHistogram(docs)
        .queryExecution.toRdd.count()
    }
    stage("budget select (250k)") {
      // the full selection frame: threshold from the bins-sized driver
      // suffix sum, bins above/below decided with NO ordering, and only
      // the boundary bin (~1/bins of the corpus) enters the micro-
      // partitioned window — the shuffle beyond the final doc_id output
      // sort is boundary-sized
      val total = graft.operators.BudgetSelect.scoreHistogram(docs)
        .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
      graft.operators.BudgetSelect.selectByBudget(docs, total * 40L / 100L)
        .queryExecution.toRdd.count()
    }
    stage("budget incr (1% batch)") {
      // the running-evidence admission's steady state: a 1% batch scored
      // (batch-sized cost) and judged under state = the histogram of
      // everything else merged with its own — the merge is bins-sized,
      // history is never re-read (state materialized OUTSIDE the timer,
      // as the streaming checkpoint would hold it)
      val incHalf = graft.operators.Sampling.hashBucket(col("doc_id")) < 1
      val state = graft.operators.BudgetSelect.scoreHistogram(docs.where(!incHalf))
        .persist()
      state.count()
      try graft.operators.BudgetSelect
        .selectIncremental(docs.where(incHalf), state, 1000000L)
        .queryExecution.toRdd.count()
      finally state.unpersist()
    }
    locally {
      // the recrawl pair at scale: 5% of docs removed, 10% rewritten,
      // the rest byte-identical — a crawl cycle's realistic turnover
      val sb = graft.operators.Sampling.hashBucket(col("doc_id"))
      val newSnap = docs.where(sb >= 5).withColumn("text",
        when(sb >= 40 && sb < 50, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      stage("snapshot diff (250k)") {
        // both sides reduce to narrow (id, md5) projections before the
        // one full-outer equi-join — the shuffle carries ~40 bytes/doc,
        // not text
        graft.operators.SnapshotDiff.corpusDiff(docs, newSnap)
          .queryExecution.toRdd.count()
      }
      // the stored-hash side is built OUTSIDE the timer (as the registry
      // does) so the probe stage measures the per-recrawl steady state
      val hp = s"${sys.props("java.io.tmpdir")}/graft-scale-snaphash-$dirHash-$docFactor"
      if (only.forall(_.exists("snapshot delta probe".startsWith)) &&
          !java.nio.file.Files.exists(java.nio.file.Paths.get(hp, "_SUCCESS")))
        Tables.write(graft.operators.SnapshotDiff.contentHashes(docs))
          .mode("overwrite").parquet(hp)
      stage("snapshot delta probe") {
        // the cycle pays one hash scan of the new snapshot + a narrow
        // left join against the stored table — old text never read
        graft.operators.SnapshotDiff.changedDocs(
            spark.read.parquet(hp), newSnap)
          .queryExecution.toRdd.count()
      }
      // delta re-curation's measured claim: the full decisions frame over
      // the new snapshot at O(|delta|) per-doc analysis cost. The stored
      // evidence (built outside the timer, as a pipeline would hold it
      // from the previous cycle) carries ~90% of rows; only the ~10%
      // rewritten slice pays the tokenizer/bigram/regex scans. The "gate
      // full" row is the same frame re-gated from scratch — the pair is
      // the measurement.
      val ep = s"${sys.props("java.io.tmpdir")}/graft-scale-gateev-$dirHash-$docFactor"
      if (only.forall(_.exists("gate delta".startsWith)) &&
          !java.nio.file.Files.exists(java.nio.file.Paths.get(ep, "_SUCCESS")))
        Tables.write(graft.operators.CorpusFilter.gateEvidence(docs))
          .mode("overwrite").parquet(ep)
      stage("gate full (250k)") {
        graft.operators.CorpusFilter.decisions(newSnap)
          .queryExecution.toRdd.count()
      }
      stage("gate delta (10%)") {
        graft.operators.CorpusFilter.decisionsDelta(
            spark.read.parquet(ep), newSnap)
          .queryExecution.toRdd.count()
      }
    }
    stage("ngram near-dup") { D.ngramNear(docs).queryExecution.toRdd.count() }
    lshStats("ngram buckets n8r3b4",
      D.ngramBandKeys(D.ngramShingled(docs, 8), 12, 4), "doc_id")
    stage("simhash near-dup") { D.simhashNear(e).queryExecution.toRdd.count() }
    lshStats("simhash buckets 24/3",
      D.simhashBandedKeys(e, 24, 3, 64), "vec_id")

    // Round-8 additions. nCells scales with the corpus for the cell-
    // partitioned ops (the granularity contract in their scaladoc): hold
    // the MEAN cell at the sf0.1 size (2000/16 = 125 vectors) as the
    // corpus grows, exactly how a production deployment would dial it.
    val S = graft.operators.Sampling
    val nc = math.max(16, (e.count() / 125).toInt)
    stage(s"semantic dedup c$nc") {
      D.semanticDedup(e, nCells = nc, tau = 0.4).queryExecution.toRdd.count()
    }
    stage(s"semantic dedup2 f$nc") {
      // the hierarchical rung at the same fine granularity: only the
      // ~√nc coarse layer is driver state/literal; the fine layer is a
      // TABLE and assignment ships each vector through a ccell equi-join
      // (~nc/√nc fine candidates/vector) instead of nc fused cosines
      val ncoarse = math.max(2, math.sqrt(nc.toDouble).toInt)
      D.semanticDedup2(e, nFine = nc, nCoarse = ncoarse, tau = 0.4)
        .queryExecution.toRdd.count()
    }
    stage(s"semantic incr c$nc (1% batch)") {
      // the per-snapshot admission shape: a batch of N/100 fresh-keyed
      // vectors against the FULL corpus as reference — cost must track
      // batch-side cell density (the equi-join fan-out ~|batch|·|cell|),
      // never |history|²
      val incoming = e.where(col("vec_id") % 100 === 0)
        .withColumn("vec_id", col("vec_id") + lit(1L << 40))
      D.semanticIncremental(incoming, e, nCells = nc, tau = 0.4)
        .queryExecution.toRdd.count()
    }
    // the INDEXED twin's steady-state cost: the reference assignment is
    // stored (built once OUTSIDE the timer, as the registry does), and a
    // batch admission pays only its own assignment + the cell equi-join —
    // the 1%-batch stage above shows the inline form instead re-pays the
    // full history assignment every snapshot
    if (only.forall(_.exists(p =>
        p.startsWith("semantic incr probe") || s"semantic incr probe c$nc".startsWith(p)))) {
      val cellsPath = s"${sys.props("java.io.tmpdir")}/graft-scale-semcells-$dirHash-$factor"
      val pcents = graft.operators.Ann.seedCentroids(e, nc)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(cellsPath, "_SUCCESS")))
        Tables.write(graft.operators.Ann.assignCells(e.select(col("vec_id"), col("embedding")), pcents)
          .select(col("cell").cast("bigint").as("cell"), col("embedding")))
          .mode("overwrite").parquet(cellsPath)
      val incoming = e.where(col("vec_id") % 100 === 0)
        .withColumn("vec_id", col("vec_id") + lit(1L << 40))
      stage(s"semantic incr probe c$nc") {
        D.semanticIncrementalAgainst(incoming, pcents,
          spark.read.parquet(cellsPath), 0.4).queryExecution.toRdd.count()
      }
    }
    stage("semantic dedup split c16") {
      // the hot-cell regime ON PURPOSE: 16 cells over the whole corpus —
      // a dial the exact form cannot run (Σ|cell|² ≈ 16·(N/16)² cosine
      // verifies, ~6e10 at factor 500). The 8-bit SimHash sub-split
      // re-buckets each hot cell at sign-pattern granularity, so pair
      // work collapses to Σ|sub-bucket|² regardless of assignment skew.
      D.semanticDedupSplit(e, nCells = 16, tau = 0.4, maxCell = 1000)
        .queryExecution.toRdd.count()
    }
    stage("semantic dedup split2 c16") {
      // the recall dial's measured price: 2 OR-banded 4-bit keys per hot
      // row — candidate volume grows as Σ_bands Σ_keys |bucket|² with
      // coarser (4-bit) buckets
      D.semanticDedupSplit(e, nCells = 16, tau = 0.4, maxCell = 1000,
          subBands = 2)
        .queryExecution.toRdd.count()
    }
    // the replica saturation regime, EMBEDDING edition: every vector
    // replaced by its class rep's (2000 classes of ~500 identical copies
    // at 1M rows) — identical vectors share one cell AND one simhash
    // sub-bucket in every band, so the hot-cell split cannot cut the
    // Σ|group|² pair floor. The audit measures it; the auto escape
    // collapses to the 2000 distinct vectors; the naive form is
    // registered on a 1% slice only (the bounded quadratic-arm row).
    locally {
      val cls = e.where(col("vec_id") < 2000)
        .select(col("vec_id").as("__cls"), col("embedding"))
      val esat = e.select(col("vec_id"), (col("vec_id") % 2000).as("__cls"))
        .join(broadcast(cls), Seq("__cls"))
        .select(col("vec_id"), col("embedding"))
      stage("semantic key audit (sat)") {
        D.embedKeyAudit(esat).queryExecution.toRdd.count()
      }
      stage("semantic dedup (sat 1%)") {
        // id-prefix slice, not a hash bucket: the naive form's seeding
        // contract reads vec_id < nCells, which a hash slice would drop
        D.semanticDedup(esat.where(col("vec_id") < 10000))
          .queryExecution.toRdd.count()
      }
      stage("semantic split (sat 1%)") {
        // the blind-spot MEASUREMENT: the hot-cell split on the same
        // slice — identical vectors share every sub-bucket, so the split
        // must cost ≈ the naive form (sub-bucketing cannot cut Σ|group|²)
        D.semanticDedupSplit(esat.where(col("vec_id") < 10000),
            nCells = 16, tau = 0.4, maxCell = 100)
          .queryExecution.toRdd.count()
      }
      stage("semantic dedup auto (sat)") {
        D.semanticDedupAuto(esat).queryExecution.toRdd.count()
      }
    }
    stage(s"bitext mine c$nc p4") {
      // two-set margin mining at the IVF dial: candidate fan-out is
      // nProbe·|X|·|Y|/nCells — nc grows with the corpus so per-cell pair
      // work stays flat, the same granularity contract as semantic dedup
      graft.operators.Bitext.minePairs(
        e.where(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("src_id"), col("embedding").as("src_vec")),
        e.where(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("tgt_id"), col("embedding").as("tgt_vec")),
        k = 4, tau = 1.0, nCells = nc, nProbe = 4)
        .queryExecution.toRdd.count()
    }
    stage(s"bitext mine2 f$nc") {
      // the hierarchical rung: same fine-cell count, coarse layer ~√nc —
      // the only literal shrinks from nc×dim (~4 MB at this dial, 11 MB
      // task binaries) to √nc×dim (~50 KB)
      val ncoarse = math.max(2, math.sqrt(nc.toDouble).toInt)
      graft.operators.Bitext.minePairs2(
        e.where(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("src_id"), col("embedding").as("src_vec")),
        e.where(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("tgt_id"), col("embedding").as("tgt_vec")),
        k = 4, tau = 1.0, nFine = nc, nCoarse = ncoarse, wCoarse = 5, nProbe = 4)
        .queryExecution.toRdd.count()
    }
    stage("span dedup") { D.spanDedup(docs).queryExecution.toRdd.count() }
    stage("image dedup (phash)") {
      // the LINEAR treatment form at its at-scale settings: exact grids
      // collapse before the rep mine, and 3-band agreement (21-bit keys,
      // maxHamming 5 — the lossless bound at t=3) keeps candidate volume
      // D²·C(8,3)/2^21 over D distinct hashes; the 2-band default's
      // 14-bit keys measured ~5 min of candidate expansion at 82k
      // distinct hashes where t=3 mines in seconds
      D.imageDedup(spark,
        docs.select(col("doc_id"), col("text").cast("binary").as("blob")),
        maxHamming = 5, agreeBands = 3)
        .queryExecution.toRdd.count()
    }
    // Multi-frame video pipeline at scale: every replicated doc wrapped as
    // an n-frame container (the frames-header device). The treatment form
    // must stay linear (fingerprint collapse before the vote mine); the
    // banded-Hamming pair form runs under the constant-band bucket cap +
    // auto-t — the regime the round-13 degeneracy note documents.
    locally {
      val M = graft.operators.Multimodal
      val vheader = M.mp4VideoFramesHeader()
      val vids = docs.select(col("doc_id"),
        concat(lit(vheader), col("text").cast("binary")).as("blob"))
      stage("video frame hashes") {
        M.videoFrameHashes(spark, vids).queryExecution.toRdd.count()
      }
      stage("video dedup (frames)") {
        D.videoDedup(spark, vids).queryExecution.toRdd.count()
      }
      // the banded-Hamming pair form runs on a 10% slice: text-derived
      // fake-arm hashes are PATHOLOGICALLY skewed (common lowercase
      // gradients), and at 2.4M frames the under-cap hot buckets alone
      // generated > 77 GB of candidate shuffle (measured: disk-full kill)
      // — the landmark-saturation regime, video edition; the Σ|bucket|²
      // audit discipline applies to the fhash key before mining any
      // unknown corpus, and real frame-hash spaces (near-uniform 56-bit
      // dHashes of distinct frames) do not carry 1000× hot buckets
      stage("video near hamming (10%)") {
        D.videoNearHamming(spark,
          vids.where(graft.operators.Sampling.hashBucket(col("doc_id")) < 10))
          .queryExecution.toRdd.count()
      }
      stage("video dedup auto (full)") {
        // the self-dialed TREATMENT form at the full corpus: the audit on
        // the reps' frames measures the text-gradient skew as saturated
        // and re-keys the rep mine to bigrams — same verdict contract,
        // quadratic hot-frame join volume retired
        D.videoDedupAuto(spark, vids).queryExecution.toRdd.count()
      }
      stage("video near auto (full)") {
        // the FULL text-wrapped corpus through the self-dialed entry point:
        // the fhash audit measures the saturation (fan-out ≫ 16 on this
        // skew) and routes to the bigram chain — the measured 77 GB
        // candidate-shuffle / disk-full regime is unreachable by default
        D.videoNearHammingAuto(spark, vids).queryExecution.toRdd.count()
      }
      stage("video incr dedup (10%)") {
        // the r15 batch incremental rung at scale: 10% incoming against
        // the other 90% — frame-VOTE arm + fingerprint arm, reference
        // state ≤ maxFrames hash rows + one fingerprint per seen video
        val b = graft.operators.Sampling.hashBucket(col("doc_id"))
        D.videoIncremental(spark, vids.where(b >= 90), vids.where(b < 90))
          .queryExecution.toRdd.count()
      }
      stage("video still match (10% imgs)") {
        // the cross-modal mine at scale: the FULL video corpus against an
        // image corpus of frame-1 slices (10% of docs) — the mine runs at
        // the distinct-hash level, so the text-gradient fhash skew that
        // saturates the within-video pair form costs one distinct row per
        // hot hash here, not a quadratic bucket
        val b = graft.operators.Sampling.hashBucket(col("doc_id"))
        val imgs = docs.where(b < 10).select(col("doc_id"),
          expr("cast(substring(text, 33, 32) as binary)").as("blob"))
        D.videoStillMatches(spark, vids, imgs).queryExecution.toRdd.count()
      }
    }
    stage("video gate state growth") {
      // the streaming video gate's cost curve, measured like every other
      // family's: state accumulates ≤ maxFrames hash rows + one
      // fingerprint per seen video, and each batch's admit join runs
      // incoming frames against ALL of it — this row records state bytes
      // and the per-batch latency trend so the cross-batch join's growth
      // is in the table, not assumed
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val vheader = graft.operators.Multimodal.mp4VideoFramesHeader()
      val rows = docs.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
        .map { case (id, t) => (id, vheader ++ t.getBytes("UTF-8")) }
      val base = java.nio.file.Files.createTempDirectory("graft-vgate-").toString
      val (path, ckpt) = (s"$base/out", s"$base/ckpt")
      val mem = MemoryStream[(Long, Array[Byte])]
      var admitted = 0L
      // 50 restarts × 5k videos covers the full 250k corpus; the restart
      // overhead (~8 s of query machinery per AvailableNow cycle) is a
      // CONSTANT in the per-batch trend, so halving the batch count
      // halves the overhead without changing the state-growth signal
      val batches = rows.grouped(5000).take(50).toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b: _*)
        val t0 = System.nanoTime()
        val q = graft.streaming.Streaming.streamVideoDedupAdmit(
          mem.toDF().toDF("doc_id", "blob"), path, ckpt) { df =>
          admitted += df.count()
        }
        try q.awaitTermination(600000) finally q.stop()
        val tt0 = System.currentTimeMillis()
        while (spark.streams.active.nonEmpty && System.currentTimeMillis() - tt0 < 10000)
          Thread.sleep(50)
        if (i % 10 == 0 || i == batches.length - 1)
          println(f"##   batch $i%3d admit ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
      def duBytes(p: String): Long = {
        val root = java.nio.file.Paths.get(p)
        if (!java.nio.file.Files.exists(root)) 0L
        else java.nio.file.Files.walk(root).filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
      }
      println(f"##   state bytes: _fr ${duBytes(s"$path/_fr")}%,d  _fp ${duBytes(s"$path/_fp")}%,d  (${batches.map(_.length).sum}%,d videos seen)")
      admitted
    }
    stage("candidate pairs near-cap x64") {
      // the captured r13 OOM mechanism, reproduced and retired: 64 buckets
      // of 4000 ids at cap 4096 — the old in-bucket array path materialized
      // |bucket|²/2 ≈ 8M structs (~400 MB) per near-cap bucket, 32
      // concurrently (heap-space task failure); the join expansion streams
      // the same ~512M pairs through the (band, key) self-join with the
      // per-task transient bounded by pairExplodeMax
      val keyed = spark.range(256000L).select(
        (col("id") / 4000).cast("int").as("band"),
        (col("id") / 4000).cast("long").as("key"),
        col("id").as("doc_id"))
      D.candidatePairs(keyed, "band", "key", "doc_id", maxBucket = 4096)
        .queryExecution.toRdd.count()
    }
    // Synthetic DIVERSE audio for the landmark stages — the operator's
    // true domain. Text-wrapped bytes (the oracle device) are adversarial
    // at this scale: ASCII-derived sample energies collapse to ~10²
    // distinct (la, lb, dt) keys, Σ|bucket|² goes quadratic, and a 250k-doc
    // mine measured as effectively unbounded — which is exactly the
    // saturation regime the keyPeaks dial exists for (see
    // Multimodal.audioLandmarks). Here: SPARSE hashed spikes over a quiet
    // floor — the constellation shape real fingerprinting relies on. Every
    // design choice below was driven by a measured failure mode of a
    // simpler corpus: (1) a small parameter family repeats programmes —
    // the documented quadratic-on-identical regime; (2) dense iid
    // amplitudes concentrate peak levels near the max (energy is max-
    // dominated) so ~40% of ALL pairs cleared minVotes on coincidental
    // offset pileups; (3) 512-byte clips concentrate offsets into ~60
    // buckets — 4096 samples spread them over ±1000; (4) spike magnitudes
    // are LOG-uniform so quarter-octave levels are uniform, not top-heavy;
    // (5) the per-(doc, block) hash is a full-avalanche splitmix64 — a
    // LINEAR g·A + blk·B form gives doc pairs a translation lattice whose
    // partial alignments voted ~10 per random pair (simulated: splitmix64
    // drops chance votes to 0 while 3-hop twins vote ≥ 30 of ~44
    // landmarks). Every odd id is a 12-sample-delayed twin of its even
    // neighbor: expected matches ≈ N/2, output linear.
    def syntheticAudio = {
      import spark.implicits._
      val hdr = graft.operators.Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL)
      docs.select(col("doc_id").cast("long")).as[Long].mapPartitions(_.map { id =>
        val g = id >> 1
        val delay = if ((id & 1L) == 1L) 12 else 0
        val n = 4096
        val bb = java.nio.ByteBuffer.allocate(2 * (n + delay))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < delay) { bb.putShort(0); i += 1 }
        i = 0
        while (i < n) {
          var z = g * 4096L + i / 8 + 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          val x = (z ^ (z >>> 31)) >>> 33
          val amp =
            if (x % 5 < 2)
              (512.0 * math.pow(2.0, 4.5 * ((x >>> 8) % 4096L).toDouble / 4096.0)).toInt
            else 150
          bb.putShort((if (i % 2 == 0) amp else -amp).toShort)
          i += 1
        }
        (id, hdr ++ bb.array())
      }).toDF("doc_id", "blob")
    }
    stage("audio landmark near k3") {
      // minVotes scaled to the clip (see the corpus comment above): twins
      // vote ≥ 30 of ~44 landmarks, chance votes simulated at 0
      D.audioLandmarkNear(spark, syntheticAudio, keyPeaks = 3, minVotes = 12)
        .queryExecution.toRdd.count()
    }
    stage("audio dedup (landmarks k3)") {
      // the LINEAR treatment form: envelope-identical payloads collapse
      // before the landmark mine (the imageDedup discipline)
      D.audioDedup(spark, syntheticAudio, keyPeaks = 3, minVotes = 12)
        .queryExecution.toRdd.count()
    }
    stage("audio incr dedup (10%)") {
      // the r15 batch incremental rung at scale: a 10% incoming batch
      // admitted against the other 90% as the seen corpus — landmark
      // VOTE arm + envelope arm, state signature-sized on the ref side.
      // The wall is dominated by the ONE-TIME state build (two reference
      // extraction passes decode 90% of the corpus twice) — the next two
      // stages split that honestly on the SAME corpus.
      val au = syntheticAudio
      val b = graft.operators.Sampling.hashBucket(col("doc_id"))
      D.audioIncremental(spark, au.where(b >= 90), au.where(b < 90),
        keyPeaks = 3, minVotes = 12)
        .queryExecution.toRdd.count()
    }
    locally {
      val au = syntheticAudio
      val b = graft.operators.Sampling.hashBucket(col("doc_id"))
      val statePath = s"${sys.props("java.io.tmpdir")}/graft-scale-austate-$dirHash-$factor"
      stage("audio incr state build") {
        // the amortized half: extract + store the reference signatures
        // (landmark rows + distinct envelopes — exactly what
        // audioIncrementalIndexed registers and streamAudioDedupAdmit
        // accumulates)
        D.audioState(spark, au.where(b < 90), 16, 4, 1 << 20, 8, 3, 3,
          new D.Stored(spark, statePath, build = true))._1.count()
      }
      stage("audio incr probe (stored)") {
        // the steady-state half a pipeline pays per batch: only the
        // incoming 10% decodes; the seen corpus is two parquet reads
        val (lm, env) = D.audioState(spark, au.where(b < 90), 16, 4, 1 << 20, 8, 3, 3,
          new D.Stored(spark, statePath, build = false))
        D.audioIncrementalFrom(spark, au.where(b >= 90), lm, env, 16, 4, 1 << 20, 8, 3, 12, 3)
          .queryExecution.toRdd.count()
      }
    }
    stage("span trim") { D.trimSpans(docs).queryExecution.toRdd.count() }
    stage("curate pipeline") {
      // the assembled end-to-end frame: sum of the arms' shapes by design
      graft.operators.Curate.pipeline(docs).queryExecution.toRdd.count()
    }
    stage("curate approx pipeline") {
      // the signature-only near arm (what streamCurate maintains): the
      // exact pipeline's cost at this scale is dominated by the ngram
      // mine's exact-Jaccard verify — the approx arm replaces it with the
      // agreeing-seed estimate, per-doc state seeds x 8 bytes
      graft.operators.Curate.pipeline(docs, approxNear = true)
        .queryExecution.toRdd.count()
    }
    stage("curate pipeline (sat)") {
      // the curate frame pointed at a REPLICA CRAWL (2000 duplicate
      // classes × 2 variants at 250k docs): with the collapse-first near
      // arm (ngramDedup) the mine runs over the ~4000 distinct texts —
      // before the swap this was the Σ|class|²·bands candidate regime
      // (~60M candidates at this corpus) inside the one frame a user
      // actually runs on a crawl snapshot
      graft.operators.Curate.pipeline(tsat).queryExecution.toRdd.count()
    }
    stage("curate multimodal") {
      // the composed frame at scale — the driver suite's new heaviest query
      // (8.5 s at sf0.01) measured at 250k docs with a MIXED blob corpus:
      // the curate_multimodal pair device (docs 2k/2k+1 share a 512-byte
      // blob; modality by (doc_id div 2) % 3 → image/audio/video; % 97
      // rows blobless). Text mine + all three media dedup chains (three CC
      // walks) in one frame; the arms join signature-sized verdicts on
      // doc_id, so the cost must track the SUM of the arms, not their
      // product.
      val wavH = lit(graft.operators.Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL))
      val mp4H = lit(graft.operators.Multimodal.mp4VideoFramesHeader())
      val payload = expr("repeat(md5(cast(doc_id div 2 as string)), 16)").cast("binary")
      val m = expr("(doc_id div 2) % 3")
      val blobs = docs.where(expr("doc_id % 97 != 0"))
        .select(col("doc_id"),
          when(m === 0, payload)
            .when(m === 1, concat(wavH, payload))
            .otherwise(concat(mp4H, payload)).as("blob"))
      graft.operators.Curate.pipelineMultimodal(spark, docs, blobs)
        .queryExecution.toRdd.count()
    }
    stage("curate multimodal xm") {
      // the laundering arm's marginal cost at scale: the same frame with
      // crossModal = true plus extra 32-byte stills matching selected
      // video classes (the oracle device) — the arm is one signature-level
      // cross probe (distinct frame hashes x distinct still hashes), so
      // the delta vs the plain multimodal row must be frame-decode-bounded,
      // not another media chain
      val wavH = lit(graft.operators.Multimodal.pcmWavHeader(8000, 1, 0x7FFFFFFFL))
      val mp4H = lit(graft.operators.Multimodal.mp4VideoFramesHeader())
      val payload = expr("repeat(md5(cast(doc_id div 2 as string)), 16)").cast("binary")
      val m = expr("(doc_id div 2) % 3")
      val base = docs.where(expr("doc_id % 97 != 0"))
      val blobs = base.select(col("doc_id"),
          when(m === 0, payload)
            .when(m === 1, concat(wavH, payload))
            .otherwise(concat(mp4H, payload)).as("blob"))
        .unionByName(base
          .where(expr("(doc_id div 2) % 3 = 2 AND doc_id % 2 = 0 AND (doc_id div 2) % 5 = 2"))
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            expr("cast(md5(cast(doc_id div 2 as string)) as binary)").as("blob")))
      graft.operators.Curate.pipelineMultimodal(spark, docs, blobs,
        crossModal = true).queryExecution.toRdd.count()
    }
    stage("winnow pairs") {
      graft.operators.TextAnalysis.winnowPairs(docs).queryExecution.toRdd.count()
    }
    stage("star cc (1M chain)") {
      // the adversarial component shape: ONE chain across the whole node
      // set — HashToMin would need N rounds (its maxIters guard rejects
      // it by design); star alternation must land min-labels for every
      // node in O(log N) alternations with edge-sized working sets
      val n = 1000000L
      val chainDocs = spark.range(n).toDF("doc_id")
      val chainPairs = spark.range(n - 1)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      graft.operators.Dedup.dedupGroupsStar(chainDocs, chainPairs)
        .queryExecution.toRdd.count()
    }
    stage("pack sequences") { S.packSequences(docs).queryExecution.toRdd.count() }
    stage("token shards (auto width)") {
      // the auto √N group width: both prefix-scan levels stay ~√N-bounded
      // regardless of factor — the cost here must track the tokenization
      // pass (linear), not the offsets stage
      S.tokenShards(docs, 10000L).queryExecution.toRdd.count()
    }
    stage(s"cell sample c$nc") {
      S.cellBalancedSample(e, nCells = nc, perCell = 20).queryExecution.toRdd.count()
    }

    // Round-8b additions: LM quality scoring (unigram + interpolated
    // bigram — the bigram model table is the one whose size grows with
    // corpus entropy, the measurement of interest), per-source MinHash
    // sketches, and the d² covariance aggregate over the replicated
    // embedding corpus.
    val T = graft.operators.TextAnalysis
    stage("lm unigram xent") {
      T.lmCrossEntropy(docs).queryExecution.toRdd.count()
    }
    stage("lm bigram xent") {
      T.lmCrossEntropyBigram(docs).queryExecution.toRdd.count()
    }
    stage("source overlap") {
      D.sourceOverlap(docs).queryExecution.toRdd.count()
    }
    stage("embed covariance") {
      graft.operators.EmbeddingStats.covariance(e).queryExecution.toRdd.count()
    }
    stage("dsir weights") {
      T.dsirWeights(docs).queryExecution.toRdd.count()
    }
    stage("quality classifier") {
      T.qualityClassifier(docs).queryExecution.toRdd.count()
    }
    stage("ppl buckets") {
      T.perplexityBuckets(docs).queryExecution.toRdd.count()
    }
    stage("topic balance (8c, 5 iters)") {
      S.topicBalance(docs).queryExecution.toRdd.count()
    }
    stage("token cms (4x1024)") {
      T.tokenCms(docs).queryExecution.toRdd.count()
    }
    stage("token hll (p=10)") {
      T.tokenHll(docs).queryExecution.toRdd.count()
    }
    stage("doremi weights") {
      T.doremiWeights(docs).queryExecution.toRdd.count()
    }
    stage("bpe train (8 merges)") {
      graft.operators.Bpe.train(docs, 8).queryExecution.toRdd.count()
    }
    stage("zipf fit (k=100)") {
      T.zipfFit(docs).queryExecution.toRdd.count()
    }
    stage("heaps fit (g=16)") {
      T.heapsFit(docs).queryExecution.toRdd.count()
    }
    stage("calibration audit") {
      T.calibrationAudit(docs).queryExecution.toRdd.count()
    }
    stage("classifier auc") {
      // shares the classifier's training subtree; the AUC itself is a
      // rank-window over DISTINCT 6-dp scores — bounded by the rounding
      // grid, so the audit stays noise on top of training at every scale
      T.classifierAuc(docs).queryExecution.toRdd.count()
    }
    // IVF continuous-maintenance probe at scale: centroids trained on the
    // BASE half only (the index-build-time corpus), the replicated delta
    // assigned with those frozen centroids, probe reads base ∪ delta
    // pruned to the probed cells — the batch semantics of
    // Streaming.streamIvfIngest / Ann.ivfDeltaTopk on the big corpus.
    locally {
      import graft.functions.VectorFunctions.cosine_sim
      val A = graft.operators.Ann
      val n = e.count()
      val base = e.where(col("vec_id") < n / 2)
      val delta = e.where(col("vec_id") >= n / 2)
      var tc: Seq[Seq[Double]] = null
      // rebuild-time cost: Lloyd over the base half at the production cell
      // granularity (nc scales with the corpus — 125 vectors/cell mean)
      stage(s"ivf delta train c$nc") {
        tc = A.trainCentroids(base, nc, maxIters = 3)._1
        tc.length.toLong
      }
      if (tc != null) stage("ivf delta probe") {
        // steady-state per-query cost between retrains: frozen-centroid
        // assignment of base ∪ delta, pruned to the probed cells
        val probeCells = A.probe(tc, qv, math.max(1, nc / 4))
        A.assignCells(base, tc).unionByName(A.assignCells(delta, tc))
          .where(col("cell").isin(probeCells: _*))
          .select(col("vec_id"),
            round(cosine_sim(col("embedding"), typedLit(qv)), 6).as("s"))
          .orderBy(desc("s"), asc("vec_id")).limit(10)
          .queryExecution.toRdd.count()
      }
    }
    // Indexed IVF probe latency at scale — the hierarchy's READ path, not
    // just its build (the round-12 verdict's missing row): the corpus is
    // persisted cell-partitioned ONCE through the catalog (build stages —
    // the registry drop lives inside them so an isolated probe run reuses
    // a prior build), then each probe is a partition-PRUNED read + rerank
    // of nProbe/nCells of the data. Flat (`ivf IDX`) vs two-level
    // (`ivf2 IDX`, fine-cell-partitioned with the coarse→fine walk on the
    // stored fine table) at the same granularity, so the rows compare
    // directly. A dir-shaped symlink view backs the registry (the
    // incr-IDX device: the index API is dir-coupled by design).
    locally {
      val A = graft.operators.Ann
      val embDir = s"${sys.props("java.io.tmpdir")}/graft-scale-embdir-$dirHash-$factor"
      val link = java.nio.file.Paths.get(embDir, "embeddings.parquet")
      java.nio.file.Files.createDirectories(link.getParent)
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(
        s"${sys.props("java.io.tmpdir")}/graft-scale-emb-$dirHash-$factor"))
      def dropIdx(name: String): Unit = {
        val reg = graft.operators.CatalogOps.indexRegistry(spark, embDir)
        if (reg.isIndexRegistered(name)) reg.dropIndex(name)
      }
      stage("ivf IDX build (flat c16)") {
        dropIdx("embeddings-ivf-c16")
        A.ivfTopkIndexed(spark, embDir, 0L, 10, 16, 4)
          .queryExecution.toRdd.count()
      }
      stage("ivf IDX probe (flat c16)") {
        A.ivfTopkIndexed(spark, embDir, 0L, 10, 16, 4)
          .queryExecution.toRdd.count()
      }
      stage("ivf2 IDX build (f16 c4)") {
        dropIdx("embeddings-ivf2-f16-c4")
        A.ivfTopk2Indexed(spark, embDir, 0L, 10, 16, 4, 2, 4)
          .queryExecution.toRdd.count()
      }
      stage("ivf2 IDX probe (f16 c4)") {
        A.ivfTopk2Indexed(spark, embDir, 0L, 10, 16, 4, 2, 4)
          .queryExecution.toRdd.count()
      }
    }
    // Incremental bitext mining at scale: the inline form re-assigns the
    // full stored target corpus per snapshot (the cost the index retires);
    // the registry-backed twin probes the STORED assignment — build paid
    // once (its own stage, drop inside so an isolated probe run reuses a
    // prior build), steady-state = batch assignment + cell equi-join +
    // margin tail. Batch = 0.1% of the corpus (the per-snapshot shape);
    // candidate fan-out = |batch|·nProbe·|tgt|/nCells, the IVF dial.
    locally {
      val B = graft.operators.Bitext
      val embDir = s"${sys.props("java.io.tmpdir")}/graft-scale-embdir-$dirHash-$factor"
      val batch = e.where(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("src_id"), col("embedding").as("src_vec"))
      val tgt = e.where(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("tgt_id"), col("embedding").as("tgt_vec"))
      stage("bitext incr mine (inline)") {
        B.minePairsIncremental(batch, tgt, k = 4, tau = 1.0,
          nCells = 64, nProbe = 8).queryExecution.toRdd.count()
      }
      def dropIdx(name: String): Unit = {
        val reg = graft.operators.CatalogOps.indexRegistry(spark, embDir)
        if (reg.isIndexRegistered(name)) reg.dropIndex(name)
      }
      stage("bitext incr IDX build") {
        dropIdx("embeddings-bitext-cells-c64")
        B.minePairsIncrementalIndexed(spark, embDir, batch, k = 4, tau = 1.0,
          nCells = 64, nProbe = 8).queryExecution.toRdd.count()
      }
      stage("bitext incr IDX probe") {
        B.minePairsIncrementalIndexed(spark, embDir, batch, k = 4, tau = 1.0,
          nCells = 64, nProbe = 8).queryExecution.toRdd.count()
      }
      // the two-level rung at the same fine granularity: probe-time driver
      // state shrinks from 64 centroids to the 8-row coarse layer; the
      // fine layer and the corpus assignment are stored tables
      stage("bitext incr IDX2 build") {
        dropIdx("embeddings-bitext-cells2-f64-c8")
        B.minePairsIncrementalIndexed2(spark, embDir, batch, k = 4, tau = 1.0,
          nFine = 64, nCoarse = 8, wCoarse = 8, nProbe = 8)
          .queryExecution.toRdd.count()
      }
      stage("bitext incr IDX2 probe") {
        B.minePairsIncrementalIndexed2(spark, embDir, batch, k = 4, tau = 1.0,
          nFine = 64, nCoarse = 8, wCoarse = 8, nProbe = 8)
          .queryExecution.toRdd.count()
      }
    }
    // page rank: the measurement of interest at scale is the ITERATION
    // core (join + keyed agg per step) over a prebuilt edge artifact —
    // the documented 100 TB contract (edges come from the stored ANN
    // index, not the brute all-pairs build, which is O(N²) by design
    // and only the small-N oracle baseline). A k-regular synthetic
    // graph over the replicated ids isolates exactly that dataflow.
    stage("page rank core (k=5, 5 iters)") {
      val n = e.count()
      val edges = e.select(col("vec_id").as("src"))
        .crossJoin(spark.range(1, 6).toDF("j"))
        .select(col("src"), pmod(col("src") + col("j") * 7919L, lit(n)).as("dst"))
      graft.operators.Centrality.pageRank(edges, e.select(col("vec_id")))
        .queryExecution.toRdd.count()
    }
    // the executable ANN edge build at scale: nCells grows ∝ √N (the
    // per-cell-work-flat dial from the annEdges scaladoc), so the pair
    // fan-out nProbe·N²/nCells stays ~nProbe·N^1.5 — the measurement is
    // that the build remains distributed (no corpus broadcast, no
    // single-task stage) and tracks that envelope
    stage("ann-edge page rank") {
      val nCells = math.max(16, math.sqrt(e.count().toDouble).toInt)
      graft.operators.Centrality
        .similarityPageRankAnn(e, k = 5, iters = 5, nCells = nCells, nProbe = 4)
        .queryExecution.toRdd.count()
    }
    // the hierarchical rung, at the dial the hierarchy LIBERATES: the flat
    // build's nCells is capped by its plan-literal/driver-collect ceiling
    // (√N is the documented compromise), which leaves |cell| ∝ √N and the
    // candidate rerank at nProbe·N^1.5. With the fine layer as a joined
    // TABLE, constant cell size (nFine = N/125, the semanticDedup
    // convention) is legal at ANY N: candidates per src become
    // nProbe·125 = O(1), the whole build O(N) up to the coarse ranking —
    // while driver state stays at the √nFine coarse layer. Same k and
    // nProbe as the flat row above; finer cells = sharper selectivity is
    // exactly the capability under measurement, not a free lunch — recall
    // at fixed nProbe drops as cells shrink, and wCoarse/nProbe are the
    // recall dials (OperatorEdgeSpec measures that curve).
    stage("ann2-edge page rank") {
      val n = e.count()
      val nFine = math.max(16, (n / 125L).toInt)
      val nCoarse = math.max(4, math.sqrt(nFine.toDouble).toInt)
      val wCoarse = math.max(2, nCoarse / 16)
      graft.operators.Centrality
        .similarityPageRankAnn2(e, k = 5, iters = 5, nFine = nFine,
          nCoarse = nCoarse, wCoarse = wCoarse, nProbe = 4)
        .queryExecution.toRdd.count()
    }
    spark.stop()
  }

  private val Similarity = graft.operators.Similarity
}
