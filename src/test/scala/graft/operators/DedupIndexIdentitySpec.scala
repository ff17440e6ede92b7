package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{IndexPolicy, Tables}

/** The on-disk identity of every catalog-managed dedup index: the name,
  * kind and params its manifest entry records, and the sub-table
  * directories under its data path. An index built by an older build of
  * the engine resolves as a hit only while all of these stay as they were,
  * so they are pinned here as literals. Each index is built through its
  * public `*Indexed` entry into a fresh catalog over the sf0.001 tables,
  * then probed again under FailIfMissing, which must serve the stored
  * version without a rebuild.
  */
class DedupIndexIdentitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val text = Map("idCol" -> "doc_id", "textCol" -> "text")

  /** name -> (kind, params, sub-table directories) */
  private val expected: Map[String, (String, Map[String, String], Set[String])] = Map(
    "documents-dedup-fp2-b50" -> ("dedup-fp",
      Map("refBucketMax" -> "50", "algo" -> "sha256") ++ text, Set.empty[String]),
    "documents-dedup-wsig-b50-s3" -> ("dedup-sig",
      Map("refBucketMax" -> "50", "shingleSize" -> "3", "shingles" -> "word",
        "seeds" -> "12", "bands" -> "6", "layout" -> "bands+sig") ++ text,
      Set("bands", "sig")),
    "documents-dedup-wband-b50-s3" -> ("dedup-band",
      Map("refBucketMax" -> "50", "shingleSize" -> "3", "shingles" -> "word",
        "seeds" -> "12", "bands" -> "6", "layout" -> "bands+hs") ++ text,
      Set("bands", "hs")),
    "documents-dedup-band2-b50-n8" -> ("dedup-band",
      Map("refBucketMax" -> "50", "n" -> "8", "seeds" -> "12", "bands" -> "4",
        "layout" -> "bands+hs") ++ text,
      Set("bands", "hs")),
    "documents-verbatim-pos-b50-s5" -> ("verbatim-pos",
      Map("refBucketMax" -> "50", "shingleSize" -> "5", "layout" -> "pos") ++ text,
      Set("pos")),
    "documents-verbatim-evalpos-ge90-s5" -> ("verbatim-pos",
      Map("evalFromPct" -> "90", "shingleSize" -> "5", "layout" -> "pos") ++ text,
      Set("pos")),
    "documents-dedup-groups-ngram8" -> ("dedup-groups",
      Map("pairs" -> "ngramNear(n=8,seeds=12,bands=4,jaccard=0.5)", "cc" -> "min-label"),
      Set.empty[String]),
    "documents-image-phash-b50" -> ("image-phash",
      Map("refBucketMax" -> "50", "algo" -> "dhash56", "idCol" -> "doc_id",
        "blob" -> "text-as-binary"),
      Set.empty[String]),
    "documents-audio-state-b10" -> ("audio-landmarks",
      Map("refBucketMax" -> "10", "windowSamples" -> "16", "hop" -> "4",
        "maxBytes" -> "1048576", "maxDt" -> "8", "fanout" -> "3", "keyPeaks" -> "2",
        "idCol" -> "doc_id", "blob" -> "wav-wrapped-text"),
      Set("env", "lm")),
    "documents-video-state-b10" -> ("video-frames",
      Map("refBucketMax" -> "10", "maxFrames" -> "16", "maxBytes" -> "1048576",
        "idCol" -> "doc_id", "blob" -> "mp4-frames-wrapped-text"),
      Set("fp", "fr")),
    "embeddings-semcells-b50-c16" -> ("semantic-cells",
      Map("refBucketMax" -> "50", "nCells" -> "16", "seeding" -> "vec_id<nCells",
        "metric" -> "cosine6", "layout" -> "cents+cells"),
      Set("cells", "cents")))

  /** Every `*Indexed` entry once, all under `policy`. */
  private def probeAll(dir: String, policy: IndexPolicy): Unit = {
    val docs = Tables.documents(spark, dir)
    val batch = docs.where(Sampling.hashBucket(col("doc_id")) >= 95)
    val blobs = batch.select(col("doc_id"), col("text").cast("binary").as("blob"))
    val vecs = Tables.embeddings(spark, dir)
      .where(Sampling.hashBucket(col("vec_id")) >= 95)
    val probes: Seq[DataFrame] = Seq(
      Dedup.exactIncrementalIndexed(spark, dir, batch, policy = policy),
      Dedup.minhashNearIncrementalApproxIndexed(spark, dir, batch, policy = policy),
      Dedup.minhashNearIncrementalIndexed(spark, dir, batch, policy = policy),
      Dedup.ngramNearIncrementalIndexed(spark, dir, batch, policy = policy),
      Dedup.verbatimIncrementalIndexed(spark, dir, batch, policy = policy),
      Dedup.decontaminateRunsIndexed(spark, dir, docs, policy = policy),
      Dedup.evalLeakReportIndexed(spark, dir, docs, policy = policy),
      Dedup.decontaminateTrimIndexed(spark, dir, docs, policy = policy),
      Dedup.dedupGroupsIndexed(spark, dir, policy = policy),
      Dedup.imageIncrementalIndexed(spark, dir, blobs, policy = policy),
      Dedup.videoStillMatchesIndexed(spark, dir, blobs, policy = policy),
      Dedup.audioIncrementalIndexed(spark, dir, blobs, policy = policy),
      Dedup.videoIncrementalIndexed(spark, dir, blobs, policy = policy),
      Dedup.semanticIncrementalIndexed(spark, dir, vecs, policy = policy))
    probes.foreach(_.collect())
  }

  private def subDirs(path: String): Set[String] = {
    val ls = Files.list(Paths.get(path))
    try ls.toArray.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    finally ls.close()
  }

  test("every dedup index keeps its registry name, kind, params and sub-table layout") {
    val dir = Files.createTempDirectory("graft-dedup-identity-")
    val links = Seq("documents", "embeddings").map(t =>
      Files.createSymbolicLink(dir.resolve(s"$t.parquet"), Paths.get(s"$sf/$t.parquet")))
    val base = new java.io.File(CatalogOps.indexRegistry(spark, dir.toString).basePath)
    try {
      probeAll(dir.toString, IndexPolicy.BuildIfMissing)
      val built = expected.keys.map(n => n -> CatalogOps.indexRegistry(spark, dir.toString)
        .getIndex(n)).toMap
      assert(CatalogOps.indexRegistry(spark, dir.toString).listIndexes()
        .select("name").collect().map(_.getString(0)).toSet == expected.keySet)
      expected.foreach { case (name, (kind, params, subs)) =>
        val m = built(name)
        assert(m.kind == kind, name)
        assert(m.params == params, name)
        assert(subDirs(m.path) == subs, name)
      }
      // a second probe of every entry is served from the stored tables
      probeAll(dir.toString, IndexPolicy.FailIfMissing)
      expected.keys.foreach(n =>
        assert(CatalogOps.indexRegistry(spark, dir.toString).getIndex(n) == built(n), n))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base)
      links.foreach(Files.delete) // the links only, never the shared tables
      Files.delete(dir)
    }
  }
}
