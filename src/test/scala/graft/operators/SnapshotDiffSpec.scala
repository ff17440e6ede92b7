package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The snapshot-diff contracts: status semantics on an engineered pair,
  * from-hashes ≡ inline (the rung every stored form rests on), indexed
  * build-once lifecycle, the delta consequence, and the audit's exact
  * mergeability over disjoint id spaces. */
class SnapshotDiffSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def engineered = {
    import spark.implicits._
    // ids 1-4 in both (2 changed), 5 removed, 6 added; sources split 2/1
    val old = Seq(
      (1L, "alpha", "hostA"), (2L, "beta", "hostA"),
      (3L, "gamma", "hostB"), (4L, "delta", "hostB"),
      (5L, "epsilon", "hostB")).toDF("doc_id", "text", "source")
    val neu = Seq(
      (1L, "alpha", "hostA"), (2L, "beta v2", "hostA"),
      (3L, "gamma", "hostB"), (4L, "delta v2", "hostB"),
      (6L, "zeta", "hostA")).toDF("doc_id", "text", "source")
    (old, neu)
  }

  test("corpusDiff: the four statuses land on the engineered pair; hashes are md5 hex of the text") {
    val (old, neu) = engineered
    val out = SnapshotDiff.corpusDiff(old, neu).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq(
      (1L, "unchanged"), (2L, "changed"), (3L, "unchanged"),
      (4L, "changed"), (5L, "removed"), (6L, "added")))
    // hash columns carry the evidence: null exactly on the absent side
    assert(out.filter(_._2 == "added").forall(t => t._3 == null && t._4 != null))
    assert(out.filter(_._2 == "removed").forall(t => t._3 != null && t._4 == null))
    val alpha = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.find(_._1 == 1L).get._3 == alpha)
  }

  test("corpusDiffFromHashes ≡ inline corpusDiff byte-for-byte (the stored-hash contract)") {
    val docs = Tables.documents(spark, dir)
    val b = Sampling.hashBucket(col("doc_id"))
    val (old, neu) = (docs.where(b < 90), docs.where(b >= 10))
    val inline = SnapshotDiff.corpusDiff(old, neu).collect().toSeq
    // round-trip the hash table through parquet — the stored form
    val p = java.nio.file.Files.createTempDirectory("graft-snapdiff-").toString
    SnapshotDiff.contentHashes(old).write.mode("overwrite").parquet(p)
    assert(SnapshotDiff.corpusDiffFromHashes(
      spark.read.parquet(p), neu).collect().toSeq == inline)
  }

  test("changedDocs: added ∪ changed rows of the new side, full columns + status; unchanged never re-gated") {
    val (old, neu) = engineered
    val out = SnapshotDiff.changedDocs(SnapshotDiff.contentHashes(old), neu)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3)))
    assert(out.toSeq == Seq((2L, "beta v2", "changed"),
      (4L, "delta v2", "changed"), (6L, "zeta", "added")))
  }

  test("diffStats: per-source counts + churn; EXACT merge over disjoint id spaces") {
    val (old, neu) = engineered
    val stats = SnapshotDiff.diffStats(old, neu).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    // hostA: added 6, changed 2, unchanged 1 → churn 2/3 ≈ 0.666667
    // hostB: removed 5, changed 4, unchanged 3 → churn 2/3
    assert(stats == Seq(
      ("hostA", 1L, 0L, 1L, 1L, 0.666667),
      ("hostB", 0L, 1L, 1L, 1L, 0.666667)))
    // mergeability: stats over an id split reassemble the whole exactly
    // (counts are per-doc sums; the split must not separate a doc from
    // itself, so split BOTH sides by the same id rule)
    val docs = Tables.documents(spark, dir)
    val b = Sampling.hashBucket(col("doc_id"))
    val (o, n) = (docs.where(b < 90),
      docs.where(b >= 10).withColumn("text",
        when(b >= 40 && b < 50, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))))
    val whole = SnapshotDiff.diffStats(o, n).collect().toSeq
    val even = col("doc_id") % 2 === 0
    val parts = SnapshotDiff.diffStats(o.where(even), n.where(even))
      .unionByName(SnapshotDiff.diffStats(o.where(!even), n.where(!even)))
      .groupBy(col("source"))
      .agg(sum("n_added").as("n_added"), sum("n_removed").as("n_removed"),
        sum("n_changed").as("n_changed"), sum("n_unchanged").as("n_unchanged"))
      .withColumn("churn",
        round((col("n_added") + col("n_removed") + col("n_changed")).cast("double")
          / (col("n_added") + col("n_removed") + col("n_changed")
             + col("n_unchanged")), 6))
      .orderBy(col("source")).collect().toSeq
    assert(parts == whole)
  }

  test("corpusDiffIndexed: equals inline over the dir snapshot, index built once then served") {
    val docs = Tables.documents(spark, dir)
    val b = Sampling.hashBucket(col("doc_id"))
    val neu = docs.where(b >= 10).withColumn("text",
      when(b >= 40 && b < 50, concat(col("text"), lit(" v2")))
        .otherwise(col("text")))
    val inline = SnapshotDiff.corpusDiff(docs, neu).collect().toSeq
    val reg = CatalogOps.indexRegistry(spark, dir)
    val name = SnapshotDiff.ContentHashIndexName
    if (reg.isIndexRegistered(name)) reg.dropIndex(name)
    intercept[graft.core.GraftException] {
      SnapshotDiff.corpusDiffIndexed(spark, dir, neu,
        policy = graft.core.IndexPolicy.FailIfMissing).collect()
    }
    assert(SnapshotDiff.corpusDiffIndexed(spark, dir, neu).collect().toSeq == inline)
    val built = CatalogOps.indexRegistry(spark, dir).getIndex(name)
    assert(SnapshotDiff.corpusDiffIndexed(spark, dir, neu).collect().toSeq == inline)
    assert(CatalogOps.indexRegistry(spark, dir).getIndex(name).version == built.version)
  }
}
