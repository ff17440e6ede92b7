package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables

/** SNAPSHOT DIFF — the recrawl delta family: what changed between corpus
  * snapshot N and snapshot N+1, and the consequence a pipeline acts on
  * (re-curate ONLY the delta). The reference engine is a point-in-time
  * store (`/root/reference/database/database.go:29` — one in-memory map,
  * no versions); snapshot arithmetic is this engine's extension, and it
  * is the 100 TB operation a continuously-recrawled corpus pays every
  * cycle: a web snapshot turns over a few percent per crawl, so a
  * pipeline that re-reads and re-gates the full corpus each snapshot
  * does ~30× the work of one that diffs first and touches only the
  * delta.
  *
  * Content identity is `md5(text)` (lowercase hex — byte-identical in
  * Spark and DuckDB over UTF-8, the cross-engine contract every oracle
  * in this repo leans on). Statuses, by (old row?, new row?, hash):
  * `added` (new only), `removed` (old only), `changed` (both, hash
  * differs), `unchanged` (both, hash equal).
  *
  * Family matrix (the round-16 bar): batch [[corpusDiff]], from-stats
  * [[corpusDiffFromHashes]] (old side = a stored hash table; old TEXT is
  * never re-read), indexed [[corpusDiffIndexed]] (the hash table as a
  * registry-pinned index — built once per stored snapshot, probed per
  * recrawl), consequence [[changedDocs]] (the delta frame a curate pass
  * consumes), audit [[diffStats]] (per-source turnover counts, exactly
  * mergeable over disjoint id spaces), streaming
  * [[graft.streaming.Streaming.streamSnapshotDiff]] (per-batch verdicts
  * against the stored hashes; removed is a snapshot-CLOSE fact — see its
  * scaladoc). AUTO rung: stated exemption — diff is exact; there is no
  * threshold to self-dial.
  *
  * Scale shape: both sides reduce to narrow `(id, 32-char hash)`
  * projections (~40 bytes/doc — ≈0.1% of a 40 KB-mean-doc corpus's
  * bytes), so the one shuffle in the family is an equi-join of two
  * narrow tables on the id; everything text-sized stays in map-side
  * projections. At 1000 executors the join is a plain sort-merge on
  * doc_id (or co-located entirely if both snapshots are bucketed by id
  * at write time, the warehouse layout [[graft.core.Tables]] documents).
  * Nothing is ever driver-resident. */
object SnapshotDiff {

  /** The per-doc content-identity projection — `(id, content_hash)`,
    * the family's mergeable evidence (disjoint snapshots union exactly;
    * there is nothing to merge WITHIN an id). Narrow by construction:
    * this is the frame worth storing per snapshot so the next diff never
    * re-reads this snapshot's text ([[corpusDiffFromHashes]]). */
  def contentHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))

  /** Full snapshot diff, both sides hashed inline — one row per id in
    * either snapshot: `(id, status, old_hash, new_hash)`. The batch rung;
    * [[corpusDiffFromHashes]] is what a pipeline actually pays once the
    * old snapshot's hashes are stored. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    corpusDiffFromHashes(contentHashes(oldDocs), newDocs)

  /** The diff tail shared by every rung: old side an existing
    * `(id, content_hash)` table (inline-hashed, stored, or
    * registry-probed), new side hashed here. One narrow full-outer
    * equi-join on the id — the family's only shuffle. */
  def corpusDiffFromHashes(oldHashes: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldHashes.select(col("doc_id").as("__id"),
      col("content_hash").as("old_hash"))
    val n = contentHashes(newDocs)
      .select(col("doc_id").as("__id"), col("content_hash").as("new_hash"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as("doc_id"),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_hash"), col("new_hash"))
      .orderBy(col("doc_id"))
  }

  /** Registry name of the catalog-managed content-hash table. */
  private[graft] val ContentHashIndexName = "documents-content-hash-text"

  /** The stored snapshot's hash table as a FIRST-CLASS index: the dir's
    * documents scanned once at build, `(id, content_hash)` stored; the
    * registry's staleness fingerprint is exactly the "which snapshot is
    * this" token (a changed source parquet marks the hashes stale — the
    * semantics a diff index wants for free). Same citizenship as every
    * indexed twin: definition params recorded, policy decides
    * rebuild-vs-fail. The params keep the column names the index was
    * first registered with, so a stored index still resolves as a hit. */
  private[graft] def contentHashIndex(spark: org.apache.spark.sql.SparkSession,
                                      dir: String,
                                      policy: graft.core.IndexPolicy): graft.core.IndexMeta =
    CatalogOps.indexRegistry(spark, dir).resolveIndex(
      name = ContentHashIndexName, kind = "content-hash",
      sourcePath = s"$dir/documents.parquet",
      params = Map("idCol" -> "doc_id", "textCol" -> "text"),
      policy = policy) { out =>
      Tables.write(contentHashes(Tables.documents(spark, dir)))
        .mode("overwrite").parquet(s"$out/hashes")
    }

  /** [[corpusDiff]] with the OLD side served from the catalog-pinned
    * hash index — the per-recrawl steady state: the stored snapshot's
    * text is never re-read; the cycle pays one hash scan of the NEW
    * snapshot plus the narrow join. Diff byte-identical to the inline
    * form over the same snapshots (SnapshotDiffSpec pins it; the oracle
    * re-derives from raw text). */
  def corpusDiffIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                        newDocs: DataFrame,
                        policy: graft.core.IndexPolicy = graft.core.IndexPolicy.BuildIfMissing): DataFrame =
    corpusDiffFromHashes(
      Tables.read(spark, s"${contentHashIndex(spark, dir, policy).path}/hashes"), newDocs)

  /** The CONSEQUENCE frame — the delta a curate pass consumes: the new
    * snapshot's rows whose content is new to the corpus (`added` ∪
    * `changed`), full columns + `status`. Per-snapshot per-doc gate cost
    * becomes O(|delta|): unchanged docs keep their stored verdicts
    * (content-keyed, so a re-gate would return the same row), removed
    * docs need none. The old side enters only as the narrow hash table —
    * a left join of the new snapshot against it, no full-outer, no old
    * text. */
  def changedDocs(oldHashes: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldHashes.select(col("doc_id"), col("content_hash").as("old_hash"))
    newDocs
      .withColumn("__new_hash", md5(col("text").cast("binary")))
      .join(o, Seq("doc_id"), "left")
      .where(col("old_hash").isNull || col("old_hash") =!= col("__new_hash"))
      .withColumn("status",
        when(col("old_hash").isNull, lit("added")).otherwise(lit("changed")))
      .drop("old_hash", "__new_hash")
      .orderBy(col("doc_id"))
  }

  /** The AUDIT — per-source turnover: how much of each host's slice was
    * added/removed/changed/unchanged this cycle, the row a curator reads
    * to spot a host that silently rewrote itself (churn ≈ 1 on a host
    * that should be static is the canary for template drift or
    * spam rotation). Source attribution follows the surviving row (new
    * side where one exists; the old side names removed docs' source).
    * Counts are per-doc sums, so stats over disjoint id spaces merge
    * EXACTLY — the same mergeability contract as
    * [[SourceCurate.sourceStats]], spec-pinned. */
  def diffStats(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id").as("__id"),
      col("source").as("__osrc"), md5(col("text").cast("binary")).as("old_hash"))
    val n = newDocs.select(col("doc_id").as("__id"),
      col("source").as("__nsrc"), md5(col("text").cast("binary")).as("new_hash"))
    o.join(n, Seq("__id"), "full_outer")
      .select(coalesce(col("__nsrc"), col("__osrc")).as("source"),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .withColumn("churn",
        round((col("n_added") + col("n_removed") + col("n_changed")).cast("double")
          / (col("n_added") + col("n_removed") + col("n_changed")
             + col("n_unchanged")), 6))
      .orderBy(col("source"))
  }
}
