package graft.operators

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Embedders, GraftDatabase, Record, Tables}

/** Ingest pipeline — O4 MakeRecord + X6 chunking at scale.
  *
  * The reference quickstart drives ingest as a sequential per-chunk loop:
  * fixed 4096-byte splits, one `MakeRecord` (= one embedder HTTP round-trip)
  * per chunk (`/root/reference/README.md:54-68`, `records/records.go:81-92`).
  * Here the same flow is one distributed job:
  *
  *   chunk (codegen'd transform+posexplode, no UDF, no shuffle)
  *     → mapPartitions batch-embed (embedder resolved executor-side,
  *       batches of 512 per call — the shape a remote embedding service
  *       needs; the local hash embedder just runs per element)
  *     → vectorized validations + append (GraftDatabase.addRecords)
  *
  * Chunking and embedding are narrow transformations, so the chunk → embed
  * stage is embarrassingly parallel and bound by the embedder. `addRecords`
  * persists the embedded batch and runs its validations and the write over
  * that one evaluation: each chunk is embedded exactly once, as in the
  * reference, not once per validation and once more for the write. The
  * price is executor storage for a full copy of the embedded batch for the
  * length of the call (memory, spilling to local disk), so at 100 TB the
  * executors need local disk about the batch's embedded size.
  */
object Ingest {

  val DefaultChunkSize = 4096 // reference quickstart (README.md:56)
  private val EmbedBatchSize = 512

  /** X6 — fixed-size character chunking with the quickstart's id scheme
    * `<docId>-<n>` (README.md:59). Pure built-in expressions (codegen'd):
    * `transform(sequence(...)) + posexplode`. Empty documents produce no
    * chunks, matching the reference's `for i := 0; i < len;` loop. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkSize: Int = DefaultChunkSize): DataFrame =
    docs
      .where(length(col(textCol)) > 0)
      .select(col(idCol), posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(length($textCol) / ${chunkSize}.0) as int) - 1),
           |  i -> substring($textCol, i * $chunkSize + 1, $chunkSize))""".stripMargin))
        .as(Seq("pos", "chunk")))
      .select(
        concat(col(idCol).cast("string"), lit("-"), col("pos").cast("string")).as("id"),
        col("chunk"))

  /** O4 — MakeRecord over a chunk set: resolve the embedder executor-side,
    * embed in partition-local batches, emit canonical records. */
  def makeRecords(spark: SparkSession, chunks: DataFrame, embedderId: String): DataFrame = {
    import spark.implicits._
    chunks.select(col("id"), col("chunk")).as[(String, String)]
      .mapPartitions { it =>
        it.grouped(EmbedBatchSize).flatMap { group =>
          val blobs = group.map(_._2.getBytes("UTF-8"))
          val embs = Embedders.embedBatch(embedderId, blobs.iterator).toSeq
          group.lazyZip(blobs).lazyZip(embs).map { case ((id, _), blob, emb) =>
            Record(id, embedderId, blob, emb)
          }
        }
      }(Encoders.product[Record])
      .toDF()
  }

  /** End-to-end: chunk documents, embed, ingest through the catalog's bulk
    * AddRecord path, then answer a text query embedded with the collection's
    * embedder (the reference's `db.Query` flow, `database/database.go:67-73`).
    * Idempotent per source dir (completed ingests are reused). */
  def ingestTopk(spark: SparkSession, dir: String, queryText: String,
                 k: Int = 10, chunkSize: Int = 128): DataFrame = {
    val db = GraftDatabase.make(spark, scratchBase(dir))
    if (!db.isCollectionInDB("docs")) // may be restored from the manifest
      db.addCollection(db.makeCollection("docs", "local/hash-64"))
    val path = db.getCollection("docs").path
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      deleteRecursively(Paths.get(path))
      val chunks = chunk(Tables.documents(spark, dir), "doc_id", "text", chunkSize)
      db.addRecords("docs", makeRecords(spark, chunks, "local/hash-64"))
    }
    db.query("docs", queryText.getBytes("UTF-8"), k)
  }

  private def scratchBase(dir: String): String = {
    val md = MessageDigest.getInstance("MD5")
    val h = md.digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${sys.props("java.io.tmpdir")}/graft-ingest-$h"
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
}
