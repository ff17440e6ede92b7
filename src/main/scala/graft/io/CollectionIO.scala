package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{GraftDatabase, GraftException, Record, Tables}

/** Distributed collection import/export across Spark's built-in storage
  * formats. Parquet/ORC carry the canonical schema natively; the text
  * formats encode the binary blob (base64) and the embedding (";"-joined
  * doubles — Spark's double↔string casts are shortest-round-trip, so values
  * survive exactly).
  *
  * This is the generic counterpart of the reference-format layer in
  * [[JsonCompat]] (which pins the golden single-document wire format);
  * everything here streams through executors.
  */
object CollectionIO {

  val Formats: Set[String] = Set("parquet", "orc", "json", "csv")

  def exportCollection(db: GraftDatabase, collectionId: String,
                       path: String, format: String): Unit = {
    requireFormat(format)
    val df = db.records(collectionId)
    val out = format match {
      case "parquet" | "orc" => df
      case "json" =>
        df.select(col("id"), col("embedderId"),
          base64(col("blob")).as("blob_b64"), col("embedding"))
      case "csv" =>
        df.select(col("id"), col("embedderId"),
          base64(col("blob")).as("blob_b64"),
          concat_ws(";", col("embedding").cast("array<string>")).as("embedding_str"))
    }
    val w = Tables.write(out).mode("overwrite")
    (if (format == "csv") w.option("header", "true") else w).format(format).save(path)
  }

  def importCollection(db: GraftDatabase, collectionId: String,
                       path: String, format: String): Unit = {
    requireFormat(format)
    val spark = db.spark
    val canonical: DataFrame = format match {
      case "parquet" | "orc" =>
        spark.read.schema(Record.schema).format(format).load(path)
      case "json" =>
        spark.read
          .schema("id STRING, embedderId STRING, blob_b64 STRING, embedding ARRAY<DOUBLE>")
          .json(path)
          .select(col("id"), col("embedderId"),
            unbase64(col("blob_b64")).as("blob"), col("embedding"))
      case "csv" =>
        spark.read.option("header", "true")
          .schema("id STRING, embedderId STRING, blob_b64 STRING, embedding_str STRING")
          .csv(path)
          .select(col("id"), col("embedderId"),
            unbase64(col("blob_b64")).as("blob"),
            split(col("embedding_str"), ";").cast("array<double>").as("embedding"))
    }
    db.addRecords(collectionId, canonical)
  }

  private def requireFormat(format: String): Unit =
    if (!Formats(format))
      throw new GraftException(
        s"Unsupported collection format: $format (supported: ${Formats.toSeq.sorted.mkString(", ")})")

  /** Persist a DataFrame as a BUCKETED (and per-bucket sorted) table — the
    * co-located-join layout: two tables bucketed by the same key into the
    * same bucket count join WITHOUT an exchange on either side, because
    * the hash partitioning is baked into the files. This is the layout a
    * 100 TB record store wants for id-keyed joins (enrichment, CDC merge,
    * pair verification): the shuffle is paid once at write time, then
    * every subsequent join reads co-located buckets.
    *
    * `path` makes it an external table (data at the given location; the
    * metastore entry carries the bucket spec Catalyst plans against). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    Tables.write(df).mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
