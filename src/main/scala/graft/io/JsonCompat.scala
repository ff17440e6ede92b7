package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.{CollectionMeta, GraftDatabase, GraftException, Record, Tables}

/** JSON persistence compatibility layer — O18–O21.
  *
  * Byte-exact wire format pinned by the reference's own golden tests:
  *  - record: `{"blob":"...","embedding":[...],"embedderId":"...","id":"..."}`
  *    with blob serialized as a UTF-8 STRING, not base64
  *    (`/root/reference/records/records.go:19-33`, golden at
  *    `records/records_test.go:33`);
  *  - collection: `{"id":...,"embedderId":...,"embeddings":{...}}` — note the
  *    record map keyed `"embeddings"` (`collection/collection.go:16`);
  *  - database: `{"collections":{...}}` (`database/database.go:37-46`,
  *    golden at `database/database_test.go:79`);
  *  - map keys sorted (Go's json.Marshal sorts map keys);
  *  - floats Go-style (`1` not `1.0`); HTML-significant chars escaped as
  *    `<`/`>`/`&` (Go's default HTML escaping).
  *
  * The whole-database single-document format is inherently driver-side — the
  * reference buffers the entire DB through one `json.Marshal`
  * (`database/database.go:169`). This layer is the *compat* import/export;
  * the engine's native at-rest format stays Parquet. For bulk JSON at scale
  * use [[exportJsonl]]/[[importJsonl]], which stream one record per line
  * through executors.
  */
object JsonCompat {

  // --- Go-parity scalar formatting ---------------------------------------

  /** Go strconv shortest-round-trip float formatting ('g', -1) as used by
    * encoding/json, for the plain-decimal range the golden corpus exercises
    * (integral values print without a decimal point: `1`, not `1.0`). */
  def goFloat(d: Double): String = {
    if (d.isNaN || d.isInfinite)
      throw new GraftException(s"json: unsupported value: $d")
    if (d == math.rint(d) && math.abs(d) < 1e21) {
      if (math.abs(d) <= 9.007199254740992e15) d.toLong.toString
      else new java.math.BigDecimal(d).toBigInteger.toString
    } else {
      val bd = new java.math.BigDecimal(java.lang.Double.toString(d)).stripTrailingZeros()
      bd.toPlainString
    }
  }

  /** Go encoding/json string escaping: `"` `\` control chars, plus HTML
    * escaping of `<` `>` `&` (Go's default). */
  def goEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '<'  => sb.append("\\u003c")
      case '>'  => sb.append("\\u003e")
      case '&'  => sb.append("\\u0026")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  // --- marshalling (O20 record, O21 collection/database) ------------------

  /** O20 — record marshal, key order (blob, embedding, embedderId, id) as
    * Go emits for the aliased struct (`records/records.go:19-33`). */
  def recordToJson(r: Record): String = {
    val blob = new String(Option(r.blob).getOrElse(Array.emptyByteArray), StandardCharsets.UTF_8)
    val emb = Option(r.embedding).getOrElse(Array.emptyDoubleArray)
      .map(goFloat).mkString("[", ",", "]")
    s"""{"blob":"${goEscape(blob)}","embedding":$emb,"embedderId":"${goEscape(r.embedderId)}","id":"${goEscape(r.id)}"}"""
  }

  /** O21a — collection marshal: struct field order (id, embedderId), record
    * map under the `"embeddings"` key, record ids sorted. */
  def collectionToJson(meta: CollectionMeta, records: Seq[Record]): String = {
    val recs = records.sortBy(_.id)
      .map(r => s""""${goEscape(r.id)}":${recordToJson(r)}""").mkString(",")
    s"""{"id":"${goEscape(meta.id)}","embedderId":"${goEscape(meta.embedderId)}","embeddings":{$recs}}"""
  }

  /** O21b — database marshal: collection ids sorted, mutex dropped
    * (`database/database.go:37-46`). */
  def databaseToJson(db: GraftDatabase): String = {
    val colls = db.getCollections.toSeq.sortBy(_._1).map { case (id, meta) =>
      s""""${goEscape(id)}":${collectionToJson(meta, collectRecords(db, id))}"""
    }.mkString(",")
    s"""{"collections":{$colls}}"""
  }

  // --- O18 ToFile / O19 FromFile -----------------------------------------

  /** O18 — whole-database JSON export (`database/database.go:165-182`). */
  def toFile(db: GraftDatabase, fileName: String): Unit =
    Files.write(Paths.get(fileName), databaseToJson(db).getBytes(StandardCharsets.UTF_8))

  /** O19 — whole-database JSON import (`database/database.go:146-163`).
    * Like the reference's UnmarshalJSON chain, collections are restored
    * without re-validating embedder resolvability (`database.go:48-62`
    * just fills structs). */
  def fromFile(spark: SparkSession, basePath: String, fileName: String): GraftDatabase = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(fileName)))
    val db = GraftDatabase.make(spark, basePath)
    val colls = root.path("collections")
    colls.properties().forEach { entry =>
      val cid = entry.getKey
      val cnode = entry.getValue
      db.addCollection(CollectionMeta(cid, cnode.path("embedderId").asText(),
        s"$basePath/$cid/v0"))
      val recs = cnode.path("embeddings")
      val parsed = scala.collection.mutable.ArrayBuffer.empty[Record]
      recs.properties().forEach { re =>
        val rn = re.getValue
        val emb = new Array[Double](rn.path("embedding").size())
        var i = 0
        rn.path("embedding").forEach { e => emb(i) = e.asDouble(); i += 1 }
        parsed += Record(
          id = rn.path("id").asText(),
          embedderId = rn.path("embedderId").asText(),
          blob = rn.path("blob").asText().getBytes(StandardCharsets.UTF_8),
          embedding = emb)
      }
      if (parsed.nonEmpty) {
        val rows = parsed.toSeq.map(r => Row(r.id, r.embedderId, r.blob, r.embedding.toSeq))
        db.addRecords(cid, spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), Record.schema))
      }
    }
    db
  }

  // --- distributed JSONL (the scale path) ---------------------------------

  /** Record-per-line JSON export of one collection through executors —
    * same record shape as O20, written distributed. */
  def exportJsonl(db: GraftDatabase, collectionId: String, path: String): Unit = {
    import org.apache.spark.sql.functions._
    Tables.write(db.records(collectionId)
      .select(
        col("blob").cast("string").as("blob"),
        col("embedding"), col("embedderId"), col("id")))
      .mode("overwrite").json(path)
  }

  /** Distributed JSONL import into an existing collection. */
  def importJsonl(db: GraftDatabase, collectionId: String, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val df = db.spark.read
      .schema("blob STRING, embedding ARRAY<DOUBLE>, embedderId STRING, id STRING")
      .json(path)
      .select(col("id"), col("embedderId"), col("blob").cast("binary").as("blob"),
        col("embedding"))
    db.addRecords(collectionId, df)
  }

  private def collectRecords(db: GraftDatabase, collectionId: String): Seq[Record] =
    db.records(collectionId).collect().toSeq.map { row =>
      Record(row.getString(0), row.getString(1), row.getAs[Array[Byte]](2),
        Option(row.getSeq[Double](3)).map(_.toArray).orNull)
    }
}
