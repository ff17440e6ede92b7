package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.operators.Ingest
import graft.streaming.Streaming

/** [[GraftDatabase.addRecords]] evaluates its batch ONCE: a lazy chunk →
  * embed batch calls the embedder once per record through the audit, the
  * duplicate-vs-existing semi-join and the write, on every caller's path,
  * and the one cache it takes is released on success and on each
  * validation error. Error texts and their precedence and the empty batch
  * behave as before the cache; NULL ids are rejected.
  */
class AddRecordsOnceSpec extends SparkSpec {

  import spark.implicits._

  private val embedder = "spec-counting-hash-8"
  private val calls = new AtomicLong
  private val hash8 = Embedders.hashProjection(8)
  Embedders.register(embedder, { blob => calls.incrementAndGet(); hash8(blob) })

  private def freshDb(): GraftDatabase = {
    val db = GraftDatabase.make(spark, Files.createTempDirectory("graft-once-").toString)
    db.addCollection(db.makeCollection("c", embedder))
    db
  }

  private def chunks(ids: String*): DataFrame =
    ids.map(i => (i, s"chunk text of $i")).toDF("id", "chunk").repartition(4)

  private def records(ids: String*): DataFrame =
    Ingest.makeRecords(spark, chunks(ids: _*), embedder)

  private def ids(n: Int): Seq[String] = (0 until n).map(i => s"r$i")

  /** Ids of the shared SparkContext's persisted RDDs. Checks compare what
    * a call ADDS to this set: an RDD another suite left persisted may be
    * unpersisted by the ContextCleaner mid-test, so equality would flake. */
  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` and returns how many embedder calls it made. */
  private def embedCalls(body: => Unit): Long = {
    calls.set(0)
    body
    calls.get()
  }

  private def failsWith(msg: String)(body: => Unit): Unit = {
    val e = intercept[GraftException](body)
    assert(e.getMessage == msg)
  }

  private def runStream(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try q.awaitTermination(60000) finally q.stop()

  test("addRecords over makeRecords embeds each record once") {
    val db = freshDb()
    assert(embedCalls(db.addRecords("c", records(ids(40): _*))) == 40)
    assert(db.records("c").count() == 40)
  }

  test("one streamIngest micro-batch embeds each record once") {
    implicit val sqlCtx = spark.sqlContext
    val db = freshDb()
    val mem = MemoryStream[(String, String)]
    mem.addData(ids(30).map(i => (i, s"streamed chunk $i")): _*)
    val n = embedCalls(runStream(Streaming.streamIngest(db, "c", mem.toDF().toDF("id", "chunk"),
      embedder, Files.createTempDirectory("graft-once-ckpt-").toString)))
    assert(n == 30)
    assert(db.records("c").count() == 30)
  }

  test("streamIngestDeduped embeds each admitted record once") {
    implicit val sqlCtx = spark.sqlContext
    val db = freshDb()
    val mem = MemoryStream[(String, String)]
    // r0..r24 fresh, dr0..dr4 repeat r0..r4's text (dropped before the embed)
    mem.addData(ids(25).map(i => (i, s"streamed chunk $i")) ++
      ids(5).map(i => (s"d$i", s"streamed chunk $i")): _*)
    val before = persistentRdds
    val n = embedCalls(runStream(Streaming.streamIngestDeduped(db, "c",
      mem.toDF().toDF("id", "chunk"), embedder,
      Files.createTempDirectory("graft-once-ckpt-").toString)))
    assert(n == 25)
    assert(db.records("c").count() == 25)
    assert((persistentRdds -- before).isEmpty)
  }

  test("nothing stays cached after a successful add or any validation error") {
    val db = freshDb()
    def releases(body: => Unit): Unit = {
      val before = persistentRdds
      body
      assert((persistentRdds -- before).isEmpty)
    }
    releases(db.addRecords("c", records("a", "b", "cc")))
    releases(failsWith(s"Record embedderId other != collection embedderId $embedder") {
      db.addRecords("c", records("z").withColumn("embedderId", lit("other"))) })
    releases(failsWith("Embedding is null for record ids: n1") {
      db.addRecords("c", records("n1", "n2").withColumn("embedding",
        when(col("id") === "n1", lit(null)).otherwise(col("embedding")))) })
    releases(failsWith("Duplicate record ids within batch: x") {
      db.addRecords("c", records("x").union(records("x", "y"))) })
    releases(failsWith("Record a already exists in collection c\n") {
      db.addRecords("c", records("q", "a")) })
    assert(db.records("c").count() == 3)
  }

  test("each validation error embeds the batch once") {
    val db = freshDb()
    db.addRecords("c", records("a"))
    assert(embedCalls(intercept[GraftException] {
      db.addRecords("c", records("z", "w").withColumn("embedderId", lit("other"))) }) == 2)
    assert(embedCalls(intercept[GraftException] {
      db.addRecords("c", records("x").union(records("x", "y"))) }) == 3)
    assert(embedCalls(intercept[GraftException] {
      db.addRecords("c", records("q", "a", "p")) }) == 3)
  }

  test("a caller-persisted batch is cached once and stays persisted") {
    val db = freshDb()
    val before = persistentRdds
    val batch = records(ids(20): _*).persist()
    try {
      assert(embedCalls(db.addRecords("c", batch)) == 20)
      assert(batch.storageLevel != StorageLevel.NONE)
      assert((persistentRdds -- before).size == 1) // the caller's own cache only
      assert(db.records("c").count() == 20)
    } finally batch.unpersist(true)
  }

  test("a batch that trips several checks raises the same first error") {
    val db = freshDb()
    db.addRecords("c", records("a"))
    def nullEmb(df: DataFrame, id: String) =
      df.withColumn("embedding", when(col("id") === id, lit(null)).otherwise(col("embedding")))
    // NULL id before mismatch before null embedding before in-batch
    // duplicate before existing duplicate
    failsWith("Record id is null for 1 records in batch") {
      db.addRecords("c", nullEmb(records("a", "x", "n").union(records("x")), "x")
        .withColumn("embedderId", when(col("id") === "a", lit("other"))
          .otherwise(col("embedderId")))
        .withColumn("id", when(col("id") === "n", lit(null)).otherwise(col("id")))) }
    failsWith(s"Record embedderId other != collection embedderId $embedder") {
      db.addRecords("c", nullEmb(records("a", "x").union(records("x")), "x")
        .withColumn("embedderId", when(col("id") === "a", lit("other"))
          .otherwise(col("embedderId")))) }
    failsWith("Embedding is null for record ids: n") {
      db.addRecords("c", nullEmb(records("a", "x", "n").union(records("x")), "n")) }
    failsWith("Duplicate record ids within batch: x") {
      db.addRecords("c", records("a", "x").union(records("x"))) }
    assert(db.records("c").count() == 1)
  }

  test("NULL ids are rejected and an empty batch writes one empty part file") {
    val db = freshDb()
    val withNulls = records("a", "b", "c").withColumn("id",
      when(col("id") === "a", col("id")).otherwise(lit(null).cast("string")))
    failsWith("Record id is null for 2 records in batch") { db.addRecords("c", withNulls) }
    failsWith("Record id is null for 1 records in batch") {
      db.addRecords("c", records("b").withColumn("id", lit(null).cast("string"))) }
    val single = Record(null, embedder, Array[Byte](1), hash8(Array[Byte](1)))
    failsWith(s"Record id is null for ${PrettyPrint.record(single)}") {
      db.addRecord("c", single) }
    assert(db.records("c").count() == 0)

    val empty = freshDb()
    assert(embedCalls(empty.addRecords("c", records())) == 0)
    val path = Paths.get(empty.getCollection("c").path)
    val files = Files.list(path).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(files.count(f => f.startsWith("part-") && f.endsWith(".parquet")) == 1)
    assert(files.contains("_SUCCESS"))
    assert(empty.records("c").count() == 0)
  }
}
