package graft.core

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.IntegerType

import graft.{SparkEntry, SparkSpec}
import graft.operators.{Ann, CatalogOps}

/** [[Tables.read]] is `spark.read.parquet` minus the schema-inference job:
  * the same schema (partition columns included), the same errors, and no
  * job while the DataFrame is built. */
class TablesReadSpec extends SparkSpec {

  /** The sf0.001 fixture directory, located through the smoke entry query
    * that reads its `embeddings.parquet`. */
  private lazy val fixtureDir: String = {
    val f = SparkEntry.entry(spark).inputFiles.head
    new java.net.URI(f.take(f.indexOf("/embeddings.parquet"))).getPath
  }

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    CoreBridge.flushListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      CoreBridge.flushListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  private def tmp(): JPath = Files.createTempDirectory("graft-tables-read-")

  test("every fixture table reads with spark.read.parquet's schema, timestamp encodings included") {
    val tables = new java.io.File(fixtureDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    assert(Seq("embeddings", "events", "lineitem", "orders")
      .forall(t => tables.exists(_.endsWith(s"/$t.parquet"))), tables)
    tables.foreach { t =>
      assert(Tables.read(spark, t).schema == spark.read.parquet(t).schema, t)
    }
  }

  test("an IVF index dir keeps its partition column and type; hidden subdirs stay hidden") {
    val dir = tmp().toString
    spark.range(0, 40).withColumnRenamed("id", "vec_id").selectExpr("vec_id",
        "transform(sequence(0, 7), i -> cast(sin(vec_id * 7 + i) AS FLOAT)) AS embedding",
        "cast(vec_id % 3 AS INT) AS label")
      .repartition(2).write.parquet(s"$dir/embeddings.parquet")
    Ann.ivfTopkTrained(spark, dir, 0L, k = 3, nCells = 4, nProbe = 2, maxIters = 2).collect()
    val idx = CatalogOps.indexRegistry(spark, dir).getIndex("embeddings-ivf-trained-c4-i2").path
    assert(Files.isDirectory(JPath.of(idx, "_centroids")))
    assert(new java.io.File(idx).list().exists(_.startsWith("cell=")))
    val mine = Tables.read(spark, idx)
    val theirs = spark.read.parquet(idx)
    assert(mine.schema == theirs.schema)
    assert(mine.schema("cell").dataType == IntegerType)
    def rows(df: DataFrame) = df.orderBy("vec_id").collect().toSeq
    assert(rows(mine) == rows(theirs))
    assert(mine.count() == 40)
  }

  test("a hidden-named side table reads the same rows without Spark's ignored-paths warning") {
    val dir = tmp().toString
    spark.range(0, 40).withColumnRenamed("id", "vec_id").selectExpr("vec_id",
        "transform(sequence(0, 7), i -> cast(cos(vec_id * 5 + i) AS FLOAT)) AS embedding",
        "cast(vec_id % 3 AS INT) AS label")
      .repartition(2).write.parquet(s"$dir/embeddings.parquet")
    Ann.ivfTopkTrained(spark, dir, 0L, k = 3, nCells = 4, nProbe = 2, maxIters = 2).collect()
    val side = CatalogOps.indexRegistry(spark, dir).getIndex("embeddings-ivf-trained-c4-i2")
      .path + "/_centroids"
    val warned = new java.util.concurrent.CopyOnWriteArrayList[String]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender("ignored-paths",
        null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    def warnings(read: => DataFrame): Int = {
      warned.clear()
      read
      warned.asScala.count(_.contains("All paths were ignored"))
    }
    appender.start()
    logger.addAppender(appender)
    try {
      assert(warnings(spark.read.parquet(side)) == 1) // the warning being removed
      assert(warnings(Tables.read(spark, side)) == 0)
    } finally logger.removeAppender(appender)
    val mine = Tables.read(spark, side)
    val theirs = spark.read.parquet(side)
    assert(mine.schema == theirs.schema)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toString).sorted
    assert(rows(mine) == rows(theirs) && rows(mine).size == 4 * 8) // (cell, dim, value)
  }

  test("a missing path and a dir of hidden files raise Spark's own errors") {
    val dir = tmp()
    def err(read: => DataFrame): (String, String) = {
      val e = intercept[AnalysisException](read)
      (e.getCondition, e.getMessage)
    }
    val missing = dir.resolve("absent.parquet").toString
    assert(err(Tables.read(spark, missing)) == err(spark.read.parquet(missing)))
    val hidden = dir.resolve("hidden")
    spark.range(3).write.parquet(hidden.toString)
    Files.list(hidden).filter(_.getFileName.toString.startsWith("part-")).forEach { f =>
      Files.move(f, hidden.resolve("_" + f.getFileName))
    }
    val h = hidden.toString
    assert(err(Tables.read(spark, h)) == err(spark.read.parquet(h)))
  }

  test("building the DataFrame launches no job") {
    val t = s"$fixtureDir/embeddings.parquet"
    assert(jobsDuring(spark.read.parquet(t)) >= 1) // the inference job being removed
    assert(jobsDuring(Tables.read(spark, t)) == 0)
    assert(jobsDuring(Tables.embeddings(spark, fixtureDir)) == 0)
  }
}
