package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graft.CoreBridge
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructType}
import graft.functions.VectorFunctions.as_double_array

/** Loaders for the driver-generated parquet tables (`TESTDATA.md`).
  * All math-facing loads normalize the embedding column to ARRAY<DOUBLE>
  * ([[embeddings]]). The one exception is index storage: a catalog-managed
  * index that stores a copy of the source vectors loads them through
  * [[embeddingsAtSourceWidth]], so the copy keeps the source's element type
  * and the expressions that read it widen.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths*)` without the schema-inference job. A
    * schema-less parquet read infers its schema in a one-task Spark job that
    * reads footers; here the schema comes from ONE footer read on the
    * driver, converted exactly as that job converts it
    * (`ParquetFileFormat.readSchemaFromFooter` with a session-conf
    * `ParquetToSparkSchemaConverter`), and is handed to
    * `spark.read.schema(_).parquet`, which launches no job.
    *
    * The footer is the one Spark's non-merging inference picks: among the
    * leaf files a scan would list (Spark's hidden-name rule: `_`/`.`
    * prefixes skipped, `k=v` partition dirs kept), a `_common_metadata`
    * summary, else a `_metadata` summary, else the first data file in path
    * order. Partition columns are not in the footer, so the scan still
    * discovers them and their types from the directory names. With no such
    * file (missing path, glob, only hidden files) the call is a plain
    * `spark.read.parquet`, so Spark raises its own error.
    *
    * A single root whose own name is hidden (an index's `_centroids` side
    * table) is read as its listed data files with the root as `basePath`:
    * the same rows and partition columns, without the `All paths were
    * ignored` warning Spark logs when the root it is given has a hidden
    * name. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val files = leafFiles(conf, paths)
    footerSchema(spark, conf, files) match {
      case None => spark.read.parquet(paths: _*)
      case Some(schema) =>
        val data = files.map(_.getPath).filterNot { p =>
          CoreBridge.isHiddenPathName(p.getName) || p.getName.startsWith("_")
        }
        paths match {
          case Seq(root) if CoreBridge.isHiddenPathName(new Path(root).getName) && data.nonEmpty =>
            spark.read.schema(schema).option("basePath", root).parquet(data.map(_.toString): _*)
          case _ => spark.read.schema(schema).parquet(paths: _*)
        }
    }
  }

  /** The leaf files a scan of `paths` would list, in path order. */
  private def leafFiles(conf: Configuration, paths: Seq[String]): Seq[FileStatus] = {
    def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => CoreBridge.isHiddenPathName(c.getPath.getName))
        .flatMap(leaves(fs, _))
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      if (fs.exists(hp)) leaves(fs, fs.getFileStatus(hp)) else Nil
    }.sortBy(_.getPath.toString)
  }

  private def footerSchema(spark: SparkSession, conf: Configuration,
                           files: Seq[FileStatus]): Option[StructType] = {
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => f.getPath.getName != "_common_metadata" &&
        f.getPath.getName != "_metadata"))
      .map { f =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** `df.write` for every engine write: a `DataFrameWriter` whose options
    * carry [[LocalFs.Settings]], so `file:` output goes through [[LocalFs]]
    * and creating its directories and files forks no `chmod`. The write
    * twin of [[read]].
    *
    * Writer options, not session conf: Spark copies a writer's options into
    * the write job's own Hadoop conf (`newHadoopConfWithOptions`), which
    * the driver's job setup and commit and every task's writer use. The
    * session's Hadoop conf and the process-wide cached `file:` filesystem
    * are left as they are, so nothing outside this write changes. The
    * settings name only the `file` scheme: a write to HDFS or S3 is
    * unaffected. */
  def write(df: DataFrame): DataFrameWriter[Row] = df.write.options(LocalFs.Settings)

  /** The session's Hadoop conf plus [[LocalFs.Settings]] — for the raw
    * `fs.create` writers (manifests, pointers) that [[write]] cannot reach.
    * A fresh copy: the session's own conf is not touched. */
  def writeConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    LocalFs.Settings.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** `vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT` — the load every
    * math-facing operator starts from: [[embeddingsAtSourceWidth]] with the
    * cast to ARRAY<DOUBLE>. */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    loadEmbeddings(spark, dir, keepWidth = false)

  /** `vec_id, embedding, label` with the embedding kept at the element type
    * the table stores when that is FLOAT or DOUBLE; any other element type
    * is widened to DOUBLE as [[embeddings]] widens it. The loader for index
    * builds that store a copy of the vectors: a FLOAT source's copy takes
    * half the bytes of a widened one, and every expression that reads a
    * stored vector (`cosine_sim`, [[graft.functions.NearestCentroid]],
    * [[graft.functions.SimHashBits]]) casts it to ARRAY<DOUBLE> itself.
    * FLOAT → DOUBLE is exact, so scores, cells and band keys are the same
    * bits either way. */
  def embeddingsAtSourceWidth(spark: SparkSession, dir: String): DataFrame =
    loadEmbeddings(spark, dir, keepWidth = true)

  /** Both embedding loads as one select over the read: the cast is chosen
    * per column rather than stacked as a second projection, which would
    * cost every load one more analysis. */
  private def loadEmbeddings(spark: SparkSession, dir: String, keepWidth: Boolean): DataFrame = {
    val t = table(spark, dir, "embeddings")
    val vec = t.schema("embedding").dataType match {
      case ArrayType(FloatType | DoubleType, _) if keepWidth => col("embedding")
      case _ => as_double_array(col("embedding")).as("embedding")
    }
    t.select(col("vec_id"), vec, col("label"))
  }

  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")

  /** Normalize a driver-table timestamp column to TIMESTAMP (LTZ), which is
    * what every downstream operator (`unix_micros`, windows, watermarks)
    * expects. The driver has generated two physical encodings across rounds:
    *   - parquet TIMESTAMP(NANOS) — Spark's vectorized reader rejects it;
    *     sessions set `spark.sql.legacy.parquet.nanosAsLong`, it reads as a
    *     LONG of nanos, converted here via integer div (nanos exceed double
    *     precision);
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark 4 infers
    *     TIMESTAMP_NTZ; cast to LTZ here. Sessions pin
    *     `spark.sql.session.timeZone=UTC`, so the cast reinterprets the
    *     wall-clock as the same UTC instant the DuckDB oracle reads.
    * Already-LTZ columns pass through untouched. */
  private def nanosToTs(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    nanosToTs(table(spark, dir, "events"), "ts")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    nanosToTs(table(spark, dir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, dir: String): DataFrame =
    nanosToTs(table(spark, dir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
}
