package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Tables.write]] writes what `df.write` writes — rows, `_SUCCESS`, file
  * and directory modes — without forking a child process, and leaves the
  * session's Hadoop conf and its cached `file:` filesystem as they were. */
class TablesWriteSpec extends SparkSpec {

  private def frame: DataFrame =
    spark.range(0, 48, 1, 4).select(col("id"), (col("id") % 4).as("part"),
      concat(lit("row-"), col("id").cast("string")).as("text"))

  private def tmp(): JPath = Files.createTempDirectory("graft-tables-write-")

  /** `jdk.ProcessStart` events recorded in this JVM while `body` runs. */
  private def forksDuring(body: => Unit): Int = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      body
      r.stop()
      val f = Files.createTempFile("graft-forks-", ".jfr")
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.count(_.getEventType.getName == "jdk.ProcessStart")
    } finally r.close()
  }

  /** (is a directory, mode) of every path under `root`, the root included. */
  private def modes(root: JPath): Set[(Boolean, String)] =
    Files.walk(root).iterator().asScala.map { p =>
      (Files.isDirectory(p), PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.toSet

  private def partitioned(w: DataFrameWriter[Row], path: JPath): Unit =
    w.mode("overwrite").partitionBy("part").parquet(path.toString)

  test("a partitioned write forks no process where df.write forks one per file and directory") {
    val dir = tmp()
    frame.write.parquet(dir.resolve("warm").toString) // first-write class loading
    val ours = forksDuring(partitioned(Tables.write(frame), dir.resolve("ours")))
    assert(ours == 0)
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      assert(forksDuring(partitioned(frame.write, dir.resolve("theirs"))) > 0)
    }
  }

  test("rows, _SUCCESS and file and directory modes match df.write, umask included") {
    val dir = tmp()
    partitioned(Tables.write(frame), dir.resolve("ours"))
    partitioned(frame.write, dir.resolve("theirs"))
    def rows(p: JPath) = spark.read.parquet(p.toString).orderBy("id").collect().toSeq
    assert(rows(dir.resolve("ours")) == rows(dir.resolve("theirs")))
    assert(rows(dir.resolve("ours")).size == 48)
    assert(Files.exists(dir.resolve("ours/_SUCCESS")))
    assert(modes(dir.resolve("ours")) == Set((true, "rwxr-xr-x"), (false, "rw-r--r--")))
    assert(modes(dir.resolve("ours")) == modes(dir.resolve("theirs")))

    // a non-default umask in the write's conf (from the session or, as
    // here, the writer's options) sets the modes
    partitioned(Tables.write(frame).option("fs.permissions.umask-mode", "027"),
      dir.resolve("ours027"))
    assert(modes(dir.resolve("ours027")) == Set((true, "rwxr-x---"), (false, "rw-r-----")))
  }

  test("the session's Hadoop conf and cached file: filesystem are untouched") {
    val conf = spark.sparkContext.hadoopConfiguration
    def entries = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val before = entries
    val fs = FileSystem.get(new URI("file:///"), conf)
    partitioned(Tables.write(frame), tmp().resolve("t"))
    val out = tmp().resolve("manifest")
    val w = new org.apache.hadoop.fs.Path(out.toString)
      .getFileSystem(Tables.writeConf(spark)).create(new org.apache.hadoop.fs.Path(out.toString))
    w.close()
    assert(entries == before)
    assert(conf.get("fs.file.impl") == null || conf.get("fs.file.impl") != classOf[LocalFs].getName)
    assert(FileSystem.get(new URI("file:///"), conf) eq fs)
    assert(!fs.isInstanceOf[LocalFs])
    assert(new org.apache.hadoop.fs.Path(out.toString).getFileSystem(Tables.writeConf(spark))
      .isInstanceOf[LocalFs])
  }
}
