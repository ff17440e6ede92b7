package graft.core

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The index-source fingerprint is an md5 over the sorted
  * `relative path|length` lines of every `.parquet` file below the source,
  * hidden and `_temporary` dirs included. The expected value is computed
  * here from a plain `java.nio` walk, so a change to how the catalog lists
  * files cannot silently change the fingerprint of manifests already on
  * disk. */
class SourceFingerprintSpec extends SparkSpec {

  private def put(root: JPath, rel: String, bytes: Int): Unit = {
    val f = root.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, Array.fill[Byte](bytes)(7))
  }

  private def expected(root: JPath): String = {
    val s = Files.walk(root)
    val lines = try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => s"/${root.relativize(f).toString}|${Files.size(f)}").toSeq
    finally s.close()
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("fingerprint of a nested source equals the md5 of its parquet listing") {
    val root = Files.createTempDirectory("graft-fp-").resolve("src.parquet")
    put(root, "part-00000.parquet", 11)
    put(root, "part-00001.parquet", 5)
    put(root, "_SUCCESS", 0)
    put(root, ".part-00000.parquet.crc", 12)
    put(root, "_temporary/0/_temporary/attempt_0/part-00002.parquet", 3)
    put(root, "cell=1/part-00000.parquet", 8)
    put(root, "cell=1/.part-00000.parquet.crc", 12)
    put(root, "cell=12/part-00003.parquet", 21)
    put(root, "_centroids/part-00000.parquet", 9)
    put(root, "notes.txt", 4)
    val fp = GraftDatabase.sourceFingerprint(spark, root.toString)
    assert(fp == expected(root))
    // the instance form is the same function
    val db = GraftDatabase.make(spark, Files.createTempDirectory("graft-fp-db-").toString)
    assert(db.sourceFingerprint(root.toString) == fp)
    // a length change, a rename and an added file each move it
    put(root, "cell=1/part-00000.parquet", 9)
    val grown = GraftDatabase.sourceFingerprint(spark, root.toString)
    assert(grown != fp && grown == expected(root))
    Files.move(root.resolve("part-00001.parquet"), root.resolve("part-00009.parquet"))
    val renamed = GraftDatabase.sourceFingerprint(spark, root.toString)
    assert(renamed != grown && renamed == expected(root))
    // files that are not parquet do not count
    put(root, "cell=12/_SUCCESS", 0)
    assert(GraftDatabase.sourceFingerprint(spark, root.toString) == renamed)
  }

  test("a single-file source and a missing source") {
    val dir = Files.createTempDirectory("graft-fp-file-")
    put(dir, "one.parquet", 17)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("|17".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(GraftDatabase.sourceFingerprint(spark, dir.resolve("one.parquet").toString) == md)
    val e = intercept[GraftException](
      GraftDatabase.sourceFingerprint(spark, dir.resolve("absent").toString))
    assert(e.getMessage.contains("does not exist"))
  }
}
