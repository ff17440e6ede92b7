package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.SparkSpec
import graft.core.{IndexPolicy, Tables}

/** Every catalog-managed index that stores a copy of the source vectors
  * stores it at the source's element type, and reads it through expressions
  * that widen it: over a FLOAT and over a DOUBLE copy of the sf0.001
  * embeddings, each builder's stored vector column has the source's element
  * type, its centroid side tables are DOUBLE, and its probe returns the
  * inline twin's rows bit for bit. An index stored in the widened layout
  * (what earlier builds wrote) is served as a hit and probes to the same
  * rows.
  */
class IndexVectorWidthSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** One index builder: its registry name and kind; the stored table
    * holding the vector copy (`""` = the index root), its vector column and
    * partition columns; the centroid side tables and their value column;
    * the probe under a policy and the inline twin, both over a dir. */
  private case class Builder(name: String, kind: String, table: String, vecCol: String,
                             partitions: Seq[String], sides: Seq[(String, String)],
                             probe: (String, IndexPolicy) => DataFrame,
                             inline: String => DataFrame)

  private def bucket = Sampling.hashBucket(col("vec_id"))

  private def srcBatch(d: String): DataFrame =
    Tables.embeddings(spark, d).where(col("vec_id") % 2 === 0 && bucket >= 50)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_vec"))

  private def incoming(d: String): DataFrame = Tables.embeddings(spark, d).where(bucket >= 50)

  private val builders = Seq(
    Builder("embeddings-ivf-c16", "ivf-cell", "", "embedding", Seq("cell"), Nil,
      (d, p) => Ann.ivfTopkIndexed(spark, d, 3L, 10, 16, 4, p),
      d => Ann.ivfTopk(spark, d, 3L, 10, 16, 4)),
    // the inline twin of a trained index: the delta form with every vector
    // in the base, so it trains on the same rows
    Builder("embeddings-ivf-trained-c8-i10", "ivf-trained", "", "embedding", Seq("cell"),
      Seq("_centroids" -> "m"),
      (d, p) => Ann.ivfTopkTrained(spark, d, 3L, 10, 8, 3, 10, p),
      d => Ann.ivfDeltaTopk(spark, d, 3L, 10, 8, 3, 10, splitId = Long.MaxValue)),
    Builder("embeddings-ivf2-f16-c4", "ivf-two-level", "", "embedding", Seq("fcell"),
      Seq("_fine_centroids" -> "fv", "_coarse_centroids" -> "m"),
      (d, p) => Ann.ivfTopk2Indexed(spark, d, 3L, 10, 16, 4, 2, 4, p),
      d => Ann.ivfTopk2(spark, d, 3L, 10, 16, 4, 2, 4)),
    Builder("embeddings-ann-b16-w4", "lsh-band", "", "embedding", Seq("key"), Nil,
      (d, p) => Ann.annTopkIndexed(spark, d, 3L, 10, policy = p),
      d => Ann.annTopk(spark, d, 3L, 10)),
    Builder("embeddings-bitext-cells-c8", "bitext-cells", "cells", "tv", Nil,
      Seq("cents" -> "cv"),
      (d, p) => Bitext.minePairsIncrementalIndexed(spark, d, srcBatch(d), policy = p),
      d => Bitext.minePairsIncremental(srcBatch(d), Bitext.tgtSide(spark, d))),
    Builder("embeddings-bitext-cells2-f8-c3", "bitext-cells-2level", "cells2", "tv", Nil,
      Seq("coarse" -> "cv", "fine" -> "fv"),
      (d, p) => Bitext.minePairsIncrementalIndexed2(spark, d, srcBatch(d), policy = p),
      d => Bitext.minePairsIncremental2(srcBatch(d), Bitext.tgtSide(spark, d))),
    Builder("embeddings-semcells-b50-c16", "semantic-cells", "cells", "embedding", Nil,
      Seq("cents" -> "cv"),
      (d, p) => Dedup.semanticIncrementalIndexed(spark, d, incoming(d), policy = p),
      d => Dedup.semanticIncremental(incoming(d),
        Tables.embeddings(spark, d).where(bucket < 50))))

  /** Rows in order, every double as its bit pattern. */
  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case v => v
  })

  private def elementType(t: DataType): DataType = t match {
    case ArrayType(e, _) => e
    case other => other
  }

  private def at(root: String, sub: String) = if (sub.isEmpty) root else s"$root/$sub"

  private def storedType(root: String, b: Builder): DataType =
    elementType(Tables.read(spark, at(root, b.table)).schema(b.vecCol).dataType)

  private def visible(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }.toList
    finally ls.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p)) {
      val ls = Files.list(p)
      try ls.iterator().asScala.toList.foreach(deleteRecursively) finally ls.close()
    }
    Files.deleteIfExists(p)
  }

  /** Rewrite an index's stored vector table in place with its vectors
    * widened to DOUBLE — the layout an index built before source-width
    * storage holds. Side tables (`_`-prefixed at the index root) stay. */
  private def widenInPlace(root: String, b: Builder, scratch: Path): Unit = {
    val loc = Paths.get(at(root, b.table))
    val tmp = scratch.resolve(s"widen-${b.kind}")
    val df = spark.read.parquet(loc.toString)
    val widened = df.select(df.columns.toSeq.map(c =>
      if (c == b.vecCol) col(c).cast("array<double>").as(c) else col(c)): _*)
    widened.write.partitionBy(b.partitions: _*).parquet(tmp.toString)
    visible(loc).foreach(deleteRecursively)
    visible(tmp).foreach(p => Files.move(p, loc.resolve(p.getFileName)))
  }

  /** A dir whose `embeddings.parquet` is the sf0.001 table with its vectors
    * cast to `element`. */
  private def source(scratch: Path, element: String): String = {
    val d = scratch.resolve(element)
    Tables.table(spark, sf, "embeddings")
      .withColumn("embedding", col("embedding").cast(s"array<$element>"))
      .coalesce(2).write.parquet(d.resolve("embeddings.parquet").toString)
    d.toString
  }

  private def withSources(body: (Path, Seq[(String, DataType)]) => Unit): Unit = {
    val scratch = Files.createTempDirectory("graft-index-width-")
    val dirs = Seq(source(scratch, "float") -> FloatType, source(scratch, "double") -> DoubleType)
    try body(scratch, dirs)
    finally {
      dirs.foreach { case (d, _) =>
        deleteRecursively(Paths.get(CatalogOps.indexRegistry(spark, d).basePath))
      }
      deleteRecursively(scratch)
    }
  }

  test("stored vectors keep the source's element type; probes are bit-identical to the inline twins") {
    withSources { (_, dirs) =>
      val probed = dirs.map { case (d, element) =>
        assert(elementType(Tables.embeddingsAtSourceWidth(spark, d).schema("embedding")
          .dataType) == element)
        builders.map { b =>
          val got = rows(b.probe(d, IndexPolicy.BuildIfMissing))
          assert(got.nonEmpty, b.kind)
          assert(got == rows(b.inline(d)), s"${b.kind} over $element")
          val m = CatalogOps.indexRegistry(spark, d).getIndex(b.name)
          assert(m.kind == b.kind)
          assert(storedType(m.path, b) == element, s"${b.kind} stored vectors over $element")
          b.sides.foreach { case (sub, c) =>
            assert(elementType(Tables.read(spark, s"${m.path}/$sub").schema(c).dataType) ==
              DoubleType, s"${b.kind} side table $sub over $element")
          }
          got
        }
      }
      // FLOAT → DOUBLE is exact, so both sources answer with the same bits
      assert(probed.head == probed(1))
    }
  }

  test("an index stored with widened vectors resolves as a hit and probes to the same rows") {
    withSources { (scratch, dirs) =>
      val d = dirs.head._1
      builders.foreach { b =>
        val want = rows(b.probe(d, IndexPolicy.BuildIfMissing))
        val built = CatalogOps.indexRegistry(spark, d).getIndex(b.name)
        assert(storedType(built.path, b) == FloatType, b.kind)
        widenInPlace(built.path, b, scratch)
        assert(storedType(built.path, b) == DoubleType, b.kind)
        assert(rows(b.probe(d, IndexPolicy.FailIfMissing)) == want, b.kind)
        val served = CatalogOps.indexRegistry(spark, d).getIndex(b.name)
        assert(served.version == built.version && served.path == built.path, b.kind)
      }
    }
  }
}
