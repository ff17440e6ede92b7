package graft.streaming

import java.io.File
import java.nio.file.Files

import graft.SparkSpec

/** Crash contract of the streaming batch-state store: the per-batch
  * `b<id>` dirs, their `c<id>` consolidations and the `_SUCCESS` commit
  * marker, exercised directly on hand-built directory images (the states a
  * crash can leave behind) rather than through a running stream.
  */
class BatchStateSpec extends SparkSpec {

  private def newRoot(): String =
    Files.createTempDirectory("graft-bstate-").toString

  /** One state dir `<kind><id>` holding `rows`; `committed = false`
    * removes the `_SUCCESS` marker (a crash before the commit). */
  private def put(root: String, kind: Char, id: Long, rows: Seq[Long],
                  committed: Boolean = true): Unit = {
    import spark.implicits._
    val dir = f"$root/$kind$id%020d"
    rows.toDF("id").coalesce(1).write.parquet(dir)
    if (!committed) Files.delete(new File(dir, "_SUCCESS").toPath)
  }

  private def read(root: String, batchId: Long): Option[Seq[Long]] =
    Streaming.readBatchState(spark, root, batchId)
      .map(_.collect().map(_.getLong(0)).toSeq.sorted)

  private def listing(root: String): Seq[String] =
    new File(root).list().toSeq.filterNot(_.startsWith(".")).sorted

  private def name(kind: Char, id: Long): String = f"$kind$id%020d"

  test("a b dir already covered by a c dir is not read twice (cleanup never ran)") {
    val root = newRoot()
    (0L to 3L).foreach(i => put(root, 'b', i, Seq(i)))
    // compaction of b0..b2 committed c2, then crashed before deleting them
    put(root, 'c', 2L, Seq(0L, 1L, 2L))
    assert(read(root, 4L).contains(Seq(0L, 1L, 2L, 3L)))
    assert(read(root, 3L).contains(Seq(0L, 1L, 2L)))
    // the next compaction folds only what sits above c2, never the stale b's
    Streaming.compactBatchState(spark, root, 4L, 1)
    assert(listing(root).contains(name('c', 3L)))
    assert(read(root, 4L).contains(Seq(0L, 1L, 2L, 3L)))
    val c3 = spark.read.parquet(s"$root/${name('c', 3L)}")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(c3 == Seq(0L, 1L, 2L, 3L))
  }

  test("a dir without _SUCCESS is invisible to reads and to compaction") {
    val root = newRoot()
    put(root, 'b', 0L, Seq(0L))
    put(root, 'b', 1L, Seq(1L), committed = false)
    put(root, 'b', 2L, Seq(2L))
    // an uncommitted consolidation must not become the read base
    put(root, 'c', 2L, Seq(97L, 98L, 99L), committed = false)
    assert(read(root, 3L).contains(Seq(0L, 2L)))
    Streaming.compactBatchState(spark, root, 3L, 2)
    val after = listing(root)
    // b0 and b2 were folded and deleted; the uncommitted b1 was neither
    // folded nor deleted
    assert(!after.contains(name('b', 0L)) && !after.contains(name('b', 2L)))
    assert(after.contains(name('b', 1L)))
    assert(read(root, 3L).contains(Seq(0L, 2L)))
    // the committed c2 replaced the crashed attempt's rows wholesale
    val c2 = spark.read.parquet(s"$root/${name('c', 2L)}")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(c2 == Seq(0L, 2L))
  }

  test("reads and compaction never touch ids at or above batchId") {
    val root = newRoot()
    (0L to 5L).foreach(i => put(root, 'b', i, Seq(i)))
    // a consolidation from a later run sits above the current batch
    put(root, 'c', 7L, Seq(70L))
    assert(read(root, 0L).isEmpty)
    assert(read(root, 3L).contains(Seq(0L, 1L, 2L)))
    Streaming.compactBatchState(spark, root, 3L, 1)
    val after = listing(root)
    assert(after.contains(name('c', 2L)))
    Seq(3L, 4L, 5L).foreach(i => assert(after.contains(name('b', i)), s"b$i"))
    assert(after.contains(name('c', 7L)))
    assert(read(root, 3L).contains(Seq(0L, 1L, 2L)))
    assert(read(root, 5L).contains(Seq(0L, 1L, 2L, 3L, 4L)))
  }

  test("compactEvery <= 0 never compacts") {
    val root = newRoot()
    (0L to 4L).foreach(i => put(root, 'b', i, Seq(i)))
    val before = listing(root)
    Seq(0, -1).foreach(every => Streaming.compactBatchState(spark, root, 5L, every))
    assert(listing(root) == before)
    assert(read(root, 5L).contains(Seq(0L, 1L, 2L, 3L, 4L)))
  }
}
