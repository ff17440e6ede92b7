package graft.operators

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.graft.CoreBridge
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** [[Ann.seedVectors]] — the seeding contract (ascending `vec_id`, range
  * form, DOUBLE vectors) read without a global sort. */
class SeedVectorsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** FLOAT vectors with ids 0..28 plus one with a NULL id, written as
    * several files in shuffled order so a scan returns them unsorted. */
  private lazy val e = {
    import spark.implicits._
    val rows = (0L until 29L).map(i => (Option(i), Seq(i.toFloat + 0.1f, -i.toFloat)))
    val dir = Files.createTempDirectory("graft-seeds-").resolve("e.parquet").toString
    (rows :+ ((Option.empty[Long], Seq(99f, 99f))))
      .toDF("vec_id", "embedding")
      .repartition(3).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def widened(i: Long): Seq[Double] = Seq((i.toFloat + 0.1f).toDouble, (-i.toFloat).toDouble)

  test("ascending vec_id, range form, FLOAT widened, NULL ids excluded, short ranges short") {
    val first = Ann.seedVectors(e, Long.MinValue, 5)
    assert(first.map(_._1) == (0L until 5L))
    assert(first.forall { case (i, v) => v == widened(i) })
    assert(Ann.seedCentroids(e, 5) == first.map(_._2))
    val mid = Ann.seedVectors(e, 3, 7)
    assert(mid.map(_._1) == (3L until 7L))
    assert(Ann.seedsIn(Ann.seedVectors(e, Long.MinValue, 10), 3, 7) == mid.map(_._2))
    // fewer rows than asked for: ids stop at 28, and the NULL id never matches
    val all = Ann.seedVectors(e, Long.MinValue, 100)
    assert(all.map(_._1) == (0L until 29L))
    assert(Ann.seedVectors(e, 40, 50).isEmpty)
  }

  test("the seed read plans no Sort and no Exchange") {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, x: Exception): Unit = ()
    }
    e.schema // build the input (and its inference job) before listening
    CoreBridge.flushListenerBus(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      Ann.seedVectors(e, Long.MinValue, 16)
      CoreBridge.flushListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(collect(p) { case s: SortExec => s }.isEmpty, p)
      assert(collect(p) { case x: Exchange => x }.isEmpty, p)
    }
  }
}
