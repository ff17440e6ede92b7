package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * own job, stage and planning timestamps use. `kind` is one of
  * `workload`, `op`, `phase`, `job`, `stage`. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** What one finished Spark SQL execution reported: its Catalyst phase
  * times, the exchanges of its final (post-AQE) plan, and the time
  * SQLMetrics of each physical operator. */
final case class QueryRecord(startMs: Double, analysisMs: Double, optimizationMs: Double,
                             planningMs: Double, exchanges: Int, filesRead: Long,
                             operatorMs: Map[String, Double])

final case class StageRecord(stageId: Int, attempt: Int, jobId: Int, startMs: Double,
                             endMs: Double, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                             shuffleReadB: Long, shuffleWriteB: Long, spillB: Long)

/** The benchmark's clock and, in a traced run, its span recorder.
  *
  * Every call into the engine goes through [[op]] (an opaque call) or
  * [[frame]] (a call that returns a DataFrame, followed by the action that
  * runs it). Untraced, both only time the call. Traced, they record the
  * span tree `workload → op:<layer>.<call> → construct / plan / execute`;
  * Spark jobs and stages become child spans of the phase that launched
  * them, tied to it through a local property, and every finished SQL
  * execution is attributed to the op whose interval holds its analysis.
  * Spans stay in memory until [[Layers.traceJson]] writes them out. */
final class Recorder(spark: SparkSession, val cores: Int) {
  import Recorder._

  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  // --- always on: op latencies, failures, executor cpu per stage ---------

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  @volatile private var cpuNs = 0L
  @volatile private var stagesDone = 0L
  @volatile private var jobsStarted = 0L

  def sample(key: String): Seq[Double] =
    samples.synchronized(samples.get(key).map(_.toSeq).getOrElse(Nil))
  def record(key: String, v: Double): Unit =
    samples.synchronized(samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Double]) += v)

  /** Executor cpu seconds and stage count finished so far (after a drain). */
  def cpuSeconds: Double = { drain(); cpuNs / 1e9 }
  def stagesCompleted: Long = { drain(); stagesDone }
  def jobsLaunched: Long = { drain(); jobsStarted }
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  // --- traced only ---------------------------------------------------------

  @volatile var traced = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var current = 0L // innermost open bench span
  private val stages = new ConcurrentLinkedQueue[StageRecord]()
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val queries = new ConcurrentLinkedQueue[QueryRecord]()
  @volatile private var waitMs = 0.0
  @volatile private var retries = 0L

  sc.addSparkListener(new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      cpuNs += tm.executorCpuTime
      stagesDone += 1
      if (traced)
        stages.add(StageRecord(si.stageId, si.attemptNumber(),
          Option(stageJob.get(si.stageId)).getOrElse(-1),
          si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
          si.numTasks, tm.executorRunTime, tm.executorCpuTime, tm.jvmGCTime,
          tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted += 1
      if (traced) recordJobStart(e)
    }
    private def recordJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (parent, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
      Option(jobStart.remove(e.jobId)).foreach { case (parent, t0) =>
        jobs.add(Span(JobBase + e.jobId, parent, s"job ${e.jobId}", "job", t0, e.time.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
      val ti = e.taskInfo
      if (e.reason != Success || ti.attemptNumber > 0) retries += 1
      val m = e.taskMetrics
      if (m != null) {
        // the UI's scheduler delay: task wall not spent deserializing,
        // running or shipping its result
        val delay = ti.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - ti.gettingResultTime
        waitMs += math.max(0L, delay)
      }
    }
  })

  // every non-empty streaming micro-batch, in completion order
  spark.streams.addListener(new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) record("streaming.batch", e.progress.batchDuration.toDouble)
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (traced) queries.add(queryRecord(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private def open(name: String, kind: String): Span = {
    val s = Span(nextId, current, name, kind, nowMs, Double.NaN)
    nextId += 1
    current = s.id
    sc.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    spans += s.copy(endMs = nowMs)
    current = s.parent
    sc.setLocalProperty(SpanProp, s.parent.toString)
  }

  private def within[T](name: String, kind: String)(body: => T): T =
    if (!traced) body
    else {
      val s = open(name, kind)
      try body finally close(s)
    }

  /** Root span of a traced pass. */
  def workload[T](name: String)(body: => T): T = within(name, "workload")(body)

  /** An opaque call into `layer`; its Spark work counts as execution. */
  def op[T](layer: String, call: String)(body: => T): T =
    timed(layer, call)(within("execute", "phase")(body))

  /** A DataFrame-returning call into `layer`, then the action `act` on it.
    * Traced, planning is forced between the two so that construction
    * (including any eager driver jobs), planning and execution are
    * separate spans; untraced, the action plans as it always would. */
  def frame[T](layer: String, call: String)(construct: => DataFrame)(act: DataFrame => T): T =
    timed(layer, call) {
      val df = within("construct", "phase")(construct)
      within("plan", "phase")(if (traced) df.queryExecution.executedPlan)
      within("execute", "phase")(act(df))
    }

  private def timed[T](layer: String, call: String)(body: => T): T = {
    attempted += 1
    val t0 = nowMs
    val r = try within(s"op:$layer.$call", "op")(body)
    catch { case e: Throwable => failed += 1; throw e }
    record(s"$layer.$call", nowMs - t0)
    r
  }

  /** Clear every traced record (spans, jobs, stages, queries). */
  def resetTrace(): Unit = {
    drain()
    spans.clear(); stages.clear(); jobs.clear(); queries.clear(); jobStart.clear()
    waitMs = 0.0; retries = 0L
  }

  // --- traced-run analysis ----------------------------------------------------

  def allSpans: Seq[Span] = {
    drain()
    val jobSpans = jobs.asScala.toSeq
    val stageSpans = stages.asScala.toSeq.map(s => Span(StageBase + s.stageId * 100L + s.attempt,
      if (s.jobId >= 0) JobBase + s.jobId else 0L, s"stage ${s.stageId}", "stage",
      s.startMs, s.endMs))
    spans.toSeq ++ jobSpans ++ stageSpans
  }

  def stageRecords: Seq[StageRecord] = { drain(); stages.asScala.toSeq }
  def queryRecords: Seq[QueryRecord] = { drain(); queries.asScala.toSeq }
  def schedulerDelayMs: Double = waitMs
  def taskRetries: Long = retries
}

object Recorder {
  val SpanProp = "perfbench.span"
  val JobBase = 1000000000L
  val StageBase = 2000000000L

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var end = Double.NegativeInfinity
      iv.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      s.id -> math.max(0.0, s.durMs - covered)
    }.toMap
  }

  /** Every physical node of a final plan, looking through AQE wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def metricMs(p: SparkPlan): Double =
    p.metrics.values.map { m =>
      m.metricType match {
        case "timing" => m.value.toDouble
        case "nsTiming" => m.value / 1e6
        case _ => 0.0
      }
    }.sum

  def queryRecord(qe: QueryExecution): QueryRecord = {
    val ph = qe.tracker.phases
    def ms(name: String) = ph.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs.toDouble).minOption.getOrElse(0.0)
    val all = nodes(qe.executedPlan)
    val exchanges = all.count(_.isInstanceOf[Exchange])
    val files = all.filter(_.nodeName.contains("Scan"))
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val opMs = all.groupBy(_.nodeName).map { case (n, ps) => n -> ps.map(metricMs).sum }
      .filter(_._2 > 0)
    QueryRecord(start, ms("analysis"), ms("optimization"), ms("planning"), exchanges, files, opMs)
  }
}
