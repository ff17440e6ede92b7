package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import Workload.median

/** Benchmark JVM entry. `perfbench/run.py` builds and launches it:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cpus C --work DIR --traces DIR
  *
  * One run: generate the inputs from the seed; set up `setupReps` times;
  * run the workload's warm-up passes; then either time passes until
  * `seconds` of pass time have elapsed (`--trace 0`), or run untraced and
  * traced passes and derive the per-layer metrics (`--trace 1`); finally
  * check the outputs. The result goes to `DIR/result.json`. */
object Main {
  val TracedPasses = 2
  /** Timed passes stop being started after this much run time, so a slow
    * build of the program still ends inside the runner's timeout. */
  val RunBudgetMs = 120000.0

  /** End-to-end metrics, reported by every workload: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s", "op_p50_ms" -> "ms",
    "stored_bytes_per_input_byte" -> "ratio")

  /** Per-layer metrics of a traced run, reported by every workload; a
    * layer the workload does not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.construct_ms" -> "ms", "spark.eager_jobs" -> "count",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.exec_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.exchanges" -> "count", "spark.sched_delay_s" -> "s",
    "spark.busy_ratio" -> "ratio", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_retries" -> "count",
    "spark.retained_storage_mb" -> "MB",
    "core.query.embed_ms" -> "ms", "core.query.scan_ms" -> "ms",
    "core.query.files_read" -> "count", "core.get_record.ms" -> "ms",
    "core.add_records.ms" -> "ms", "core.add_records.jobs" -> "count",
    "core.add_records.bytes_written" -> "bytes", "core.collection.files" -> "count",
    "core.collection.bytes" -> "bytes", "core.index.resolve_ms" -> "ms",
    "core.index.built" -> "count", "core.index.hit" -> "count",
    "functions.cosine_sim.rows_per_s" -> "1/s", "functions.word_gram_stats.rows_per_s" -> "1/s",
    "functions.token_list_hits.rows_per_s" -> "1/s", "functions.hash_embed.rows_per_s" -> "1/s",
    "operators.similarity_join.ms" -> "ms", "operators.ivf.build_ms" -> "ms",
    "operators.ivf.probe_ms" -> "ms",
    "io.export.ms" -> "ms", "io.export.bytes_written" -> "bytes", "io.export.files" -> "count",
    "streaming.batch_ms" -> "ms", "streaming.state_mb" -> "MB",
    "streaming.batch_stages" -> "count",
    "self.bench_ms" -> "ms", "self.core_ms" -> "ms", "self.operators_ms" -> "ms",
    "self.io_ms" -> "ms", "self.streaming_ms" -> "ms",
    "self.spark.construct_ms" -> "ms", "self.spark.plan_ms" -> "ms",
    "self.spark.execute_ms" -> "ms", "self.spark.job_ms" -> "ms", "self.spark.stage_ms" -> "ms",
    "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s",
    "trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val cpus = opts("cpus").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the engine's own sessions (Bench, Verify, ScaleSmoke) size the
      // generated-class cache so that multi-stage plans do not recompile
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val result = run(spark, name, opts("seed").toLong, opts("seconds").toInt,
        opts("trace") == "1", cpus, work, Paths.get(opts("traces")))
      Files.write(work.resolve("result.json"), result.getBytes(UTF_8))
    } finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Int, trace: Boolean,
                  cpus: Int, work: Path, traces: Path): String = {
    val started = System.nanoTime()
    def runMs = (System.nanoTime() - started) / 1e6
    val rec = new Recorder(spark, cpus)
    val w = Workload(name, spark, seed, work.resolve("data"))
    val log = mutable.ArrayBuffer.empty[String]
    def say(s: String): Unit = { println(s); log += s }

    w.generate()
    println(f"generated inputs at ${runMs / 1000}%.1f s")
    (0 until w.setupReps).foreach { r =>
      val t0 = rec.nowMs
      w.setup(r)
      rec.record("setup", rec.nowMs - t0)
    }
    println(f"set up at ${runMs / 1000}%.1f s")
    var passNo = 0
    var passErrors = 0
    /** One pass: (wall s, executor cpu s), or None if a call failed. A
      * traced pass records spans only once its untimed preparation is done
      * and every event of it has reached the listeners. */
    def runPass(traced: Boolean = false): Option[(Double, Double)] = {
      w.beforePass(rec, passNo)
      passNo += 1
      val cpu0 = rec.cpuSeconds
      rec.traced = traced
      val t0 = rec.nowMs
      try {
        rec.workload(name)(w.pass(rec))
        val p = ((rec.nowMs - t0) / 1000, rec.cpuSeconds - cpu0)
        println(f"pass $passNo%d: wall ${p._1}%.3f s, executor cpu ${p._2}%.3f s")
        Some(p)
      } catch {
        case NonFatal(e) =>
          passErrors += 1
          say(s"pass $passNo failed: $e")
          None
      } finally rec.traced = false
    }
    def keepOnly(key: String): Unit = rec.samples.keys.toSeq.filter(_ != key).foreach(rec.samples.remove)

    (0 until w.warmPasses).foreach(_ => runPass())
    keepOnly("setup")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    val timed = mutable.ArrayBuffer.empty[(Double, Double)]
    val traced = mutable.ArrayBuffer.empty[Double]
    if (!trace) {
      var elapsed = 0.0
      while ((elapsed < seconds || timed.size < w.minTimedPasses) && passErrors < 3 &&
        !(timed.size >= w.minTimedPasses && runMs > RunBudgetMs)) {
        runPass().foreach { p => timed += p; elapsed += p._1 }
      }
    } else {
      // untraced and traced passes run in the order U T T U, so that
      // warm-up drift falls on both sides of the overhead figure alike
      rec.resetTrace()
      (0 until TracedPasses).foreach { i =>
        (if (i % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { t =>
          runPass(traced = t).foreach(p => if (t) traced += p._1 else timed += p)
        }
      }
    }
    val wallS = median(timed.map(_._1).toSeq)
    val storage = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val stored = w.storedBytesPerInputByte
    report ++= Seq(
      "setup_s" -> (median(rec.sample("setup")) / 1000, "s"),
      "wall_s" -> (wallS, "s"),
      "cpu_s" -> (median(timed.map(_._2).toSeq), "s"),
      "op_p50_ms" -> (median(rec.sample(w.primaryOp)), "ms"),
      "stored_bytes_per_input_byte" -> (stored, "ratio"),
      "retained_storage_mb" -> (storage, "MB"),
      "timed_passes" -> (timed.size.toDouble, "count"),
      s"${w.itemName}s_per_pass" -> (w.itemsPerPass, "count"))
    w.extraMetrics(rec, wallS).foreach { case (n, v, u) => report(n) = (v, u) }
    EndToEnd.foreach { case (n, _) => metrics(n) = report(n) }

    if (trace) {
      val layers = Layers.compute(rec, w, name, TracedPasses, storage) ++
        w.kernels(rec) ++ Map(
          "trace.untraced_wall_s" -> wallS,
          "trace.traced_wall_s" -> median(traced.toSeq),
          "trace.overhead_s" -> (median(traced.toSeq) - wallS))
      metrics.clear()
      PerLayer.foreach { case (n, u) => metrics(n) = (layers.getOrElse(n, 0.0), u) }
      Files.createDirectories(traces)
      val file = traces.resolve(s"$name-seed$seed.json")
      Files.write(file, Layers.traceJson(rec, name, seed, metrics).getBytes(UTF_8))
      say(s"trace written to $file")
    }

    println(f"passes done at ${runMs / 1000}%.1f s")
    val checks: Seq[(String, Boolean)] =
      try w.checks(rec)
      catch { case NonFatal(e) => say(s"checks failed: $e"); Seq("checks_ran" -> false) }
    println(f"checked at ${runMs / 1000}%.1f s")
    checks.foreach { case (n, ok) => say(s"check $n ${if (ok) "ok" else "FAILED"}") }
    val attempted = rec.attempted + checks.size
    val failed = rec.failed + checks.count(!_._2)
    report("fail_ratio") = (failed.toDouble / attempted, "ratio")
    val shown = if (trace) metrics else report
    shown.foreach { case (n, (v, u)) => say(f"metric $n%-40s $v%.6g $u") }
    Json.obj(Seq(
      "report" -> Json.arr(log.map(Json.str).toSeq),
      "summary" -> Json.obj(Seq(
        "correct" -> (if (failed == 0 && passErrors == 0 && timed.nonEmpty) "true" else "false"),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.toSeq.map { case (n, (v, u)) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        })))))
  }
}

/** Per-layer figures derived from a traced run's spans and records. */
object Layers {
  def compute(rec: Recorder, w: Workload, name: String, passes: Int,
              storageMb: Double): Map[String, Double] = {
    val spans = rec.allSpans
    val self = Recorder.selfTimes(spans)
    val stages = rec.stageRecords
    val queries = rec.queryRecords
    val p = passes.toDouble
    def phase(n: String) = spans.filter(s => s.kind == "phase" && s.name == n)
    val construct = phase("construct").map(_.id).toSet
    val execute = phase("execute").map(_.id).toSet
    val execMs = phase("execute").map(_.durMs).sum
    // stages of the jobs the execute phases launched; eager jobs of the
    // construct phases run outside `execMs`
    val execJobs = spans.filter(s => s.kind == "job" && execute(s.parent)).map(_.id).toSet
    val execRunMs = stages.filter(s => execJobs(Recorder.JobBase + s.jobId)).map(_.runMs).sum
    def selfOf(f: Span => Boolean) = spans.filter(f).map(s => self(s.id)).sum / p
    val byId = spans.map(s => s.id -> s).toMap
    def layerOf(s: Span): Option[String] = s.kind match {
      case "op" => Some(s.name.stripPrefix("op:").takeWhile(_ != '.'))
      case "phase" => byId.get(s.parent).flatMap(layerOf)
      case _ => None
    }
    // driver-side self time of a layer's calls: the call and its phases,
    // minus the Spark jobs they launched
    def inLayer(layer: String)(s: Span) = layerOf(s).contains(layer)
    val base = Map(
      "spark.construct_ms" -> phase("construct").map(_.durMs).sum / p,
      "spark.eager_jobs" -> spans.count(s => s.kind == "job" && construct(s.parent)) / p,
      "spark.analysis_ms" -> queries.map(_.analysisMs).sum / p,
      "spark.optimization_ms" -> queries.map(_.optimizationMs).sum / p,
      "spark.planning_ms" -> queries.map(_.planningMs).sum / p,
      "spark.exec_ms" -> execMs / p,
      "spark.jobs" -> spans.count(_.kind == "job") / p,
      "spark.stages" -> stages.size / p,
      "spark.tasks" -> stages.map(_.tasks).sum / p,
      "spark.exchanges" -> queries.map(_.exchanges).sum / p,
      "spark.sched_delay_s" -> rec.schedulerDelayMs / 1000 / p,
      "spark.busy_ratio" -> (if (execMs == 0) 0.0 else execRunMs / (execMs * rec.cores)),
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / p,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleReadB).sum / 1e6 / p,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteB).sum / 1e6 / p,
      "spark.spill_mb" -> stages.map(_.spillB).sum / 1e6 / p,
      "spark.task_retries" -> rec.taskRetries / p,
      "spark.retained_storage_mb" -> storageMb,
      "self.bench_ms" -> selfOf(_.kind == "workload"),
      "self.core_ms" -> selfOf(inLayer("core")),
      "self.operators_ms" -> selfOf(inLayer("operators")),
      "self.io_ms" -> selfOf(inLayer("io")),
      "self.streaming_ms" -> selfOf(inLayer("streaming")),
      "self.spark.construct_ms" -> selfOf(s => s.kind == "phase" && s.name == "construct"),
      "self.spark.plan_ms" -> selfOf(s => s.kind == "phase" && s.name == "plan"),
      "self.spark.execute_ms" -> selfOf(s => s.kind == "phase" && s.name == "execute"),
      "self.spark.job_ms" -> selfOf(_.kind == "job"),
      "self.spark.stage_ms" -> selfOf(_.kind == "stage"))
    base ++ w.layerMetrics(rec, passes)
  }

  /** The span list with self times, and per op its top-5 physical
    * operators by SQLMetric time. */
  def traceJson(rec: Recorder, name: String, seed: Long,
                metrics: collection.Map[String, (Double, String)]): String = {
    val spans = rec.allSpans.sortBy(_.startMs)
    val self = Recorder.selfTimes(spans)
    val queries = rec.queryRecords
    val ops = spans.filter(_.kind == "op").map { op =>
      val mine = queries.filter(q => q.startMs >= op.startMs && q.startMs <= op.endMs)
      val top = mine.flatMap(_.operatorMs).groupMapReduce(_._1)(_._2)(_ + _).toSeq
        .sortBy(-_._2).take(5)
      Json.obj(Seq("span" -> op.id.toString, "name" -> Json.str(op.name),
        "ms" -> Json.num(op.durMs), "queries" -> mine.size.toString,
        "top_operators" -> Json.arr(top.map { case (n, ms) =>
          Json.obj(Seq("operator" -> Json.str(n), "ms" -> Json.num(ms))) })))
    }
    Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "per_layer" -> Json.obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "ops" -> Json.arr(ops),
      "spans" -> Json.arr(spans.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
          "self_ms" -> Json.num(self(s.id))))
      })))
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
