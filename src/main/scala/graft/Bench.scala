package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line on stdout for the driver.
  *
  * Hygiene: a broken query must look broken, not fast — failures report
  * wall-time -1 and land in an "errors" map; JVM/parquet/codegen warmup is
  * measured once up front and reported separately ("warmup_sec") so the
  * first query's time is comparable across rounds.
  *
  * Adjudication instrumentation (round-12 verdict): alongside each wall
  * median the record carries "exec_sec" (summed stage executorRunTime
  * across the query's repeats, the [[graft.tools.BenchAB]] stage-listener
  * number) and "gc_sec" (summed jvmGCTime). Cross-container bench drift is
  * then one field-compare: a real regression moves executor-seconds; a
  * container/context artifact moves wall while executor-seconds stay flat
  * (the proven r11 case: a 1.12 s wall median that today's measured 68
  * executor-seconds can't reach on 32 cores). A query window whose wall
  * balloons with flat exec+gc is DEAD TIME (scheduling/cleanup
  * contention), not work.
  */
object Bench {
  private def esc(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the default 100-entry generated-class cache is in TOTAL THRASH
      // under this suite (r18 measured: ~380 Janino recompiles per
      // curate_multimodal_xm repeat, 17-20 s of compile time in one
      // 3-repeat window, cache pinned at 100 in every window; at 5000 the
      // runs-window compile count drops 510 -> 80 and cpu floors ~20%).
      // Static conf, so it must be set at first-session creation.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stage-metric accumulator: zeroed at each query boundary, so the sums
    // attribute to the query whose window the stages completed in (repeats
    // included — divide by `repeats` to compare against a single BenchAB run)
    val execMs = new java.util.concurrent.atomic.AtomicLong(0)
    val gcMs = new java.util.concurrent.atomic.AtomicLong(0)
    // cpu vs run disambiguates the round-13 curate finding: executorRunTime
    // is task WALL, so co-resident threads (cleaner, GC) inflate it in
    // suite context; executorCpuTime moves only when the work itself moved
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    // shuffle volume per query window: candidate-volume regressions (the
    // banded-pair families' kill signature is tens of GB of candidate
    // shuffle) become visible in the round record without a rerun
    val shufR = new java.util.concurrent.atomic.AtomicLong(0)
    val shufW = new java.util.concurrent.atomic.AtomicLong(0)
    // per-window completed-task and stage counts (r17 stall forensics):
    // the stalled repeat burns ~5.5x genuine compiled-code cpu at
    // byte-identical shuffle — this field decides between MORE tasks
    // (subtree re-execution) and SLOWER tasks (same task set degraded)
    val taskN = new java.util.concurrent.atomic.AtomicLong(0)
    val stageN = new java.util.concurrent.atomic.AtomicLong(0)
    // per-window spill volume (r18 stall forensics): the a32 arm killed
    // MORE-tasks (identical task counts) and recompile-storm (identical
    // Janino compile counts) in stalled vs clean windows — the surviving signature,
    // same tasks burning ~4x cpu in LZ4/ByteBuffer/ObjectInputStream
    // frames, is what execution-memory starvation's aggregation/sort
    // SPILLS produce. Stalled windows spilling while clean ones don't
    // names the mechanism; flat zeros kill it too.
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        execMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        gcMs.addAndGet(sc.stageInfo.taskMetrics.jvmGCTime)
        cpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
        shufR.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        taskN.addAndGet(sc.stageInfo.numTasks.toLong)
        stageN.incrementAndGet()
        spillMem.addAndGet(sc.stageInfo.taskMetrics.memoryBytesSpilled)
        spillDisk.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
      }
    })

    // Warm up the JVM, parquet reader, codegen, and shuffle machinery once,
    // so the first measured query doesn't absorb ~5s of startup.
    val w0 = System.nanoTime()
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("sum(crc32(cast(vec_id as string)))").collect()
    spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("lang").count().collect()
    // Shared memoized inputs (the mined near-dup pairs table) materialize
    // here so each consumer query measures its own work; the mine itself
    // is still measured in full by dedup_ngram.
    SparkEntry.prepareShared(spark, sfDir)
    // Settle the session after the mine: its async shuffle/block cleanup
    // and GC debt otherwise land on whichever query happens to run first
    // (measured: tens of seconds of variance on the first post-mine
    // action). The settle belongs to warmup_sec, not to that query.
    System.gc()
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("sum(crc32(cast(vec_id as string)))").collect()
    spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("lang").count().collect()
    val warmupSec = (System.nanoTime() - w0) / 1e9

    // Dev filter: SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries
    // (unset in driver runs — all queries).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })

    // Per-query median-of-N: rounds 5/6 ran byte-identical code yet single
    // queries swung 0.8s <-> 24s (async shuffle-cleanup/GC debt from
    // earlier queries landing on whichever ran next). A median discards
    // that one contaminated run, so cross-round deltas become actionable;
    // the per-query max/median spread is reported so the noise itself
    // stays visible.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    var drainMs = 0L
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val spreads = scala.collection.mutable.LinkedHashMap[String, Double]()
    val execSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val gcSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cpuSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cpuMinRun = scala.collection.mutable.LinkedHashMap[String, Double]()
    val tasksRun = scala.collection.mutable.LinkedHashMap[String, Double]()
    val stagesRun = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spillMemMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spillDiskMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val shufReadMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val shufWriteMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // settle BEFORE each query, not each repeat: heap debt left by the
      // previous query (broadcast cleanup, shuffle buffers) otherwise
      // lands on all three repeats at once — and then the median keeps
      // the contamination instead of discarding it (measured: identical
      // code, 39.9s vs 76.3s totals run-to-run without this)
      System.gc()
      // drain ZOMBIE work before opening the window (round-16 bad-mode
      // record): the contaminated suite runs flood the log with
      // "non-existent accumulator" task completions — work from an earlier
      // query (e.g. an AQE-cancelled broadcast's still-running tasks)
      // finishing later and burning cpu inside whatever window it lands
      // in. Attribution hygiene, bounded at 15 s; total wait is reported
      // as drain_sec so the zombie volume itself is a round-record fact.
      val d0 = System.currentTimeMillis()
      while ((spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty ||
              spark.sparkContext.statusTracker.getActiveStageIds().nonEmpty) &&
             System.currentTimeMillis() - d0 < 15000) Thread.sleep(50)
      drainMs += System.currentTimeMillis() - d0
      // drain the async listener bus BEFORE zeroing: stage-completed events
      // are delivered asynchronously, so without the flush a late event
      // from the previous query lands in this query's window — the exact
      // misattribution these fields exist to adjudicate
      org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
      execMs.set(0); gcMs.set(0); cpuNs.set(0); shufR.set(0); shufW.set(0)
      taskN.set(0); stageN.set(0); spillMem.set(0); spillDisk.set(0)
      // stderr window marker: the bad-mode log floods (non-existent
      // accumulator, zombie completions) carry timestamps — this line maps
      // them to the query window they landed in (PLANS r16 forensics)
      System.err.println(s"[bench] ${java.time.Instant.now} window $name")
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      val cpuRuns = scala.collection.mutable.ArrayBuffer[Double]()
      var failed = false
      var i = 0
      while (i < repeats && !failed) {
        // per-repeat cpu floor (round-16 adjudication instrument): the
        // suite occasionally enters a per-window regime where ALL repeats
        // of one query burn 4-6x cpu (curate 586 vs 136 cpu-s across
        // byte-identical runs — PLANS r16), so the summed cpu_sec cannot
        // distinguish regime from code; the min single-repeat cpu can
        org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
        val c0 = cpuNs.get()
        val t0 = System.nanoTime()
        // toRdd.count() materializes every output row with all its columns
        // — a plain count() lets Catalyst prune the work being measured
        // (e.g. eliminate an outer join whose columns a count never reads)
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          failed = true
        }
        if (!failed) {
          times += (System.nanoTime() - t0) / 1e9
          org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
          cpuRuns += (cpuNs.get() - c0) / 1e9
        }
        i += 1
      }
      cpuMinRun(name) = if (cpuRuns.nonEmpty) cpuRuns.min else -1.0
      // flush again before READING, so this query's own late events are in
      org.apache.spark.graft.CoreBridge.flushListenerBus(spark.sparkContext)
      tasksRun(name) = taskN.get().toDouble
      stagesRun(name) = stageN.get().toDouble
      spillMemMb(name) = spillMem.get() / 1048576.0
      spillDiskMb(name) = spillDisk.get() / 1048576.0
      execSec(name) = execMs.get() / 1000.0
      gcSec(name) = gcMs.get() / 1000.0
      cpuSec(name) = cpuNs.get() / 1e9
      shufReadMb(name) = shufR.get() / 1048576.0
      shufWriteMb(name) = shufW.get() / 1048576.0
      if (failed) name -> -1.0
      else {
        val sorted = times.sorted
        val median = sorted(sorted.length / 2)
        spreads(name) = if (median > 0) sorted.last / median else 1.0
        name -> median
      }
    }

    val qs = results.map { case (k, v) => esc(k) + ":" + v }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Locale.ROOT: the f interpolator uses the default locale, which on
    // comma-decimal locales would emit 1,23 and corrupt the JSON line
    def fmtMap(m: scala.collection.Map[String, Double]): String = m
      .map { case (k, v) =>
        esc(k) + ":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(v)) }
      .mkString("{", ",", "}")
    val spreadJson = ",\"max_over_median\":" + fmtMap(spreads)
    val metricsJson =
      ",\"exec_sec\":" + fmtMap(execSec) + ",\"gc_sec\":" + fmtMap(gcSec) +
        ",\"cpu_sec\":" + fmtMap(cpuSec) +
        ",\"cpu_min_run\":" + fmtMap(cpuMinRun) +
        ",\"tasks\":" + fmtMap(tasksRun) +
        ",\"stages\":" + fmtMap(stagesRun) +
        ",\"spill_mem_mb\":" + fmtMap(spillMemMb) +
        ",\"spill_disk_mb\":" + fmtMap(spillDiskMb) +
        ",\"shuffle_read_mb\":" + fmtMap(shufReadMb) +
        ",\"shuffle_write_mb\":" + fmtMap(shufWriteMb)
    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + errors.map { case (k, v) => esc(k) + ":" + esc(v) }
        .mkString("{", ",", "}")
    val drainJson = ",\"drain_sec\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(drainMs / 1000.0))
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"warmup_sec":$warmupSec,"repeats":$repeats$spreadJson$metricsJson$drainJson$errJson,"sf":"$sfDir"}"""
    println(line)
    // Compact headline line, printed LAST (round-16 verdict #6): the driver
    // record captures only the final ~2000 chars of stdout, and the full
    // per-query line outgrew that window in r16 (BENCH_r16.json's tail cuts
    // mid-map, parsed: null). The capture keeps the END of stdout, so the
    // line that must survive truncation goes AFTER the full map: total, n,
    // the 10 heaviest walls, the worst spread (the stall adjudication
    // fields), and a pointer to the self-written full record.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val ok = results.filter(_._2 >= 0)
    val top10 = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => esc(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val worst = if (spreads.isEmpty) ("none", 1.0) else spreads.maxBy(_._2)
    // distinct metric name (round-17 advice): consumers keyed on
    // "metric":"total" must keep matching exactly ONE record — the full
    // per-query line above; this truncation-surviving headline gets its own
    val summary =
      s"""{"metric":"total_summary","value":$total,"unit":"sec","n_queries":${ok.size},""" +
        s""""warmup_sec":${fmt(warmupSec)},"drain_sec":${fmt(drainMs / 1000.0)},""" +
        s""""top10_wall":$top10,"worst_mom":{${esc(worst._1)}:${fmt(worst._2)}},""" +
        s""""n_errors":${errors.size},""" +
        s""""queries_full":"BENCH_SELF.json","repeats":$repeats,"sf":"$sfDir"}"""
    println(summary)
    // Self-reported artifact: the driver's BENCH_r{N}.json captures only the
    // tail of stdout, which has been truncating the first ~28 queries'
    // medians out of the round record. Writing the full line ourselves makes
    // every query auditable regardless of how much log noise precedes it.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_SELF.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
