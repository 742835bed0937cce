package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The garmadon lifecycle benchmark, one workload per process:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --results <dir> [--commit <id>] [--source-hash <h>]
  * }}}
  *
  * Set-up runs [[SetupReps]] times (the median is `setup_s`), an untimed
  * warm-up fills the JIT and codegen caches, then iterations run closed
  * loop, one at a time, until `--seconds` have passed (at least
  * [[MinIters]]). With `--trace 1` the loop interleaves untraced and traced
  * iterations (at least [[TracedMinIters]]); the traced ones record spans
  * and Spark listener counts, and the difference of the two medians is the
  * tracing overhead.
  *
  * The last stdout line is the result object; the line before it carries
  * the run's description (host, versions, input sizes, canary drift).
  */
object Main {

  val SetupReps = 3
  val MinIters = 2
  val TracedMinIters = 2
  /** Events per second per core the reference pipeline sustains. */
  val TargetPerCore = 45000.0

  val perLayerNames: Seq[String] = Seq(
    "sources.decode_s", "sources.frames_in", "sources.frames_corrupt", "sources.frames_unknown",
    "router.batch_s", "router.batches", "router.jobs_per_batch", "router.driver_gap_s",
    "router.rows_routed", "router.files_written", "router.bytes_written",
    "sink.read_s", "sink.close_days_s", "sink.days_closed", "sink.compact_s",
    "sink.partitions_attempted", "sink.partitions_compacted", "sink.files_before",
    "sink.files_after", "sink.bytes_rewritten",
    "sessionizer.s", "sessionizer.sessions_closed", "enrich.s", "enrich.enriched_ratio",
    "heuristics.s") ++
    DashboardPanels.panelNames.map(p => s"serving.${p}_ms") ++ Seq(
    "serving.jobs_per_query", "serving.records_read_per_query", "serving.bytes_read_per_query",
    "spark.jobs", "spark.tasks", "spark.driver_gap_s", "spark.executor_cpu_s",
    "spark.shuffle_write_bytes", "spark.input_bytes", "spark.gc_s") ++
    // decode runs inside the router's calls, so its self time is the
    // router's; sources.decode_s times it on its own, outside the loop
    Seq("router", "sink", "sessionizer", "enrich", "heuristics", "serving", "bench")
      .map(l => s"self.${l}_s") ++
    Seq("trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, results: File, commit: String, sourceHash: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("results")),
      kv.getOrElse("commit", "unknown"), kv.getOrElse("source-hash", "unknown"))
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Generated classes compiled so far: a compile in the timed loop is a
    * miss of Spark's generated-code cache.
    */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap the run still holds after a full collection: the workload's
    * inputs and tables and whatever the engine keeps between operations.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A fixed Spark-only job: sampled just before and just after the timed
    * loop, both times on a warm JVM. Its relative drift says whether the
    * host changed speed under the run; no absolute floor hides a drift.
    */
  private def canary(spark: SparkSession): Double = {
    val xs = (1 to 6).map { i =>
      val t0 = System.nanoTime()
      spark.range(1000000L + i).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(xs.drop(3)) // the first samples warm the JIT
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = parse(argv)
    require(args.seconds >= 1, "--seconds must be at least 1")
    val cores = Runtime.getRuntime.availableProcessors
    args.work.mkdirs()
    args.results.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the panel loop cycles through more generated classes than the
      // default 100-entry cache holds; an evicted class is compiled again
      // on every pass, which made some runs ~30 % slower than others
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(args.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args, cores) finally spark.stop()
  }

  private def run(spark: SparkSession, args: Args, cores: Int): Unit = {
    val checks = new Checks
    val w = Workload(args.workload, spark, args.work, args.seed, checks)
    val runId = s"${args.workload}-${args.seed}-${System.currentTimeMillis()}"
    val tracer = new Tracer(runId, enabled = true)
    val off = new Tracer(runId, enabled = false)

    // wall seconds of each phase of the run, for the run description
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }

    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    phases("setup") = setupS.sum
    // the canary's own first run compiles its code; it is discarded so the
    // two samples that count compare a warm canary with a warm canary
    phase("canary_warmup")(canary(spark))
    phase("warmup")(w.warmup())
    val canaryBeforeMs = phase("canary_before")(canary(spark))

    // closed loop: the next iteration starts when the previous one is done
    val iters = mutable.ArrayBuffer.empty[(Iter, Boolean, Int)]
    var failedOps = 0
    var gcTracedMs = 0L
    val recorder = new JobRecorder
    val compiles0 = codegenCompiles
    val loop0 = System.nanoTime()
    val deadline = loop0 + args.seconds * 1000000000L
    var i = 0
    while (iters.length + failedOps < (if (args.trace) TracedMinIters else MinIters) ||
        System.nanoTime() < deadline) {
      // untraced, traced, traced, untraced, ...: each pair of pairs is
      // balanced against warm-up drift, so the medians' difference is the
      // tracing overhead and not the order
      val traced = args.trace && (i % 4 == 1 || i % 4 == 2)
      if (traced) spark.sparkContext.addSparkListener(recorder)
      val root = tracer.spans.length
      val gc0 = gcMs
      try iters += ((w.iteration(i, if (traced) tracer else off), traced, root))
      catch {
        case NonFatal(e) =>
          failedOps += 1
          System.err.println(s"[perfbench] iteration $i failed: $e")
      } finally if (traced) {
        gcTracedMs += gcMs - gc0
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
      }
      i += 1
    }
    phases("loop") = (System.nanoTime() - loop0) / 1e9
    val loopCompiles = codegenCompiles - compiles0
    val retainedMb = phase("gc")(retainedHeapMb())
    val probe = phase("finish")(w.finish(if (args.trace) tracer else off))
    val canaryAfterMs = phase("canary_after")(canary(spark))

    val timed = iters.filterNot(_._2).map(_._1)
    val ops = timed.flatMap(_.opsMs)
    val rates = timed.map(it => it.events / (it.busyMs / 1000))
    val attempted = iters.map(_._1.opsMs.length).sum + failedOps + checks.attempted
    val failed = failedOps + checks.failed
    val eventsPerS = if (rates.isEmpty) 0.0 else Stats.median(rates.toSeq)

    val metrics: Map[String, Double] =
      if (!args.trace) ListMap(
        "events_per_s" -> eventsPerS,
        "op_p50_ms" -> (if (ops.isEmpty) 0.0 else Stats.percentile(ops.toSeq, 0.5)),
        "retained_heap_mb" -> retainedMb,
        "setup_s" -> Stats.median(setupS))
      else {
        val traced = iters.filter(_._2)
        val layer = Layers.metrics(tracer.spans, recorder, traced.map(t => (t._1, t._3)).toSeq) ++ probe
        val untraced = iters.filterNot(_._2).map(_._1.wallMs)
        val tracedWall = traced.map(_._1.wallMs)
        val extra = Map(
          "spark.gc_s" -> gcTracedMs / 1000.0 / traced.length.max(1),
          "trace.untraced_wall_s" -> (if (untraced.isEmpty) 0.0 else Stats.median(untraced.toSeq) / 1000),
          "trace.overhead_s" -> (if (untraced.isEmpty || tracedWall.isEmpty) 0.0
            else (Stats.median(tracedWall.toSeq) - Stats.median(untraced.toSeq)) / 1000))
        val all = layer ++ extra
        ListMap(perLayerNames.map(n => n -> all.getOrElse(n, 0.0)): _*)
      }
    val units = metrics.keys.map(k => k -> Layers.unit(k)).toMap

    val info = ListMap(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "run_id" -> runId,
      "host" -> java.net.InetAddress.getLocalHost.getHostName, "cores" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "commit" -> args.commit, "source_sha256" -> args.sourceHash,
      "input" -> ListMap("frames" -> w.traffic.frames.length, "valid_events" -> w.traffic.events.length,
        "corrupt" -> w.traffic.corrupt, "unknown_marker" -> w.traffic.unknown,
        "bytes" -> w.traffic.bytes, "backlog_files" -> w.config.files, "apps" -> Generator.Apps,
        "days" -> w.config.days, "late_share" -> Generator.LateShare),
      "setup_s" -> setupS, "phases_s" -> phases,
      "iterations" -> iters.length, "codegen_compiles_in_loop" -> loopCompiles, "iteration_wall_ms" -> iters.map(_._1.wallMs),
      // too few operations in a run for a steady tail: reported, not gated
      "ops_ms" -> ops, "op_p90_ms" -> (if (ops.isEmpty) 0.0 else Stats.percentile(ops.toSeq, 0.9)),
      "failed_ratio" -> failed.toDouble / math.max(1, attempted),
      "failures" -> checks.failures.take(20),
      "events_per_s_per_core" -> eventsPerS / cores,
      "per_core_vs_45k_target" -> eventsPerS / cores / TargetPerCore,
      "canary_ms" -> ListMap("before" -> canaryBeforeMs, "after" -> canaryAfterMs),
      "canary_drift" -> (canaryAfterMs / canaryBeforeMs - 1.0),
      "canary_dirty" -> (math.abs(canaryAfterMs / canaryBeforeMs - 1.0) > 0.25))
    val result = ListMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) => k -> ListMap("value" -> v, "unit" -> units(k)) })

    val stem = new File(args.results, s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}")
    write(new File(stem.getPath + ".json"), Json.render(ListMap("info" -> info, "result" -> result)))
    if (args.trace) {
      write(new File(stem.getPath + "-spans.json"), Json.render(tracer.spans.map(s => ListMap(
        "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
      write(new File(stem.getPath + "-selftime.json"), Json.render(ListMap(
        "run_id" -> runId, "traced_iterations" -> iters.count(_._2),
        "self_s_per_iteration" -> metrics.filter(_._1.startsWith("self.")),
        "wall_s_per_iteration" -> metrics("trace.wall_s"),
        "tracing_overhead_s" -> metrics("trace.overhead_s"))))
    }
    println(Json.render(info))
    println(Json.render(result))
  }

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
}
