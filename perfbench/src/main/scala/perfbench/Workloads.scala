package perfbench

import java.io.File

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.heuristics.HeuristicAggs
import graft.serving.Dashboards
import graft.sources.EventTables
import graft.streaming.{Sessionizer, StreamingEnrichment}

/** One closed-loop iteration as measured: the wall time of its timed
  * part, the events it carried over `busyMs` of that time, the latency of
  * each operation in it, and the layer counts it produced (reported by the
  * traced run only).
  */
final case class Iter(wallMs: Double, events: Long, busyMs: Double, opsMs: Seq[Double],
                      counts: Map[String, Double])

/** A workload: set-up builds its inputs (called several times, the last one
  * kept), `warmup` runs the iteration's code paths untimed (JIT and codegen
  * caches), each iteration is one closed-loop unit of work, `finish` checks
  * the final state. Iterations check their own outputs after timing.
  */
trait Workload {
  def name: String
  def config: Generator.Config
  def setup(): Unit
  def warmup(): Unit
  def iteration(i: Int, tracer: Tracer): Iter
  def finish(tracer: Tracer): Map[String, Double]
  def traffic: Generator.Traffic
}

object Workload {
  def apply(name: String, spark: SparkSession, work: File, seed: Long, checks: Checks): Workload =
    name match {
      case "ingest_heuristics" => new IngestHeuristics(spark, work, seed, checks)
      case "dashboard_panels" => new DashboardPanels(spark, work, seed, checks)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def elapsedMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** The decode probe: the router's envelope decode over the staged frames,
    * counted and checked against the generator's damaged-frame truth.
    */
  def decodeProbe(spark: SparkSession, tracer: Tracer, checks: Checks, t: Generator.Traffic,
                  dir: File): Map[String, Double] = {
    val t0 = System.nanoTime()
    val (in, corrupt, unknown) = tracer.span("sources.decode")(Lifecycle.decodeCensus(spark, dir))
    val ms = elapsedMs(t0)
    checks.same("frames in", in, t.frames.length.toLong)
    checks.same("corrupt frames", corrupt, t.corrupt.toLong)
    checks.same("unknown-marker frames", unknown, t.unknown.toLong)
    Map("sources.decode_s" -> ms / 1000, "sources.frames_in" -> in.toDouble,
      "sources.frames_corrupt" -> corrupt.toDouble, "sources.frames_unknown" -> unknown.toDouble)
  }

  /** Sink layer counts of one ingest: what the router wrote, what closing
    * and compaction did to it.
    */
  def sinkCounts(out: Lifecycle.IngestOutcome, base: File): Map[String, Double] = {
    val after = Lifecycle.layout(base)
    val closed = out.closed.toSet
    val compacted = out.compacted.collect { case (p, true) => p }.toSet
    Map(
      "router.files_written" -> out.written.values.map(_._1).sum.toDouble,
      "router.bytes_written" -> out.written.values.map(_._2).sum.toDouble,
      "sink.days_closed" -> out.closed.map(_._2).distinct.size.toDouble,
      "sink.partitions_attempted" -> closed.size.toDouble,
      "sink.partitions_compacted" -> compacted.size.toDouble,
      "sink.files_before" -> closed.toSeq.map(p => out.written.get(p).fold(0)(_._1)).sum.toDouble,
      "sink.files_after" -> closed.toSeq.map(p => after.get(p).fold(0)(_._1)).sum.toDouble,
      "sink.bytes_rewritten" -> compacted.toSeq.map(p => after.get(p).fold(0L)(_._2)).sum.toDouble)
  }
}

object IngestHeuristics {
  final case class Results(ingest: Lifecycle.IngestOutcome,
                           sessions: Array[Sessionizer.SessionResult], enrich: Array[Row],
                           gcCause: Array[Row], g1: Array[Row], files: Array[Row])
}

/** ingest_heuristics: the HDFS reader catching up after downtime, then the
  * heuristics reader over what it routed. A staged backlog goes through the
  * streaming router one file per micro-batch, the passed days close and
  * compact, and the typed tables are read back into the sessionizer, the
  * enrichment and the heuristic aggregations, results collected.
  */
final class IngestHeuristics(spark: SparkSession, work: File, seed: Long, checks: Checks)
    extends Workload {
  import spark.implicits._
  import IngestHeuristics.Results

  val name = "ingest_heuristics"
  val config: Generator.Config = Lifecycle.BacklogConfig
  private val input = new File(work, "ingest-input")
  var traffic: Generator.Traffic = _
  private var lastBase: File = _

  def setup(): Unit = {
    Lifecycle.deleteRecursively(input)
    traffic = Generator.generate(config, seed)
    Lifecycle.stageFrames(spark, traffic, input)
  }

  private lazy val watermarks = Expected.watermarks(traffic, Lifecycle.LatenessMs)
  private lazy val expectedSessions = Expected.sessions(traffic)
  private lazy val expectedEnrich = Expected.enrichSummary(traffic)
  private lazy val expectedGcCause = Expected.gcCause(traffic)
  private lazy val expectedG1 = Expected.g1FullGc(traffic)
  private lazy val expectedFiles = Expected.fileHeuristic(traffic, HeuristicAggs.fsActions)

  private def sessionEvents(gc: DataFrame, state: DataFrame): Dataset[Sessionizer.SessionEvent] = {
    def key = concat(col("application_id"), lit("#"), col("attempt_id")).as("appKey")
    def ts = unix_millis(col("timestamp")).as("tsMillis")
    gc.select(key, col("container_id").as("containerId"), lit("GC_EVENT").as("eventType"),
        lit("").as("state"), ts, col("pause_time").cast("double").as("metric"))
      .unionByName(state.select(key, col("container_id").as("containerId"),
        lit("STATE_EVENT").as("eventType"), col("state"), ts, lit(0.0).as("metric")))
      .as[Sessionizer.SessionEvent]
  }

  private val attrsType = StructType(Seq(
    StructField("applicationName", StringType), StructField("framework", StringType),
    StructField("username", StringType), StructField("amContainerId", StringType),
    StructField("yarnTags", ArrayType(StringType))))

  private def enrichInput(app: DataFrame, fs: DataFrame): Dataset[StreamingEnrichment.EnrichInput] = {
    def head(isApp: Boolean) = Seq(
      col("application_id").as("applicationId"), lit(isApp).as("isAppEvent"))
    def tail(eventType: String) = Seq(lit(eventType).as("eventType"),
      col("container_id").as("containerId"), col("component"),
      unix_millis(col("timestamp")).as("tsMillis"))
    app.select(head(isApp = true) ++
        Seq(struct(col("application_name").as("applicationName"), col("framework"),
          col("username"), col("am_container_id").as("amContainerId"),
          col("yarn_tags").as("yarnTags")).as("attrs")) ++ tail("APPLICATION_EVENT"): _*)
      .unionByName(fs.select(head(isApp = false) ++
        Seq(lit(null).cast(attrsType).as("attrs")) ++ tail("FS_EVENT"): _*))
      .as[StreamingEnrichment.EnrichInput]
  }

  /** The backlog in `inputDir` from frames to the complete heuristic result set. */
  private def lifecycle(inputDir: File, dir: File, tracer: Tracer): Results =
    tracer.span("bench.iteration") {
      val base = new File(dir, "tables")
      val ingest = Lifecycle.ingest(spark, tracer, inputDir, base, new File(dir, "checkpoint"))
      val t = tracer.span("sink.read")(Lifecycle.readTables(spark, base))
      val sessions = tracer.span("sessionizer.aggregate") {
        Sessionizer.sessionAggregate(sessionEvents(t("GC_EVENT"), t("STATE_EVENT"))).collect()
      }
      val enrich = tracer.span("enrich.enrich") {
        StreamingEnrichment.enrich(enrichInput(t("APPLICATION_EVENT"), t("FS_EVENT")))
          .groupBy("applicationId")
          .agg(count(lit(1)), sum(when(col("enriched"), 1L).otherwise(0L)),
            max(col("applicationName")), max(col("username")))
          .collect()
      }
      tracer.span("heuristics.aggs") {
        Results(ingest, sessions, enrich, HeuristicAggs.gcCause(t("GC_EVENT")).collect(),
          HeuristicAggs.g1FullGc(t("GC_EVENT")).collect(),
          HeuristicAggs.fileHeuristic(t("FS_EVENT")).collect())
      }
    }

  /** One untimed lifecycle over the whole backlog: every code path of an
    * iteration, at the same size.
    */
  def warmup(): Unit = {
    val dir = new File(work, "ingest-warmup")
    lifecycle(input, dir, new Tracer("warmup", enabled = false))
    Lifecycle.deleteRecursively(dir)
  }

  def iteration(i: Int, tracer: Tracer): Iter = {
    val dir = new File(work, s"ingest-run-$i")
    val base = new File(dir, "tables")
    val t0 = System.nanoTime()
    val r = lifecycle(input, dir, tracer)
    val wallMs = Workload.elapsedMs(t0)

    val out = r.ingest
    checks.check(s"ingest $i watermark is the backlog's max event time less the lateness")(
      watermarks.contains(out.watermarkMs))
    checks.same(s"ingest $i closeDays closes exactly the days before the watermark",
      out.closed.toSet, Expected.closedPartitions(traffic, out.watermarkMs))
    checks.check(s"ingest $i closed days hold at most ${Lifecycle.CompactAboveFiles} files after compaction")(
      out.closed.forall(p => Lifecycle.dataFiles(new File(base, s"${p._1}/day=${p._2}")).length <=
        Lifecycle.CompactAboveFiles))
    checks.same(s"ingest $i closed sessions", r.sessions.map(s => (s.appKey, s.nContainers, s.count,
      s.sum, s.max, s.min, s.durationMillis, s.closedBy)).toSet, expectedSessions)
    val enrichMap = r.enrich.map(e => e.getString(0) -> (e.getLong(1), e.getLong(2), e.getString(3),
      e.getString(4))).toMap
    checks.same(s"ingest $i enrichment", enrichMap, expectedEnrich)
    def key3(row: Row) = (row.getString(0), row.getString(1), row.getString(2))
    checks.same(s"ingest $i gcCause", r.gcCause.map(g => key3(g) -> g.getAs[Long]("flagged_gc")).toMap,
      expectedGcCause)
    checks.same(s"ingest $i g1FullGc", r.g1.map(g => key3(g) ->
      (g.getAs[Long]("major_gc"), g.getAs[Long]("major_pause_ms"))).toMap, expectedG1)
    checks.same(s"ingest $i fileHeuristic", r.files.map(f => (f.getString(0), f.getString(1)) ->
      HeuristicAggs.fsActions.map(a => f.getAs[Long](a))).toMap, expectedFiles)

    val counts =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val fsEvents = enrichMap.values.map(_._1).sum
        Workload.sinkCounts(out, base) ++ Map(
          "sessionizer.sessions_closed" -> r.sessions.length.toDouble,
          "enrich.enriched_ratio" -> enrichMap.values.map(_._2).sum.toDouble / math.max(1L, fsEvents))
      }
    Option(lastBase).foreach(b => Lifecycle.deleteRecursively(b.getParentFile))
    lastBase = base
    Iter(wallMs, traffic.events.length.toLong, wallMs, out.batchMs, counts)
  }

  def finish(tracer: Tracer): Map[String, Double] = {
    Lifecycle.checkRouted(checks, traffic, Lifecycle.readTables(spark, lastBase))
    Workload.decodeProbe(spark, tracer, checks, traffic, input)
  }
}

object DashboardPanels {
  /** A panel: its input type, whether it prunes to one day, the query, and
    * the check of its rows against the truth (the truth side is computed
    * once per day and kept).
    */
  final case class Panel(name: String, inputType: String, narrow: Boolean,
                         query: DataFrame => DataFrame,
                         verify: Option[String] => Array[Row] => Boolean)

  val panelNames: Seq[String] = Seq("fsOpsPerUser", "fsOpsPerAction", "fsOpsLatency", "gcPause",
    "containerMemory", "runningCardinality", "topUsers", "rawEvents", "stateAnnotations")
}

/** dashboard_panels: a read-only closed loop of dashboard panels over the
  * tables set-up routed like ingest_heuristics (closed days compacted, recent
  * days still in small files). Narrow panels prune to one day, wide ones
  * read every day.
  */
final class DashboardPanels(spark: SparkSession, work: File, seed: Long, checks: Checks)
    extends Workload {
  import DashboardPanels.Panel

  val name = "dashboard_panels"
  val config: Generator.Config = Lifecycle.ServedConfig
  private val input = new File(work, "panels-input")
  private val dir = new File(work, "panels-tables")
  var traffic: Generator.Traffic = _
  private var tables: Map[String, DataFrame] = _

  def setup(): Unit = {
    Lifecycle.deleteRecursively(input)
    Lifecycle.deleteRecursively(dir)
    traffic = Generator.generate(config, seed)
    Lifecycle.stageFrames(spark, traffic, input)
    Lifecycle.ingest(spark, new Tracer("setup", enabled = false), input,
      new File(dir, "tables"), new File(dir, "checkpoint"), servedTypes)
    tables = Lifecycle.readTables(spark, new File(dir, "tables"), servedTypes)
    verifiers.clear()
    inputRows.clear()
  }

  private val days: IndexedSeq[String] =
    (0 until config.days).map(d => Generator.dayOf(Generator.StartMillis + d * Generator.DayMillis))
  private val uri = "hdfs://prod"
  private val WarmupMs = 14000
  private val WarmupClients = 3
  private def ms(r: Row, i: Int): Long = r.getTimestamp(i).getTime

  private def truth(tpe: String, day: Option[String]): Array[Generator.Event] =
    traffic.events.filter(e => e.eventType == tpe && day.forall(_ == e.day))

  private def fs(day: Option[String]) = truth("FS_EVENT", day).map(e => (e, e.body.asInstanceOf[Generator.FsBody]))

  private val panels: Seq[Panel] = Seq(
    Panel("fsOpsPerUser", "FS_EVENT", narrow = true, Dashboards.fsOpsPerUser(_, uri),
      day => {
        val exp = fs(day).filter(x => Expected.normalizeUri(x._2.uri) == uri)
          .groupBy(x => (Expected.bucket(x._1.tsMillis, 30000L), Generator.user(x._1.app), x._2.action))
          .map { case (k, xs) => k -> xs.map(_._2.durationMs).toSeq }
        rows => {
          val act = rows.map(r => (ms(r, 0), r.getString(1), r.getString(2)) -> (r.getLong(3), r.getLong(4))).toMap
          act.keySet == exp.keySet && act.forall { case (k, (n, p99)) =>
            n == exp(k).length && Expected.admissibleQuantile(exp(k), 0.99, 10000, p99)
          }
        }
      }),
    Panel("fsOpsPerAction", "FS_EVENT", narrow = true,
      Dashboards.fsOpsPerAction(_, uri, failuresOnly = true),
      day => {
        val exp = fs(day).filter(x => Expected.normalizeUri(x._2.uri) == uri && x._2.status == "FAILURE")
          .groupBy(x => (Expected.bucket(x._1.tsMillis, 30000L), x._2.action))
          .map { case (k, xs) => k -> xs.length.toLong }
        rows => {
          rows.map(r => (ms(r, 0), r.getString(1)) -> r.getLong(2)).toMap == exp
        }
      }),
    Panel("fsOpsLatency", "FS_EVENT", narrow = false, Dashboards.fsOpsLatency(_, "1 hour"),
      day => {
        val exp = fs(day).groupBy(x => (Expected.bucket(x._1.tsMillis, 3600000L), x._2.action))
          .map { case (k, xs) => k -> xs.map(_._2.durationMs).toSeq }
        rows => {
          val act = rows.map(r => (ms(r, 0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
          act.keySet == exp.keySet && act.forall { case (k, (n, p99)) =>
            n == exp(k).length && Expected.admissibleQuantile(exp(k), 0.99, 10000, p99)
          }
        }
      }),
    Panel("gcPause", "GC_EVENT", narrow = true, Dashboards.gcPause(_),
      day => {
        val exp = truth("GC_EVENT", day).map(e => (e, e.body.asInstanceOf[Generator.GcBody]))
          .groupBy(x => (Expected.bucket(x._1.tsMillis, 30000L), x._2.collector))
          .map { case (k, xs) => val p = xs.map(_._2.pauseMs); k -> (p.sum, p.length.toLong, p.max) }
        rows => {
          rows.map(r => (ms(r, 0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap == exp
        }
      }),
    Panel("containerMemory", "CONTAINER_MONITORING_EVENT", narrow = false,
      Dashboards.containerMemory(_, "1 hour"),
      day => {
        val exp = truth("CONTAINER_MONITORING_EVENT", day)
          .map(e => (e, e.body.asInstanceOf[Generator.CmBody])).filter(_._2.kind == "MEMORY")
          .groupBy(x => Expected.bucket(x._1.tsMillis, 3600000L))
          .map { case (k, xs) => k -> (xs.map(_._2.value.toDouble).sum, xs.map(_._2.limit).sum) }
        rows => {
          rows.map(r => ms(r, 0) -> (r.getDouble(1), r.getLong(2))).toMap == exp
        }
      }),
    Panel("runningCardinality", "CONTAINER_MONITORING_EVENT", narrow = true,
      Dashboards.runningCardinality(_, "1 hour"),
      day => {
        val exp = truth("CONTAINER_MONITORING_EVENT", day)
          .groupBy(e => Expected.bucket(e.tsMillis, 3600000L))
          .map { case (k, es) => k -> (es.map(e => (e.app, e.container)).distinct.length.toLong,
            es.map(_.app).distinct.length.toLong) }
        rows => {
          val act = rows.map(r => ms(r, 0) -> (r.getLong(1), r.getLong(2))).toMap
          act.keySet == exp.keySet && act.forall { case (k, (c, a)) =>
            Expected.admissibleDistinct(exp(k)._1, c) && Expected.admissibleDistinct(exp(k)._2, a)
          }
        }
      }),
    Panel("topUsers", "FS_EVENT", narrow = false, Dashboards.topUsers(_),
      day => {
        val exp = fs(day).groupBy(x => Generator.user(x._1.app))
          .map { case (u, xs) => (u, xs.length.toLong) }.toSeq
          .sortBy { case (u, n) => (-n, u) }.take(20)
        rows => {
          rows.map(r => (r.getString(0), r.getLong(1))).toSeq == exp
        }
      }),
    Panel("rawEvents", "GC_EVENT", narrow = false, Dashboards.rawEvents(_, col("pause_time") > 1800L),
      day => {
        val exp = truth("GC_EVENT", day).filter(_.body.asInstanceOf[Generator.GcBody].pauseMs > 1800L)
          .map(_.tsMillis).sorted(Ordering[Long].reverse).take(100).toSeq
        rows => {
          rows.map(r => r.getAs[java.sql.Timestamp]("timestamp").getTime).toSeq == exp &&
            rows.forall(_.getAs[Long]("pause_time") > 1800L)
        }
      }),
    Panel("stateAnnotations", "SPARK_STAGE_STATE_EVENT", narrow = false,
      df => Dashboards.stateAnnotations(EventTables.unionView(Map("SPARK_STAGE_STATE_EVENT" -> df)),
        Generator.appId(0)),
      day => {
        val exp = truth("SPARK_STAGE_STATE_EVENT", day)
          .filter(e => e.app == 0 && e.body.asInstanceOf[Generator.StageStateBody].state == "BEGIN")
          .map(_.tsMillis).sorted(Ordering[Long].reverse).take(100).toSeq
        rows => {
          exp.nonEmpty && rows.map(r => ms(r, 0)).toSeq == exp &&
            rows.forall(_.getSeq[String](1) == Seq("YARN_APPLICATION"))
        }
      }))

  require(panels.map(_.name) == DashboardPanels.panelNames)

  /** The types the panels read: set-up routes only these. */
  private val servedTypes: Seq[String] = panels.map(_.inputType).distinct.sorted

  /** Panel planning is driver code that the JIT compiles only after many
    * queries. After one checked pass, unchecked passes run untimed in
    * [[WarmupClients]] concurrent clients until [[WarmupMs]] have passed:
    * the planning code then runs several times as often as from one client.
    */
  def warmup(): Unit = {
    val t0 = System.nanoTime()
    val off = new Tracer("warmup", enabled = false)
    iteration(-1, off)
    val clients = (0 until WarmupClients).map { c =>
      Future {
        var i = c
        while (Workload.elapsedMs(t0) < WarmupMs) { pass(i, off); i += WarmupClients }
      }
    }
    Await.result(Future.sequence(clients), Duration.Inf)
  }

  /** One pass over the panels, narrow ones on the pass's day. */
  private def pass(i: Int, tracer: Tracer): Seq[(Panel, Option[String], Array[Row])] =
    panels.zipWithIndex.map { case (p, k) =>
      val day = if (p.narrow) Some(days(Math.floorMod(i + k, days.length))) else None
      val input = day.fold(tables(p.inputType))(d =>
        tables(p.inputType).where(col("day") === lit(java.sql.Date.valueOf(d))))
      (p, day, tracer.span(s"serving.${p.name}")(p.query(input).collect()))
    }

  /** Rows of a panel's input: what the panel's scan has to serve. */
  private val inputRows = mutable.HashMap.empty[(String, Option[String]), Long]
  private val verifiers = mutable.HashMap.empty[(String, Option[String]), Array[Row] => Boolean]

  def iteration(i: Int, tracer: Tracer): Iter = {
    val t0 = System.nanoTime()
    val runs = tracer.span("bench.iteration")(pass(i, tracer))
    val wallMs = Workload.elapsedMs(t0)
    val served = runs.map { case (p, day, rows) =>
      checks.check(s"panel ${p.name}${day.fold("")(" " + _)} equals the truth aggregation")(
        verifiers.getOrElseUpdate((p.name, day), p.verify(day))(rows))
      inputRows.getOrElseUpdate((p.inputType, day), truth(p.inputType, day).length.toLong)
    }.sum
    val counts =
      if (!tracer.enabled) Map.empty[String, Double]
      else Map("sink.files_after" ->
        Lifecycle.layout(new File(dir, "tables"), servedTypes).values.map(_._1).sum.toDouble)
    // the serving rate: input rows the panels answered, per second of the
    // pass; the operation is one pass over every panel
    Iter(wallMs, served, wallMs, Seq(wallMs), counts)
  }

  def finish(tracer: Tracer): Map[String, Double] = {
    Lifecycle.checkRouted(checks, traffic, tables)
    Map.empty
  }
}
