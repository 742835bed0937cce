package perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced iterations, from the benchmark's spans
  * and the Spark listener's job counts. Times are per iteration unless the
  * name says per batch or per query.
  */
object Layers {

  def unit(name: String): String = name match {
    case "events_per_s" => "1/s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") || n.endsWith(".s") => "s"
    case n if n.contains("bytes") => "bytes"
    case n if n.endsWith("_ratio") => "ratio"
    case _ => "count"
  }

  def metrics(spans: Seq[Span], rec: JobRecorder, traced: Seq[(Iter, Int)]): Map[String, Double] = {
    val n = traced.length.max(1).toDouble
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def subtree(id: Int): Seq[Span] = byId(id) +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    val roots = traced.map(_._2).filter(byId.contains).map(byId)
    val inIters = roots.flatMap(r => subtree(r.id))
    def named(name: String) = inIters.filter(_.name == name)
    def perIterS(ss: Seq[Span]) = ss.map(_.durationMs).sum / 1000 / n
    def jobs(ss: Seq[Span]) = ss.flatMap(s => rec.jobsIn(s.startMs, s.endMs))

    val m = mutable.LinkedHashMap.empty[String, Double]
    val batches = named("router.batch")
    if (batches.nonEmpty) {
      val bj = jobs(batches)
      m("router.batch_s") = Stats.median(batches.map(_.durationMs)) / 1000
      m("router.batches") = batches.length / n
      m("router.jobs_per_batch") = bj.length.toDouble / batches.length
      m("router.driver_gap_s") = Stats.median(batches.map(b => rec.driverGapMs(b.startMs, b.endMs))) / 1000
      m("router.rows_routed") = bj.map(_.recordsWritten).sum / n
    }
    m("sink.read_s") = perIterS(named("sink.read"))
    m("sink.close_days_s") = perIterS(named("sink.close_days"))
    m("sink.compact_s") = perIterS(named("sink.compact"))
    m("sessionizer.s") = perIterS(named("sessionizer.aggregate"))
    m("enrich.s") = perIterS(named("enrich.enrich"))
    m("heuristics.s") = perIterS(named("heuristics.aggs"))

    val panels = inIters.filter(_.layer == "serving")
    panels.groupBy(_.name).foreach { case (name, ss) =>
      m(s"${name}_ms") = Stats.median(ss.map(_.durationMs))
    }
    if (panels.nonEmpty) {
      val pj = jobs(panels)
      m("serving.jobs_per_query") = pj.length.toDouble / panels.length
      m("serving.records_read_per_query") = pj.map(_.recordsRead).sum.toDouble / panels.length
      m("serving.bytes_read_per_query") = pj.map(_.bytesRead).sum.toDouble / panels.length
    }

    val all = jobs(roots)
    m("spark.jobs") = all.length / n
    m("spark.tasks") = all.map(_.tasks).sum / n
    m("spark.executor_cpu_s") = all.map(_.cpuNs).sum / 1e9 / n
    m("spark.shuffle_write_bytes") = all.map(_.shuffleWriteBytes).sum / n
    m("spark.input_bytes") = all.map(_.bytesRead).sum / n
    m("spark.driver_gap_s") = roots.map(r => rec.driverGapMs(r.startMs, r.endMs)).sum / 1000 / n

    roots.flatMap(r => SelfTime.byLayerMs(spans, r.id)).groupBy(_._1).foreach { case (l, xs) =>
      m(s"self.${l}_s") = xs.map(_._2).sum / 1000 / n
    }
    m("trace.wall_s") = roots.map(_.durationMs).sum / 1000 / n

    traced.flatMap(_._1.counts).groupBy(_._1).foreach { case (k, xs) => m(k) = xs.map(_._2).sum / n }
    m.toMap
  }
}
