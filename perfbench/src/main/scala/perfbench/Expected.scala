package perfbench

import Generator._

/** Independent aggregations over the unencoded truth: what each layer's
  * output must equal. Nothing here touches Spark or the engine.
  */
object Expected {

  def appKey(app: Int): String = appId(app) + "#" + attemptId

  /** (type, day) → (rows, sum of kafka offsets) over the valid events. */
  def routed(t: Traffic): Map[(String, String), (Long, Long)] =
    t.events.groupBy(e => (e.eventType, e.day)).map { case (k, es) =>
      k -> (es.length.toLong, es.iterator.map(_.offset).sum)
    }

  /** The watermark the router may report after the backlog: the max event
    * time minus the 26 h lateness, over every file, or over every file but
    * the last (the final data batch does not see its own event times).
    */
  def watermarks(t: Traffic, latenessMs: Long): Set[Long] = {
    val last = t.config.files - 1
    val all = t.events.iterator.map(_.tsMillis).max
    val before = t.events.iterator.filter(e => t.fileOf(e.offset.toInt) < last).map(_.tsMillis)
    Set(all - latenessMs) ++ before.maxOption.map(_ - latenessMs)
  }

  /** (type, day) partitions strictly before the watermark's day. */
  def closedPartitions(t: Traffic, watermarkMs: Long): Set[(String, String)] = {
    val closedBefore = dayOf(watermarkMs)
    routed(t).keySet.filter(_._2 < closedBefore)
  }

  // -------------------------------------------- heuristics reader

  type SessionRow = (String, Int, Long, Double, Double, Double, Long, String)

  /** Sessionizer over GC (metric = pause) and STATE (metric 0) events: in
    * a batch fold only sessions that saw END close.
    */
  def sessions(t: Traffic): Set[SessionRow] = {
    val es = t.events.filter(e => e.eventType == "GC_EVENT" || e.eventType == "STATE_EVENT")
    es.groupBy(_.app).collect {
      case (a, evs) if evs.exists(_.body == StateBody("END")) =>
        val metrics = evs.map(e => e.body match { case GcBody(_, _, p) => p.toDouble; case _ => 0.0 })
        val ts = evs.map(_.tsMillis)
        (appKey(a), evs.map(_.container).distinct.length, evs.length.toLong, metrics.sum,
          metrics.max, metrics.min, ts.max - ts.min, "END")
    }.toSet
  }

  /** Enrichment per application over its FS events: (events, enriched,
    * application name, user). An event is enriched once an
    * APPLICATION_EVENT of its app at or before it has been seen.
    */
  def enrichSummary(t: Traffic): Map[String, (Long, Long, String, String)] = {
    val firstAppEvent = t.events.iterator.filter(_.eventType == "APPLICATION_EVENT")
      .toSeq.groupBy(_.app).map { case (a, es) => a -> es.map(_.tsMillis).min }
    t.events.filter(_.eventType == "FS_EVENT").groupBy(_.app).map { case (a, es) =>
      val enriched = firstAppEvent.get(a).fold(0L)(first => es.count(_.tsMillis >= first).toLong)
      appId(a) -> (es.length.toLong, enriched,
        if (enriched > 0) appName(a) else null, if (enriched > 0) user(a) else null)
    }
  }

  private def gcs(t: Traffic): Array[(Event, GcBody)] =
    t.events.collect { case e @ Event(_, _, _, _, _, b: GcBody) => (e, b) }

  private def containerKey(e: Event): (String, String, String) =
    (appId(e.app), attemptId, containerId(e.app, e.container))

  def gcCause(t: Traffic): Map[(String, String, String), Long] =
    gcs(t).groupBy(g => containerKey(g._1)).map { case (k, xs) =>
      k -> xs.count(x => flaggedGcCauses(x._2.cause)).toLong
    }

  def g1FullGc(t: Traffic): Map[(String, String, String), (Long, Long)] =
    gcs(t).filter(_._2.collector == "G1 Old Generation").groupBy(g => containerKey(g._1))
      .map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._2.pauseMs).sum) }

  def fileHeuristic(t: Traffic, actions: Seq[String]): Map[(String, String), Seq[Long]] =
    fsEvents(t).groupBy(f => (appId(f._1.app), attemptId)).map { case (k, xs) =>
      k -> actions.map(a => xs.count(_._2.action == a).toLong)
    }

  // ------------------------------------------------------- panels

  def fsEvents(t: Traffic): Array[(Event, FsBody)] =
    t.events.collect { case e @ Event(_, _, _, _, _, b: FsBody) => (e, b) }

  def bucket(tsMillis: Long, widthMs: Long): Long = Math.floorDiv(tsMillis, widthMs) * widthMs

  /** The uri normalization the FS panels apply: drop a trailing port. */
  def normalizeUri(uri: String): String = uri.replaceAll(":[0-9]+$", "")

  /** Whether `v` is an admissible p-quantile of `values` for a sketch of
    * relative error 1/accuracy: its rank lies within the error of
    * ceil(p·n).
    */
  def admissibleQuantile(values: Seq[Long], p: Double, accuracy: Int, v: Long): Boolean = {
    val s = values.sorted
    val rank = math.ceil(p * s.length).toLong
    val err = math.ceil(s.length.toDouble / accuracy).toLong
    val lo = math.max(1L, rank - err)
    val hi = math.min(s.length.toLong, rank + err)
    (lo to hi).exists(r => s((r - 1).toInt) == v)
  }

  /** Approximate distinct counts must lie within six standard errors of a
    * 5 % relative-error sketch, and never more than 3 off for tiny sets.
    */
  def admissibleDistinct(exact: Long, approx: Long): Boolean =
    math.abs(exact - approx) <= math.max(3.0, 0.3 * exact)
}
