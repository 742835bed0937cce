package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds (fractional),
  * so spans line up with the Spark listener's job times. `parent` is -1
  * for a root.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def durationMs: Double = endMs - startMs
  /** The layer is the name's first dot-separated part: `router.batch` → `router`. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the benchmark's own calls into the layers.
  * Disabled, it only runs the body: the timed (untraced) runs pay nothing.
  * Spans share the tracer's run id and are written out once, at the end.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(-1)

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.length
      val parent = stack.head
      val start = nowMs
      buf += Span(id, parent, name, start, start)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        buf(id) = buf(id).copy(endMs = nowMs)
      }
    }

  /** Record a span timed elsewhere (a streaming micro-batch, from its
    * progress report) as a child of the innermost open span.
    */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) buf += Span(buf.length, stack.head, name, startMs, endMs)

  def spans: Seq[Span] = buf.toSeq
}

/** Self-time arithmetic over a span tree. */
object SelfTime {

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Each span's duration minus the part of it its children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durationMs - covered(kids, s.startMs, s.endMs))
    }.toMap
  }

  /** Self time summed per layer, over the spans under (and including) `root`. */
  def byLayerMs(spans: Seq[Span], root: Int): Map[String, Double] = {
    val self = selfMs(spans)
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def walk(id: Int): Seq[Span] = byId(id) +: children.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(root).groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** Spark listener that supplies engine counts to the traced run: jobs with
  * their times, and per job the tasks, executor CPU, input records and
  * bytes, shuffle-write bytes and output records.
  */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val startMs: Long) {
    var endMs: Long = startMs
    var tasks = 0L
    var cpuNs = 0L
    var recordsRead = 0L
    var bytesRead = 0L
    var shuffleWriteBytes = 0L
    var recordsWritten = 0L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobOfStage = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time)
    jobs += j
    e.stageIds.foreach(s => jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.recordsRead += m.inputMetrics.recordsRead
      j.bytesRead += m.inputMetrics.bytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Jobs that started inside [startMs, endMs]. */
  def jobsIn(startMs: Double, endMs: Double): Seq[Job] = synchronized {
    jobs.filter(j => j.startMs >= math.floor(startMs) && j.startMs <= endMs).toSeq
  }

  /** Wall time in [startMs, endMs] during which no job ran. */
  def driverGapMs(startMs: Double, endMs: Double): Double = {
    val js = jobsIn(startMs, endMs).map(j => (j.startMs.toDouble, j.endMs.toDouble))
    (endMs - startMs) - SelfTime.covered(js, startMs, endMs)
  }
}
