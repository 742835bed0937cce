package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.{EventModel, ProtoDescriptors}

/** Seeded garmadon traffic: the wire frames the engine sees, plus the
  * unencoded events they were encoded from, kept as the truth every check
  * compares against. The same seed and config give byte-identical frames.
  *
  * Properties the generator controls (stated by the constants below):
  *  - type mix: FS_EVENT dominant, then GC, container monitoring, JVM
  *    stats, application state (BEGIN/RUNNING/END), application attributes
  *    and a small share of Spark stage-state events for the annotation
  *    panel;
  *  - frame sizes from about 260 B (container monitoring) to about 2 KB
  *    (JVM stats), FS frames mostly path bytes;
  *  - damaged frames: a share with inconsistent length fields (corrupt) and
  *    a share carrying a marker outside the registry (unknown);
  *  - skew: application ids are Zipf-distributed over [[Apps]];
  *  - time: event times advance over `days` UTC days in frame order, with
  *    up to a minute of jitter (out of order) and a share stamped one to
  *    two days early (late, across one or two day boundaries: buffered
  *    agents flushing after downtime).
  */
object Generator {

  /** Traffic size: frames in offset order, cut into `files` backlog files,
    * with event times over `days` days.
    */
  final case class Config(frames: Int, files: Int, days: Int)

  val Apps = 3000
  val ZipfS = 1.1
  val CorruptShare = 0.004
  val UnknownShare = 0.004
  val LateShare = 0.03
  val Users = 64

  /** Share of each type among the valid frames. */
  val typeMix: IndexedSeq[(String, Double)] = IndexedSeq(
    "FS_EVENT" -> 0.52,
    "GC_EVENT" -> 0.13,
    "CONTAINER_MONITORING_EVENT" -> 0.13,
    "JVMSTATS_EVENT" -> 0.07,
    "STATE_EVENT" -> 0.08,
    "APPLICATION_EVENT" -> 0.04,
    "SPARK_STAGE_STATE_EVENT" -> 0.03)

  /** The types the router materializes: every type the generator emits. */
  val types: Seq[String] = typeMix.map(_._1).sorted

  val UnknownMarker = 9999
  val DayMillis: Long = 86400000L
  val StartMillis: Long = LocalDate.of(2024, 3, 4).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  val flaggedGcCauses: Set[String] = Set("Metadata GC Threshold", "Ergonomics")
  private val gcCauses = IndexedSeq("Allocation Failure", "G1 Evacuation Pause",
    "Metadata GC Threshold", "Ergonomics", "System.gc()")
  private val collectors = IndexedSeq("G1 Young Generation" -> 0.55, "G1 Old Generation" -> 0.08,
    "PS Scavenge" -> 0.2, "PS MarkSweep" -> 0.05, "ParNew" -> 0.12)
  private val fsActions = IndexedSeq("READ" -> 0.4, "WRITE" -> 0.2, "RENAME" -> 0.08,
    "DELETE" -> 0.07, "APPEND" -> 0.03, "ADD_BLOCK" -> 0.12, "LIST_STATUS" -> 0.07,
    "GET_CONTENT_SUMMARY" -> 0.03)
  val fsUris: IndexedSeq[String] =
    IndexedSeq("hdfs://prod:8020", "hdfs://prod", "hdfs://warehouse:8020", "hdfs://tmp")

  sealed trait Body
  final case class FsBody(action: String, uri: String, status: String, durationMs: Long,
                          srcPath: String, dstPath: String) extends Body
  final case class GcBody(collector: String, cause: String, pauseMs: Long) extends Body
  final case class StateBody(state: String) extends Body
  final case class JvmBody(sections: Int) extends Body
  final case class CmBody(kind: String, limit: Long, value: Float) extends Body
  case object AppBody extends Body
  final case class StageStateBody(state: String, stageId: Int) extends Body

  /** One valid event as generated, before encoding. */
  final case class Event(offset: Long, eventType: String, tsMillis: Long,
                         app: Int, container: Int, body: Body) {
    def day: String = dayOf(tsMillis)
  }

  /** Frames in offset order (offset = index), the backlog file of each
    * frame, the valid events, and the damaged-frame counts.
    */
  final class Traffic(val config: Config, val seed: Long,
                      val frames: Array[Array[Byte]], val fileOf: Array[Int],
                      val events: Array[Event], val corrupt: Int, val unknown: Int) {
    def bytes: Long = frames.iterator.map(_.length.toLong).sum
  }

  // ------------------------------------------ application attributes

  def appId(app: Int): String = f"application_1709510400000_$app%05d"
  val attemptId = "1"
  def appName(app: Int): String = s"job-${app % 97}"
  def user(app: Int): String = f"user${app % Users}%02d"
  def framework(app: Int): String = if (app % 3 == 0) "MAPREDUCE" else "SPARK"
  def containersOf(app: Int): Int = 1 + app % 6
  def containerId(app: Int, c: Int): String = f"container_e01_1709510400000_$app%05d_01_$c%06d"
  def component(c: Int): String = if (c == 1) "APP_MASTER" else "EXECUTOR"
  def hostname(app: Int, c: Int): String = s"host-${(app * 7 + c) % 211}"
  /** Applications whose sessions the generator ends with an END state. */
  def ends(app: Int): Boolean = app % 5 != 0

  def dayOf(tsMillis: Long): String =
    Instant.ofEpochMilli(tsMillis).atZone(ZoneOffset.UTC).toLocalDate.toString

  // ------------------------------------------------------ generation

  private def pick[A](rnd: SplittableRandom, weighted: IndexedSeq[(A, Double)]): A = {
    var r = rnd.nextDouble() * weighted.iterator.map(_._2).sum
    var i = 0
    while (i < weighted.length - 1 && r >= weighted(i)._2) { r -= weighted(i)._2; i += 1 }
    weighted(i)._1
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def sampleCdf(rnd: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def generate(cfg: Config, seed: Long): Traffic = {
    require(cfg.frames > 0 && cfg.files > 0 && cfg.files <= cfg.frames)
    val rnd = new SplittableRandom(seed)
    val cdf = zipfCdf(Apps, ZipfS)
    val n = cfg.frames
    val kind = new Array[Int](n) // 0 valid, 1 corrupt, 2 unknown marker
    val tpe = new Array[Int](n)
    val app = new Array[Int](n)
    val cont = new Array[Int](n)
    val ts = new Array[Long](n)
    val span = cfg.days * DayMillis
    val typeWeights = typeMix.indices.map(k => k -> typeMix(k)._2)
    var i = 0
    while (i < n) {
      val r = rnd.nextDouble()
      kind(i) = if (r < CorruptShare) 1 else if (r < CorruptShare + UnknownShare) 2 else 0
      tpe(i) = pick(rnd, typeWeights)
      app(i) = sampleCdf(rnd, cdf)
      cont(i) = 1 + rnd.nextInt(containersOf(app(i)))
      val nominal = StartMillis + (i.toDouble / n * span).toLong
      var t = nominal + rnd.nextLong(-60000L, 60001L)
      if (rnd.nextDouble() < LateShare) t = nominal - DayMillis - rnd.nextLong(0L, DayMillis)
      ts(i) = math.max(t, StartMillis)
      i += 1
    }
    // session states: per application, its first STATE frame begins the
    // session, the last one ends it (for ending apps), the rest run
    val stateIdx = typeMix.indexWhere(_._1 == "STATE_EVENT")
    val stateSlots = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Int]]
    for (k <- 0 until n if kind(k) == 0 && tpe(k) == stateIdx)
      stateSlots.getOrElseUpdate(app(k), mutable.ArrayBuffer.empty) += k
    val stateOf = mutable.HashMap.empty[Int, String]
    for ((a, slots) <- stateSlots; (k, j) <- slots.zipWithIndex)
      stateOf(k) =
        if (j == 0) "BEGIN"
        else if (j == slots.length - 1 && ends(a)) "END"
        else "RUNNING"

    val headers = mutable.HashMap.empty[Long, Array[Byte]]
    def header(a: Int, c: Int): Array[Byte] = headers.getOrElseUpdate(a.toLong * 1000 + c,
      ProtoDescriptors.header.encode(Seq(
        appId(a), attemptId, appName(a), user(a), containerId(a, c),
        hostname(a, c), (4000 + a % 30000).toString, framework(a), component(c), "",
        Seq("YARN_APPLICATION"), "", "org.example.Main", "1.8.0_292", 8,
        if (framework(a) == "SPARK") "3.5.1" else "3.3.6")))

    val frames = new Array[Array[Byte]](n)
    val fileOf = new Array[Int](n)
    val events = mutable.ArrayBuffer.empty[Event]
    var corrupt = 0
    var unknown = 0
    i = 0
    while (i < n) {
      val a = app(i)
      val c = cont(i)
      val eventType = typeMix(tpe(i))._1
      val body = makeBody(rnd, eventType, a, stateOf.getOrElse(i, "RUNNING"))
      val payload = encodeBody(rnd, a, body)
      val marker = if (kind(i) == 2) UnknownMarker else EventModel.markerForName(eventType)
      val bytes = EventModel.encode(EventModel.Frame(marker, ts(i), header(a, c), payload))
      kind(i) match {
        case 0 => events += Event(i.toLong, eventType, ts(i), a, c, body)
        case 1 =>
          // body length one past the frame end: the envelope check fails
          val bodyLen = java.nio.ByteBuffer.wrap(bytes, 16, 4).getInt
          java.nio.ByteBuffer.wrap(bytes, 16, 4).putInt(bodyLen + 1)
          corrupt += 1
        case _ => unknown += 1
      }
      frames(i) = bytes
      fileOf(i) = (i.toLong * cfg.files / n).toInt
      i += 1
    }
    new Traffic(cfg, seed, frames, fileOf, events.toArray, corrupt, unknown)
  }

  private def path(rnd: SplittableRandom, a: Int): String = {
    val sb = new StringBuilder(s"/user/${user(a)}/warehouse/db_${a % 40}.db/table_${rnd.nextInt(300)}")
    sb.append(f"/year=2024/month=03/day=${4 + rnd.nextInt(7)}%02d/hour=${rnd.nextInt(24)}%02d")
    val depth = 2 + rnd.nextInt(4)
    (0 until depth).foreach(_ => sb.append("/batch_").append(java.lang.Long.toHexString(rnd.nextLong())))
    sb.append(f"/part-${rnd.nextInt(100000)}%05d-").append(java.util.UUID.nameUUIDFromBytes(
      java.lang.Long.toString(rnd.nextLong()).getBytes("UTF-8"))).append(".snappy.parquet")
    sb.toString
  }

  private def makeBody(rnd: SplittableRandom, eventType: String, a: Int,
                       state: String): Body = eventType match {
    case "FS_EVENT" =>
      val action = pick(rnd, fsActions)
      FsBody(action, fsUris(rnd.nextInt(fsUris.length)),
        if (rnd.nextDouble() < 0.06) "FAILURE" else "SUCCESS",
        1L + rnd.nextInt(800), path(rnd, a),
        if (action == "RENAME") path(rnd, a) else "")
    case "GC_EVENT" =>
      GcBody(pick(rnd, collectors), gcCauses(rnd.nextInt(gcCauses.length)), 1L + rnd.nextInt(2000))
    case "STATE_EVENT" => StateBody(state)
    case "JVMSTATS_EVENT" => JvmBody(5 + rnd.nextInt(3))
    case "CONTAINER_MONITORING_EVENT" =>
      val limit = 1024L * (1 + rnd.nextInt(16))
      // integer-valued floats: sums over them are exact in any order
      CmBody(if (rnd.nextDouble() < 0.6) "MEMORY" else "VCORE", limit, rnd.nextInt(limit.toInt).toFloat)
    case "APPLICATION_EVENT" => AppBody
    case "SPARK_STAGE_STATE_EVENT" =>
      StageStateBody(if (rnd.nextBoolean()) "BEGIN" else "COMPLETED", rnd.nextInt(400))
  }

  private def encodeBody(rnd: SplittableRandom, a: Int, body: Body): Array[Byte] =
    body match {
      case FsBody(action, uri, status, dur, src, dst) =>
        ProtoDescriptors.fsEvent.encode(Seq(src, dst, action, uri, dur, user(a), status))
      case GcBody(collector, cause, pause) =>
        ProtoDescriptors.gcStatisticsData.encode(Seq(collector, pause, cause) ++
          Seq.fill(10)(rnd.nextLong(0L, 1L << 32)) :+ rnd.nextFloat())
      case StateBody(state) => ProtoDescriptors.stateEvent.encode(Seq(state))
      case JvmBody(sections) =>
        ProtoDescriptors.jvmStatisticsData.encode(Seq((0 until sections).map { s =>
          Seq(s"section_$s", (0 until 9).map(p =>
            Seq(s"property_${s}_$p", java.lang.Long.toString(rnd.nextLong(0L, 1L << 40)))))
        }))
      case CmBody(kind, limit, value) =>
        ProtoDescriptors.containerResourceEvent.encode(Seq(kind, limit, value))
      case AppBody =>
        ProtoDescriptors.applicationEvent.encode(Seq("RUNNING", s"queue_${a % 7}",
          s"http://rm:8088/proxy/${appId(a)}/", "", Seq(s"team_${a % 11}"),
          containerId(a, 1), s"project_${a % 13}", s"workflow_${a % 17}",
          rnd.nextLong(0L, 1L << 30), rnd.nextLong(0L, 1L << 20), "UNDEFINED",
          StartMillis, 0L))
      case StageStateBody(state, stage) =>
        ProtoDescriptors.sparkStageStateEvent.encode(Seq(state, s"stage at Job.scala:$stage",
          stage.toString, "0", 1 + stage % 200))
    }
}
