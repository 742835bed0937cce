package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{EventModel, ProtoDescriptors}

class GeneratorSpec extends AnyFunSuite {

  private val cfg = Generator.Config(frames = 4000, files = 4, days = 4)
  private lazy val a = Generator.generate(cfg, 7L)

  test("the same seed gives identical frames and truth") {
    val b = Generator.generate(cfg, 7L)
    assert(a.frames.length == b.frames.length)
    assert(a.frames.indices.forall(i => java.util.Arrays.equals(a.frames(i), b.frames(i))))
    assert(a.fileOf.sameElements(b.fileOf))
    assert(a.events.sameElements(b.events))
    assert((a.corrupt, a.unknown) == ((b.corrupt, b.unknown)))
  }

  test("different seeds give different frames and truth") {
    val c = Generator.generate(cfg, 8L)
    assert(!a.frames.indices.forall(i => java.util.Arrays.equals(a.frames(i), c.frames(i))))
    assert(!a.events.sameElements(c.events))
  }

  test("every frame is a valid event, a corrupt frame or an unknown marker") {
    assert(a.events.length + a.corrupt + a.unknown == cfg.frames)
    assert(a.corrupt > 0 && a.unknown > 0)
    val decoded = a.frames.map(EventModel.decode)
    assert(decoded.count(_.isEmpty) == a.corrupt)
    assert(decoded.flatten.count(_.typeMarker == Generator.UnknownMarker) == a.unknown)
    // offsets index the frames; a valid event decodes to its own type and time
    a.events.foreach { e =>
      val f = decoded(e.offset.toInt).get
      assert(f.typeMarker == EventModel.markerForName(e.eventType))
      assert(f.timestampMillis == e.tsMillis)
    }
    val validByType = decoded.flatten.filter(_.typeMarker != Generator.UnknownMarker)
      .groupBy(_.typeMarker).map { case (m, fs) => EventModel.typeMarkers(m) -> fs.length }
    assert(validByType == a.events.groupBy(_.eventType).map { case (t, es) => t -> es.length })
  }

  test("the truth matches what the frames encode") {
    val headerIdx = ProtoDescriptors.header.fields.map(_.name).zipWithIndex.toMap
    val fsIdx = ProtoDescriptors.fsEvent.fields.map(_.name).zipWithIndex.toMap
    a.events.filter(_.eventType == "FS_EVENT").take(200).foreach { e =>
      val f = EventModel.decode(a.frames(e.offset.toInt)).get
      val h = ProtoDescriptors.header.decode(f.header)
      assert(h.getUTF8String(headerIdx("application_id")).toString == Generator.appId(e.app))
      assert(h.getUTF8String(headerIdx("container_id")).toString == Generator.containerId(e.app, e.container))
      val b = ProtoDescriptors.fsEvent.decode(f.body)
      val fs = e.body.asInstanceOf[Generator.FsBody]
      assert(b.getUTF8String(fsIdx("action")).toString == fs.action)
      assert(b.getUTF8String(fsIdx("uri")).toString == fs.uri)
      assert(b.getUTF8String(fsIdx("status")).toString == fs.status)
      assert(b.getLong(fsIdx("method_duration_millis")) == fs.durationMs)
      assert(b.getUTF8String(fsIdx("hdfs_user")).toString == Generator.user(e.app))
    }
  }

  test("the stated properties hold: type mix, skew, sessions, time") {
    val n = a.events.length.toDouble
    Generator.typeMix.foreach { case (t, share) =>
      assert(math.abs(a.events.count(_.eventType == t) / n - share) < 0.03, t)
    }
    // Zipf: the hottest application carries far more than a uniform share
    assert(a.events.count(_.app == 0) > 20 * n / Generator.Apps)
    val states = a.events.collect { case Generator.Event(_, _, _, app, _, Generator.StateBody(s)) => (app, s) }
    assert(states.groupBy(_._1).values.forall(_.count(_._2 == "BEGIN") == 1))
    assert(states.exists(_._2 == "END") && states.forall(s => s._2 != "END" || Generator.ends(s._1)))
    // time spans the configured days; the late share lands a day or more early
    val days = a.events.map(_.day).distinct
    assert(days.length == cfg.days)
    val late = a.events.count { e =>
      val nominal = Generator.StartMillis + (e.offset.toDouble / cfg.frames * cfg.days * Generator.DayMillis).toLong
      nominal - e.tsMillis >= Generator.DayMillis
    }
    assert(math.abs(late / n - Generator.LateShare) < 0.015)
    // backlog files cut the frames in offset order
    assert(a.fileOf.sliding(2).forall(p => p(0) <= p(1)) && a.fileOf.distinct.length == cfg.files)
  }

  test("truth counts: routed rows per (type, day) add up to the valid events") {
    val routed = Expected.routed(a)
    assert(routed.values.map(_._1).sum == a.events.length)
    assert(routed.values.map(_._2).sum == a.events.map(_.offset).sum)
  }
}
