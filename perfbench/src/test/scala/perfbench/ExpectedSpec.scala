package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ExpectedSpec extends AnyFunSuite {

  test("an admissible quantile lies within the sketch's rank error of ceil(p·n)") {
    val xs = (1L to 100L)
    assert(Expected.admissibleQuantile(xs, 0.99, 10000, 99L))
    assert(Expected.admissibleQuantile(xs, 0.99, 10000, 98L)) // one rank of error
    assert(Expected.admissibleQuantile(xs, 0.99, 10000, 100L))
    assert(!Expected.admissibleQuantile(xs, 0.99, 10000, 97L))
    assert(!Expected.admissibleQuantile(xs, 0.99, 10000, 1000L))
    assert(Expected.admissibleQuantile(Seq(5L), 0.99, 10000, 5L))
  }

  test("approximate distinct counts: at most 3 off for small sets, 30 % for large") {
    assert(Expected.admissibleDistinct(4, 7) && !Expected.admissibleDistinct(4, 8))
    assert(Expected.admissibleDistinct(100, 129) && !Expected.admissibleDistinct(100, 131))
  }

  test("panel helpers: time buckets floor, uri normalization drops the port") {
    assert(Expected.bucket(59999L, 30000L) == 30000L && Expected.bucket(-1L, 30000L) == -30000L)
    assert(Expected.normalizeUri("hdfs://prod:8020") == "hdfs://prod")
    assert(Expected.normalizeUri("hdfs://prod") == "hdfs://prod")
  }

  test("percentiles interpolate between ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.percentile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("sessions close only for applications that saw END") {
    val t = Generator.generate(Generator.Config(frames = 3000, files = 2, days = 4), 3L)
    val closed = Expected.sessions(t).map(_._1)
    val ended = t.events.collect { case e if e.body == Generator.StateBody("END") => Expected.appKey(e.app) }.toSet
    assert(closed == ended && closed.nonEmpty)
  }
}
