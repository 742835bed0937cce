package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Correctness checks of one run. Every check counts as an attempted
  * operation; a false or throwing check counts as failed.
  */
final class Checks {
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val passed =
      try ok
      catch { case NonFatal(e) => System.err.println(s"[perfbench] check $name threw: $e"); false }
    if (!passed) {
      failed += 1
      failures += name
      System.err.println(s"[perfbench] check failed: $name")
    }
    passed
  }

  /** Equality with a short diff on stderr when it fails. */
  def same[A](name: String, actual: => A, expected: => A): Boolean = check(name) {
    val (a, e) = (actual, expected)
    if (a != e) System.err.println(s"[perfbench] $name:\n  actual   ${a.toString.take(400)}\n  expected ${e.toString.take(400)}")
    a == e
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between the closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON rendering for the result lines and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON output: $d")
      d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
