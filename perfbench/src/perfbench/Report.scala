package perfbench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a sample (0 for an empty one). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples above it: the
    * sample at 0-based rank n - 11 of the sorted sample. Returns
    * (value, percentile) or None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some((s(k), 100.0 * (k + 1) / s.size))
    }
}

/** Minimal JSON rendering for maps, sequences, strings, numbers and
  * booleans (non-finite numbers render as 0).
  */
object Json {
  def render(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "0" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case null => "null"
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Operation and check accounting for one run, plus the metrics it
  * prints.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** A failed check on the output of `ops` timed operations. */
  def check(ok: Boolean, what: String, ops: Long = 1): Unit =
    if (!ok) {
      failed = math.min(attempted, failed + ops)
      problems += what
      System.err.println(s"[perfbench] check failed: $what")
    }

  def correct: Boolean = problems.isEmpty && failed == 0

  def resultLine: String = Json.render(mutable.LinkedHashMap(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
    }))
}
