package perfbench

import scala.collection.mutable

/** One reported number: its value, unit and the sample count behind it. */
final case class Metric(value: Double, unit: String, n: Long, endToEnd: Boolean)

/** Everything a run reports: metrics by name, the op and failure counts, and
  * free-text notes (why a metric could not be taken, which check failed).
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var wrong = 0L

  def e2e(name: String, value: Double, unit: String, n: Long): Unit =
    metrics(name) = Metric(value, unit, n, endToEnd = true)
  def layer(name: String, value: Double, unit: String, n: Long): Unit =
    metrics(name) = Metric(value, unit, n, endToEnd = false)
  def note(s: String): Unit = notes += s

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString

  def toJson: String = {
    val ms = metrics.map { case (k, m) =>
      s"${q(k)}:{${q("value")}:${num(m.value)},${q("unit")}:${q(m.unit)},${q("n")}:${m.n}," +
        s"${q("end_to_end")}:${m.endToEnd}}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"wrong":$wrong,"metrics":$ms,""" +
      s""""notes":${notes.map(q).mkString("[", ",", "]")}}"""
  }
}

object Stats {
  /** Linear-interpolation percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Mean of the middle half: the lowest and highest quarter dropped. */
  def interquartileMean(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val cut = xs.length / 4
    val mid = xs.sorted.slice(cut, xs.length - cut)
    mid.sum / mid.length
  }
}
