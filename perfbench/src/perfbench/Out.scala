package perfbench

import scala.collection.mutable

import org.apache.commons.math3.special.Beta

/** Metric values, percentiles and the result line. */
object Out {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of all
    * order statistics. Operations of distinct costs make the plain
    * estimate jump between neighbouring ones from run to run.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val n = s.length
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double) =
      if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  def sec(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Ordered metric set: name -> (value, unit). */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, value: Double, unit: String): Unit =
      values(name) = (value, unit)
    def json: String = obj(values.toSeq.map { case (k, (v, u)) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(u)))
    })
  }

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      m: Metrics): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> m.json))
}
