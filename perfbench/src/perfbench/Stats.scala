package perfbench

/** Summary statistics of latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` "inclusive"
    * rule); NaN for an empty sample.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** A tail latency: the highest percentile with at least ten samples
    * beyond it, i.e. the (n-10)-th smallest of n samples, at percentile
    * 100*(n-10)/n. With fewer than 20 samples that percentile would sit
    * below the median, so the maximum is reported instead and labelled
    * as percentile 100. Returns (value, percentile, sample count).
    */
  final case class Tail(value: Double, pct: Double, n: Int)

  def tail(xs: Seq[Double]): Tail =
    if (xs.isEmpty) Tail(Double.NaN, Double.NaN, 0)
    else {
      val s = xs.sorted
      val n = s.size
      if (n < 20) Tail(s.last, 100.0, n)
      else Tail(s(n - 11), 100.0 * (n - 10) / n, n)
    }
}

/** A minimal JSON writer: values are rendered as they are added. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
