package perfbench

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Harrell-Davis estimate of the q-quantile: the mean of all order
    * statistics weighted by the Beta(q(n+1), (1-q)(n+1)) mass of their
    * slice of [0, 1]. On a few dozen samples it moves far less from run
    * to run than the one or two order statistics `quantile` reads. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(0.0)
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      // unnormalised Beta log-density at the midpoints of `steps` slices
      // per order statistic; the weights are normalised at the end
      val steps = 200
      val h = 1.0 / (n * steps)
      val logD = Array.tabulate(n * steps) { k =>
        val x = (k + 0.5) * h
        (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
      }
      val top = logD.max
      val w = Array.tabulate(n)(i =>
        (i * steps until (i + 1) * steps).map(k => math.exp(logD(k) - top)).sum)
      s.indices.map(i => s(i) * w(i)).sum / w.sum
    }

  /** The latency median the end-to-end metrics report. */
  def p50(xs: Seq[Double]): Double = hdQuantile(xs, 0.5)

  /** The tail latency the end-to-end metrics report: the 80th percentile.
    * A deeper one would sit among the few slowest operation kinds of a
    * workload (the adaptive queries of the aqp pool), whose latency swings
    * with the seed, so runs on different seeds would not agree on it. */
  def tail(xs: Seq[Double]): Double = hdQuantile(xs, 0.8)
}

/** Minimal JSON rendering for the result line and the sidecar. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
