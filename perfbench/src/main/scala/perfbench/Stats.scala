package perfbench

/** Order statistics and the one-line JSON the harness prints. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]; 0.0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The highest whole percentile (at most 99) with at least ten samples
    * beyond it, and its value; None for fewer than 21 samples, where that
    * percentile would not exceed the median. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 21) None
    else {
      val pct = math.min(99, math.floor(100.0 * (n - 10) / n).toInt)
      Some((pct, quantile(xs, pct / 100.0)))
    }
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.exists(_ <= 0)) 0.0 else math.exp(xs.map(math.log).sum / xs.length)

  /** Length of the union of closed intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

/** Minimal JSON rendering for flat result records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
