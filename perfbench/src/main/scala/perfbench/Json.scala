package perfbench

/** Minimal JSON writing and summary statistics for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(j) => j
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** Already-encoded JSON. */
  final case class Raw(json: String)
}

object Stats {
  /** Linear-interpolation quantile of sorted `xs` (0 when empty). */
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
}
