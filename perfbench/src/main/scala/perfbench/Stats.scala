package perfbench

/** Summary statistics for the timings a run collects. */
object Stats {

  /** 1-based nearest rank of percentile `p` among `n` samples (the
    * epsilon absorbs binary rounding, e.g. 0.999 * 10000). */
  private def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(math.max(0, rank(p, xs.length) - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** A tail percentile together with the sample count it rests on. */
  final case class Tail(pct: Double, value: Double, samples: Int)

  val tailCandidates: Seq[Double] = Seq(99.9, 99.0, 90.0, 50.0)

  /** The highest of `tailCandidates` that has at least ten samples ranked
    * beyond it. With fewer than 20 samples no candidate qualifies and the
    * median is returned, its count showing how little it rests on. */
  def tail(xs: Seq[Double]): Tail = {
    val n = xs.length
    val p = tailCandidates
      .find(p => n - rank(p, n) >= 10)
      .getOrElse(50.0)
    Tail(p, percentile(xs, p), n)
  }
}

/** Minimal JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Full-precision number; JSON has no NaN or infinity. */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"not a JSON number: $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
