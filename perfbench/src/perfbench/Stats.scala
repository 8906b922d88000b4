package perfbench

/** Sample summaries and the result line. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, and
    * its label; with fewer than eleven samples there is none, so the
    * maximum is reported and labelled `max`. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    if (s.length < 11) (s.last, "max")
    else {
      val pct = math.floor(100.0 * (s.length - 10) / s.length).toInt
      (s(s.length - 11), s"p$pct")
    }
  }

  /** A name as BENCHMARK.json allows it. */
  val NamePattern = "^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$"
  val UnitPattern = "^[A-Za-z0-9_/%.-]{1,16}$"

  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultLine(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String = {
    ms.foreach { m =>
      require(m.name.matches(NamePattern), s"bad metric name ${m.name}")
      require(m.unit.matches(UnitPattern), s"bad unit ${m.unit}")
    }
    val body = ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
