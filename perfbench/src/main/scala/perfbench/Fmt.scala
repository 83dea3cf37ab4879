package perfbench

import java.util.Locale

/** Number formatting and summary statistics. Every number the benchmark
  * writes goes through `Locale.ROOT`, so the output parses the same on a
  * JVM whose default locale writes a decimal comma. */
object Fmt {
  def fixed(v: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))
  def sci(v: Double): String = String.format(Locale.ROOT, "%.4e", Double.box(v))
  /** All the digits a double carries, never in exponent form. */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) String.format(Locale.ROOT, "%.1f", Double.box(v))
    else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest of p99/p95/p90 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99", 0.99), ("p95", 0.95), ("p90", 0.90))
      .find { case (_, q) => xs.length * (1 - q) >= 10 }
      .map { case (n, q) => (n, quantile(xs, q)) }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
}
