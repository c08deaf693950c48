package perfbench

import java.io.File

object Util {
  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def dirBytes(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.endsWith(".parquet")) (1L, f.length) else (0L, 0L)

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
