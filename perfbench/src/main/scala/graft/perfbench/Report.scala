package graft.perfbench

/** Output: one `name value unit` line per metric, then, as the last line
  * of stdout, the JSON result. Per-query and per-span detail goes to files. */
object Report {

  def quote(s: String): String = "\"" + esc(s) + "\""

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A number as JSON: every digit kept; non-finite values become -1. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else java.math.BigDecimal.valueOf(v).toPlainString

  def tailJson(xs: Seq[Double]): String = {
    val t = Stats.tail(xs)
    s"""{"pct":"${t.label}","value":${num(t.value)},"n":${t.n}}"""
  }

  def line(name: String, v: Double, unit: String): String = s"$name ${num(v)} $unit"

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${quote(k)}:{"value":${num(v)},"unit":${quote(u)}}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}"""
  }
}
