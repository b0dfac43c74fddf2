package streambench

import scala.collection.mutable

/** What one run reports: end-to-end metrics (untraced runs), per-layer
  * metrics (traced runs), human-readable lines naming every measured
  * quantity with its unit, and the output-correctness tally. */
final class Result {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val lines = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
  def note(name: String, value: Double, unit: String, extra: String = ""): Unit =
    lines += f"$name%-28s ${fmt(value)}%14s $unit%-6s $extra".trim

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (mismatches.size < 20) mismatches += what
    }
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.4f"

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def toJson: String =
    s"""{"attempted":$attempted,"failed":$failed,"end_to_end":${obj(endToEnd)},""" +
      s""""per_layer":${obj(perLayer)},"lines":${lines.map(str).mkString("[", ",", "]")},""" +
      s""""mismatches":${mismatches.map(str).mkString("[", ",", "]")}}"""
}
