package perfbench

/** The few JSON shapes the benchmark prints, without a JSON library. */
object Json {

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** A finite number with all its digits (NaN/Inf are not JSON). */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not finite")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  }

  /** The result line: `{"correct", "attempted", "failed", "metrics"}`. */
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }.mkString(
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
      ", ", "}}")
}
