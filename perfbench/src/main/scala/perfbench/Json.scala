package perfbench

/** The little JSON the benchmark writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(r: Main.Result): String = obj(Seq(
    "correct" -> r.correct.toString,
    "attempted" -> r.attempted.toString,
    "failed" -> r.failed.toString,
    "metrics" -> obj(r.metrics.map { case (n, v, u) =>
      n -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
    "notes" -> r.notes.map(str).mkString("[", ", ", "]")))
}
