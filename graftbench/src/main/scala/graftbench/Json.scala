package graftbench

/** Just enough JSON writing for the result line and the span file. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => other.toString // Int, Long, Boolean
  }

  def obj(kv: Iterable[(String, Any)]): Raw =
    Raw(kv.map { case (k, x) => quote(k) + ": " + value(x) }.mkString("{", ", ", "}"))
}
