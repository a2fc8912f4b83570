package perfbench

/** Minimal JSON encoder for the harness's result file: maps, sequences,
  * strings, numbers, booleans and null.
  */
object Json {
  def apply(v: Any): String = v match {
    case null                => "null"
    case None                => "null"
    case Some(x)             => apply(x)
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => apply(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: Map[_, _]        =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case other               => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
