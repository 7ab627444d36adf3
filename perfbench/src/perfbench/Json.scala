package perfbench

/** Minimal JSON writer for the result and span lines (no dependency
  * beyond the JDK). Doubles print with every digit `Double.toString`
  * gives; non-finite values print as null. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null         => "null"
    case Raw(json)    => json
    case s: String    => str(s)
    case b: Boolean   => b.toString
    case d: Double    => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int       => i.toString
    case l: Long      => l.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
