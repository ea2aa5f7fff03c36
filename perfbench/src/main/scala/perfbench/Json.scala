package perfbench

/** Minimal JSON writer for the records the benchmark prints. */
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
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  /** Object with keys in the given order. */
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, x) => str(k) + ": " + value(x) }
      .mkString("{", ", ", "}"))

  /** Already-encoded JSON. */
  final case class Raw(s: String) { override def toString: String = s }
}
