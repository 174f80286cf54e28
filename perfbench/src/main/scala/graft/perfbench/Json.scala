package graft.perfbench

/** Minimal JSON rendering for the result line and the trace file. Values
  * are numbers, booleans, strings, `Seq[(String, Any)]` objects or `Seq`
  * arrays. */
object Json {

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ": " + value(v) }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case fields: Seq[_] if fields.forall {
        case (_: String, _) => true
        case _ => false
      } && fields.nonEmpty =>
      obj(fields.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
