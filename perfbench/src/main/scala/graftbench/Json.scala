package graftbench

/** The little JSON the harness needs: rendering flat objects and nested
  * maps/sequences, and reading scalar fields from the gateway's replies.
  */
object Json {
  def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case p: Product => render(p.productIterator.toSeq)
    case o => quote(o.toString)
  }

  def obj(fields: (String, Any)*): String = render(fields.toMap)

  private def pattern(name: String) =
    ("\"" + java.util.regex.Pattern.quote(name) +
      "\"\\s*:\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|true|false|-?[0-9.eE+-]+|null)").r

  /** The scalar value of top-level-or-nested field `name`, unquoted. */
  def field(body: String, name: String): Option[String] =
    pattern(name).findFirstMatchIn(body).map(m => Option(m.group(2)).getOrElse(m.group(1)))

  def has(body: String, name: String): Boolean = body.contains("\"" + name + "\"")
}
