package perfbench

/** Minimal JSON rendering for the result and trace files (no dependency
  * beyond the JDK). Maps keep insertion order when given a ListMap or a
  * Seq of pairs. */
object Json {

  def render(v: Any): String = v match {
    case null                 => "null"
    case None                 => "null"
    case Some(x)              => render(x)
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => render(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case n: BigDecimal        => n.bigDecimal.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case p: Obj               => p.fields.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_]         => xs.map(render).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }

  /** An ordered JSON object. */
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def quote(s: String): String = {
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

  def writeFile(path: java.nio.file.Path, text: String): Unit = {
    Option(path.getParent).foreach(p => java.nio.file.Files.createDirectories(p))
    java.nio.file.Files.write(path, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
