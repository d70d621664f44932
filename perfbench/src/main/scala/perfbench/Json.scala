package perfbench

/** Minimal JSON rendering for the benchmark's own output. Values are
  * Double, Long, Int, Boolean, String, null, Iterable or Map (rendered in
  * insertion order for a ListMap/LinkedHashMap). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot render $other")
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Ordered map literal: keeps the keys in the order given. */
  def obj(kv: (String, Any)*): collection.immutable.ListMap[String, Any] =
    collection.immutable.ListMap(kv: _*)
}
