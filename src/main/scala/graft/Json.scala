package graft

import java.util.Locale

/** The one JSON writer for everything the program prints or writes.
  * Members keep insertion order; a `Double` prints with three decimals
  * under `Locale.ROOT` (a comma-decimal default locale would print
  * `1,234`, which is not JSON); `None` and NaN/infinities print `null`.
  */
object Json {
  /** Rendered JSON, embedded as is in an enclosing object or array. */
  final case class Raw(json: String) { override def toString: String = json }

  /** RFC 8259-complete string escape: quote, backslash, and EVERY
    * control char below 0x20 (a \r or \t riding in from a migration's
    * SQL text or a quoted identifier must not ship a malformed
    * document — strict parsers reject raw control chars in strings).
    */
  def str(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  private def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else "%.3f".formatLocal(Locale.ROOT, d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.fold("null")(value)
    case xs: Iterable[_] => arr(xs).json
  }

  def obj(kv: (String, Any)*): Raw = members(kv, "{", ",", "}")
  /** One member per line, so a committed file diffs by member. */
  def objLines(kv: Seq[(String, Any)]): Raw = members(kv, "{\n", ",\n", "\n}")
  def arr(xs: Iterable[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))

  private def members(kv: Seq[(String, Any)], open: String, sep: String,
      close: String): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString(open, sep, close))
}
