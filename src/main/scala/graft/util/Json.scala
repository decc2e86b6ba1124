package graft.util

/** JSON string literals for the hand-written JSON writers. Escapes
  * quote, backslash and every control character below 0x20: a raw tab
  * or CR would make the whole document unparseable.
  */
private[graft] object Json {

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
