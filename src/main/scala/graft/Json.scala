package graft

/** The JSON string literal of every record graft writes by hand. */
object Json {

  /** `s` quoted, with quote, backslash and ALL control characters
    * (< 0x20) escaped: a tab or newline in a query name, a node
    * description or builder-authored SQL must not make the record
    * unparseable. */
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
