package graft

/** The one JSON string escaper for the hand-written JSON this codebase
  * emits (Bench records, Verify's oracle map, the HTTP facade). */
object Json {

  /** `s` as a quoted JSON string literal: quote, backslash and every
    * control character below U+0020 are escaped, so an exception
    * message or an SQL text carrying a tab, CR or stray control byte
    * cannot break a reader's parse. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
