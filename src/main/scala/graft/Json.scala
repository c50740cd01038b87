package graft

object Json {
  /** A JSON string literal, quotes included: backslash, quote and every
    * control character (< 0x20) escaped, so any text round-trips through
    * a strict JSON parser. */
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
