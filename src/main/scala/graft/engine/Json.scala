package graft.engine

object Json {

  /** `s` as a JSON string literal. Backslash, quote and ALL control chars
    * (< 0x20) are escaped: a raw tab or CR in an exception message or in
    * builder-authored SQL would otherwise make the whole document
    * unparseable.
    */
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
