package graft.core

/** JSON text helpers for the hand-written one-line JSON that graft emits
  * (job-outcome log lines, API responses, the correctness dump).
  */
object JsonText {

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character below U+0020 escaped, so any text (a tab or CR in an error
    * message or a SQL string) yields a line a JSON parser accepts.
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
