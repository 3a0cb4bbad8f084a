package graft

/** The one string escaper for the hand-rolled JSON lines the harnesses
  * print and write (Verify's oracle/error maps, Bench's headline). */
object Json {

  /** A JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in oracle SQL, or a quote in a path
    * taken from an env var, would otherwise make the line unparseable. */
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
