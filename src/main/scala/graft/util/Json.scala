package graft.util

/** The one JSON string writer for every artifact line (Bench, Verify,
  * DumpOracles, the rehearsal mains). Escapes the quote, the
  * backslash, and EVERY control character below 0x20 — a raw tab or
  * CR (Spark stage-failure messages and multi-line oracle SQL carry
  * them) would otherwise make the whole line unparseable JSON. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
