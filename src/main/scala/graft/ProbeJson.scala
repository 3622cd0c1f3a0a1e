package graft

/** The ONE JSON-string escape for every JSON-emitting main (Bench,
  * Verify): env-derived strings (paths, labels) are spliced into
  * hand-built JSON lines, and a quote/backslash/control char in one
  * would emit an invalid artifact. Numbers from env go through
  * `.toInt` at the call site so a non-numeric value fails loudly
  * instead of splicing garbage as a bare JSON number. */
object ProbeJson {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
