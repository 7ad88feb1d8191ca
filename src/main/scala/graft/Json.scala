package graft

/** JSON text for the one-line records graft's mains print. */
object Json {

  /** `s` as a JSON string literal. Quote, backslash and every control
    * character below 0x20 are escaped: a raw newline or tab (exception
    * messages carry plan fragments, builder-authored SQL carries tabs)
    * would split the one-line record or make a reader's `json.loads`
    * fail. Everything else, non-ASCII included, passes through.
    */
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
