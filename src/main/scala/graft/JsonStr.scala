package graft

/** Minimal JSON string escaping, shared by [[Verify]], [[Bench]] and the
  * stage manifests of [[plans.Pipeline]] (one
  * escaper, one set of bugs): backslash, quote, and ALL control chars
  * (< 0x20) — a tab or CR in builder-authored SQL or an exception message
  * would otherwise break the driver's json.load. */
private[graft] object JsonStr {
  def apply(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
