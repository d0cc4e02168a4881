package graft

/** The one JSON string-escaping contract for driver-facing artifacts
  * ([[Verify]]'s and [[FuzzVerify]]'s oracle_sql.json, [[Bench]]'s record
  * line): backslash, quote, and ALL control chars (<0x20) — a tab or CR in
  * builder-authored SQL would otherwise make the driver's json.load fail
  * and silently zero the round's correctness. Shared so the harnesses
  * cannot drift apart. */
object JsonEscape {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"k": "v", ...}` with both sides escaped. */
  def obj(pairs: Iterable[(String, String)]): String =
    pairs.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
}
