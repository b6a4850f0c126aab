package graft.util

/** The program's one JSON string escaper (RFC 8259): backslash, quote,
  * and ALL control chars. Callers: `Tool verify` (oracle_sql.json),
  * Bench (the metric lines) and [[graft.serve.HttpShim]] (served rows).
  * A tab or CR in builder-authored SQL, a quote in an env-supplied path
  * or any string in a caller-supplied latest table would otherwise make
  * the reader's JSON parse fail.
  */
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
