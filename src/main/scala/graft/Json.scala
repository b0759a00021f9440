package graft

/** JSON text for the records the mains write: Bench's result line,
  * Verify's `oracle_sql.json` and the chain manifests.
  */
object Json {

  /** `s` as a JSON string literal. Backslash, quote and ALL control
    * chars (< 0x20) are escaped: a tab or CR in builder-authored SQL
    * would otherwise make the reader's `json.load` fail and silently
    * zero the round's correctness.
    */
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
