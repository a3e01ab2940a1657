package graft.core

/** JSON text for the engine's hand-built payloads (bench and verify
  * artifacts, webhook bodies, OTLP spans).
  */
object Json {

  /** `s` as a quoted JSON string. Quote, backslash and every control char
    * (< 0x20) are escaped: one raw tab or CR in a key or in query SQL makes
    * the whole document unparseable. Other chars pass through.
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
