package graft.functions

/** Minimal JSON string escaping shared by the oracle dump (Verify) and the
  * NLP request builder — one implementation so escaping fixes can't drift.
  */
object JsonUtil {
  def quote(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    quoteInto(sb, s)
    sb.result()
  }

  /** Appends `s` as a quoted JSON string literal to `sb` in one pass, for
    * callers that build a larger document in one buffer.
    */
  def quoteInto(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' =>
          sb.append(if (c < 0x10) "\\u000" else "\\u00").append(Integer.toHexString(c))
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
