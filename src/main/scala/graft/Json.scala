package graft

/** JSON string literal: quotes, backslashes and every control character
  * below U+0020 escaped, so a tab or newline in a query name, error
  * message or SQL text cannot break the reader's parse.
  */
private[graft] object Json {
  def str(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }.mkString("\"", "", "\"")
}
