package graft.sqlfront

/** ClickHouse's lexical rule for quoted tokens and comments, kept in one
  * place (reference src/Parsers/Lexer.cpp: quoted strings, quoted
  * identifiers, `--` and `/* */` comments). A text pass that must not
  * look inside a literal scans `mask(s)` instead of `s`: the same text
  * with literal bodies and comments blanked and every position kept, so
  * a paren, comma or keyword search over it is a plain depth count with
  * no quote state, and a position found in the mask is valid in `s`. */
object SqlText {

  /** End (exclusive) of the quoted token whose opening quote is at `i`
    * (`'literal'`, `"identifier"` or a backquoted identifier). A
    * backslash escapes the next character and a doubled quote is one
    * quote. -1 when the token is unterminated. */
  def literalEnd(s: String, i: Int): Int = {
    val q = s.charAt(i)
    var j = i + 1
    while (j < s.length) {
      val c = s.charAt(j)
      if (c == '\\') j += 2
      else if (c != q) j += 1
      else if (j + 1 < s.length && s.charAt(j + 1) == q) j += 2
      else return j + 1
    }
    -1
  }

  /** `s` with the body of every single-quoted literal blanked (its two
    * quotes stay) and every comment blanked whole, at the same length.
    * Quoted identifiers are kept as they are. An unterminated literal or
    * comment is blanked to the end of the text. */
  def mask(s: String): String = {
    val out = s.toCharArray
    def blank(from: Int, until: Int): Unit = java.util.Arrays.fill(out, from, until, ' ')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') {
        val e = literalEnd(s, i)
        if (e < 0) { blank(i + 1, s.length); i = s.length }
        else { blank(i + 1, e - 1); i = e }
      } else if (c == '"' || c == '`') {
        val e = literalEnd(s, i)
        i = if (e < 0) i + 1 else e
      } else if (c == '-' && s.startsWith("--", i)) {
        val e = s.indexOf('\n', i)
        val stop = if (e < 0) s.length else e
        blank(i, stop); i = stop
      } else if (c == '/' && s.startsWith("/*", i)) {
        val e = s.indexOf("*/", i + 2)
        val stop = if (e < 0) s.length else e + 2
        blank(i, stop); i = stop
      } else i += 1
    }
    new String(out)
  }

  /** Index of the bracket that matches the one at `i` in masked text
    * `m`: forward from `(`, `[` or `{`, backward from `)`, `]` or `}`,
    * counting only that bracket pair. -1 when `m` has no bracket at `i`
    * or it is unbalanced. */
  def matching(m: String, i: Int): Int = {
    val b = if (i >= 0 && i < m.length) m.charAt(i) else ' '
    val (other, step) = b match {
      case '(' => (')', 1); case '[' => (']', 1); case '{' => ('}', 1)
      case ')' => ('(', -1); case ']' => ('[', -1); case '}' => ('{', -1)
      case _ => return -1
    }
    var depth = 0; var j = i
    while (j >= 0 && j < m.length) {
      val ch = m.charAt(j)
      if (ch == b) depth += 1
      else if (ch == other) { depth -= 1; if (depth == 0) return j }
      j += step
    }
    -1
  }
}
