package graft.sql

/** DuckDB's raw-backslash string literals (round 19, verdict-18 #1).
  *
  * DuckDB standard string literals have NO backslash escapes — the only
  * escape is the doubled quote `''` — so a pasted `regexp_matches(s,
  * '\d+')` means the regex `\d+`. Spark's default lexer consumes that
  * backslash, silently matching the wrong pattern: the last remaining
  * SILENT-wrong-value class on pasted input.
  *
  * Fix: every statement entering the session parser
  * ([[GraftHintParser]].parsePlan/parseQuery/parsePlanWithParameters,
  * plus parseExpression for TVF-spliced fragments) first has each
  * backslash INSIDE a string literal doubled. Spark's parse then
  * unescapes exactly one level, so the runtime value carries the
  * original backslashes — DuckDB's no-escape semantics, including the
  * lexer-impossible trailing form `'\'` (doubled to `'\\'`).
  *
  * Idempotence is structural, not textual: (double → parse-unescape)
  * is the identity PER NESTING LEVEL. Rewrites in the hint chain
  * operate on the transformed text and re-embed slices with
  * QUOTE-doubling only (the slice already carries this level's
  * backslash doubling; the one unescape at parse consumes it), so a
  * TVF like summarize()/fixpoint() receives original DuckDB text and
  * its execution-time spark.sql() re-enters the same transform. The
  * ONE site embedding RAW (untransformed) content — the dollar-quote
  * rewrite, whose $tag$...$tag$ innards the entry scan skips — doubles
  * backslashes itself for the same reason.
  *
  * The transform no-ops (returns the same reference) on statements
  * without a backslash anywhere, which is the entire internal query
  * catalog (grep-verified) and virtually every statement at runtime:
  * the scan costs one indexOf on the fast path.
  */
object DuckLiterals {

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Double each backslash inside '...' string literals, and fold
    * DuckDB's `E'...'` ESCAPED literals (round 19: C-style \n/\t/\r/
    * \b/\f, octal \ooo, hex \xHH, unicode \uXXXX/\UXXXXXXXX, \\, \';
    * an unknown escape drops the backslash, host-probed) into plain
    * literals carrying the UNESCAPED value. Literal boundaries come from
    * [[SqlLexer]]; quoted identifiers, comments, and dollar-quoted
    * strings pass through untouched (the dollar-quote rewrite handles
    * its own embedding).
    */
  def doubleBackslashes(text: String): String = {
    if (text.indexOf('\\') < 0 &&
      text.indexOf("E'") < 0 && text.indexOf("e'") < 0) return text
    val sb = new java.lang.StringBuilder(text.length + 8)
    var changed = false
    SqlLexer.walk(text)({ i => sb.append(text.charAt(i)); i + 1 }, { (a, e) =>
      text.charAt(a) match {
        case 'E' | 'e' =>
          // E'...' escaped literal → unescape to the VALUE, re-emit as a
          // plain literal under this transform's postcondition (raw
          // backslashes doubled, quotes doubled).
          sb.append('\'')
            .append(unescape(text, a + 2, if (SqlLexer.closeOf(text, a) < 0) e else e - 1)
              .replace("\\", "\\\\").replace("'", "''"))
            .append('\'')
          changed = true
        case '\'' if { val b = text.indexOf('\\', a); b >= 0 && b < e } =>
          sb.append(text.substring(a, e).replace("\\", "\\\\"))
          changed = true
        case _ => sb.append(text, a, e)
      }
    })
    if (changed) sb.toString else text
  }

  /** The value of the E'...' literal body [from, to). */
  private def unescape(text: String, from: Int, to: Int): String = {
    val value = new java.lang.StringBuilder
    var i = from
    while (i < to) {
      val d = text.charAt(i)
      if (d == '\\' && i + 1 < to) {
        val e2 = text.charAt(i + 1)
        e2 match {
          case 'n' => value.append('\n'); i += 2
          case 't' => value.append('\t'); i += 2
          case 'r' => value.append('\r'); i += 2
          case 'b' => value.append('\b'); i += 2
          case 'f' => value.append('\f'); i += 2
          case '\\' => value.append('\\'); i += 2
          case '\'' => value.append('\''); i += 2
          case 'x' =>
            var j = i + 2; var h = 0; var cnt = 0
            while (j < to && cnt < 2 && hexVal(text.charAt(j)) >= 0) {
              h = h * 16 + hexVal(text.charAt(j)); j += 1; cnt += 1
            }
            if (cnt == 0) { value.append('x'); i += 2 }
            else { value.append(h.toChar); i = j }
          case 'u' | 'U' =>
            val want = if (e2 == 'u') 4 else 8
            var j = i + 2; var h = 0; var cnt = 0
            while (j < to && cnt < want && hexVal(text.charAt(j)) >= 0) {
              h = h * 16 + hexVal(text.charAt(j)); j += 1; cnt += 1
            }
            if (cnt < want) { value.append(e2); i += 2 }
            else { value.appendCodePoint(h); i = j }
          case o if o >= '0' && o <= '7' =>
            var j = i + 1; var v = 0; var cnt = 0
            while (j < to && cnt < 3 && text.charAt(j) >= '0' &&
              text.charAt(j) <= '7') {
              v = v * 8 + (text.charAt(j) - '0'); j += 1; cnt += 1
            }
            value.append(v.toChar); i = j
          case other => value.append(other); i += 2 // unknown: drop \
        }
      } else if (d == '\'') { value.append('\''); i += 2 } // a doubled quote
      else { value.append(d); i += 1 }
    }
    value.toString
  }
}
