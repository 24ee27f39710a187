package graft.sql

/** The one place the SQL front end knows where literals and comments
  * start and end. The rules are DuckDB's (its scanner comes from
  * Postgres):
  *
  *  - `'…'` strings, `''` the only escape — a backslash is data;
  *  - `E'…'` escaped strings, where `\'` and `\\` also escape;
  *  - `$$…$$` and `$tag$…$tag$` dollar quotes, raw, with no escape at
  *    all (an opener with no matching closer is not one);
  *  - `"…"` identifiers with `""`, plus Spark's `` `…` `` identifiers
  *    (the rewrites emit them), with ``` `` ```;
  *  - `-- …` comments to the end of the line, and `/* … */` comments,
  *    which NEST.
  *
  * An unclosed string, identifier or comment runs to the end of the
  * text. Brackets `(`, `[` and `{` share one depth. Every text rewrite
  * in `graft.sql` finds its tokens through these primitives, so none
  * of them fires inside a literal or a comment.
  */
object SqlLexer {

  private def identChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '$'

  /** End of the `q`-quoted run whose body starts at `from`: just past
    * the closing quote, or `s.length + 1` when there is none. A doubled
    * quote (and, with `backslash`, a backslash-escaped char) stays
    * inside.
    */
  private def quotedEnd(s: String, from: Int, q: Char, backslash: Boolean): Int = {
    val n = s.length
    var i = from
    while (i < n) {
      val c = s.charAt(i)
      if (backslash && c == '\\') i += 2
      else if (c == q) {
        if (i + 1 < n && s.charAt(i + 1) == q) i += 2 else return i + 1
      } else i += 1
    }
    n + 1
  }

  /** The `$tag$` marker opening at `i`, if one does and its closing
    * twin follows; else null.
    */
  private def dollarMarker(s: String, i: Int): String = {
    if (i > 0 && identChar(s.charAt(i - 1))) return null
    val n = s.length
    var j = i + 1
    if (j < n && (s.charAt(j).isLetter || s.charAt(j) == '_')) {
      j += 1
      while (j < n && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
    }
    if (j >= n || s.charAt(j) != '$') return null
    val marker = s.substring(i, j + 1)
    if (s.indexOf(marker, j + 1) < 0) null else marker
  }

  /** End (exclusive) of the literal or comment opening at `i`;
    * `s.length + 1` when it is unclosed; -1 when none opens at `i`.
    */
  private def end(s: String, i: Int): Int = {
    val n = s.length
    val next = if (i + 1 < n) s.charAt(i + 1) else ' '
    s.charAt(i) match {
      case '\'' => quotedEnd(s, i + 1, '\'', backslash = false)
      case q @ ('"' | '`') => quotedEnd(s, i + 1, q, backslash = false)
      case 'E' | 'e' if next == '\'' && (i == 0 || !identChar(s.charAt(i - 1))) =>
        quotedEnd(s, i + 2, '\'', backslash = true)
      case '-' if next == '-' =>
        val nl = s.indexOf('\n', i)
        if (nl < 0) n else nl
      case '/' if next == '*' =>
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        if (depth == 0) j else n + 1
      case '$' =>
        val marker = dollarMarker(s, i)
        if (marker == null) -1
        else s.indexOf(marker, i + marker.length) + marker.length
      case _ => -1
    }
  }

  /** True when a comment (not a literal) opens at `i`. */
  def isComment(s: String, i: Int): Boolean =
    s.startsWith("--", i) || s.startsWith("/*", i)

  /** Walk `s` left to right. At each code position `code(i)` runs and
    * returns the next position (> i); each literal or comment is handed
    * whole to `lit(start, end)`. A rewrite that copies through `lit`
    * edits code only and leaves literals and comments as they are.
    */
  def walk(s: String)(code: Int => Int, lit: (Int, Int) => Unit): Unit = {
    val n = s.length
    var i = 0
    while (i < n) {
      val e = end(s, i)
      if (e < 0) i = code(i)
      else { val stop = math.min(e, n); lit(i, stop); i = stop }
    }
  }

  /** `s` with every literal and comment blanked to spaces: same length,
    * so an offset found by a regex over the mask is an offset into `s`.
    */
  def mask(s: String): String = {
    val m = s.toCharArray
    walk(s)(_ + 1, (a, e) => java.util.Arrays.fill(m, a, e, ' '))
    new String(m)
  }

  /** Index just past the bracket or literal that closes the one opening
    * at `open`; -1 when it is unbalanced or unclosed (or nothing opens
    * there).
    */
  def closeOf(s: String, open: Int): Int = {
    val n = s.length
    if (open < 0 || open >= n) return -1
    val e = end(s, open)
    if (e >= 0) return if (e > n) -1 else e
    if ("([{".indexOf(s.charAt(open)) < 0) return -1
    var depth = 0
    var i = open
    while (i < n) {
      val e2 = end(s, i)
      if (e2 > n) return -1
      if (e2 >= 0) i = e2
      else {
        val c = s.charAt(i)
        if ("([{".indexOf(c) >= 0) depth += 1
        else if (")]}".indexOf(c) >= 0) {
          depth -= 1
          if (depth == 0) return i + 1
        }
        i += 1
      }
    }
    -1
  }

  /** Start of the bracket group or literal whose last char sits at
    * `last`; -1 when none ends there.
    */
  def openOf(s: String, last: Int): Int = {
    var opens = List.empty[Int]
    var found = -1
    var i = 0
    while (i <= last && found < 0) {
      val e = end(s, i)
      if (e >= 0) { if (e == last + 1) found = i; i = e }
      else {
        val c = s.charAt(i)
        if ("([{".indexOf(c) >= 0) opens = i :: opens
        else if (")]}".indexOf(c) >= 0) {
          if (opens.isEmpty) return -1
          if (i == last) found = opens.head
          opens = opens.tail
        }
        i += 1
      }
    }
    found
  }

  /** Offsets of the non-bracket code chars at bracket depth 0 for
    * which `hit` holds.
    */
  def topLevel(s: String)(hit: Int => Boolean): Vector[Int] = {
    val out = Vector.newBuilder[Int]
    var depth = 0
    walk(s)({ i =>
      val c = s.charAt(i)
      if ("([{".indexOf(c) >= 0) depth += 1
      else if (")]}".indexOf(c) >= 0) depth -= 1
      else if (depth == 0 && hit(i)) out += i
      i + 1
    }, (_, _) => ())
    out.result()
  }

  /** The pieces of `s` between the given [start, end) cuts. */
  def cut(s: String, cuts: Seq[(Int, Int)]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var pos = 0
    cuts.foreach { case (a, b) => out += s.substring(pos, a); pos = b }
    out += s.substring(pos)
    out.result()
  }

  /** Split at the depth-0 occurrences of `sep` in code. */
  def splitTop(s: String, sep: Char = ','): Vector[String] =
    cut(s, topLevel(s)(s.charAt(_) == sep).map(i => (i, i + 1)))

  /** Bare words at bracket depth 0, uppercased, with their offsets.
    * A positional parameter marker `?` at ANY depth is surfaced as the
    * pseudo-word `?`: a rewrite that moves text around one would rebind
    * values to the wrong markers, so callers decline on it.
    */
  def topLevelWords(s: String): Vector[(String, Int)] = words(s, anyDepth = false)

  /** Like [[topLevelWords]] at ANY bracket depth — for constructs that
    * may sit inside subqueries, where the caller only needs to know the
    * word is really in the SQL and not in a literal.
    */
  def allWords(s: String): Vector[(String, Int)] = words(s, anyDepth = true)

  private def words(s: String, anyDepth: Boolean): Vector[(String, Int)] = {
    val out = Vector.newBuilder[(String, Int)]
    val n = s.length
    var depth = 0
    walk(s)({ i =>
      val c = s.charAt(i)
      if ("([{".indexOf(c) >= 0) { depth += 1; i + 1 }
      else if (")]}".indexOf(c) >= 0) { depth -= 1; i + 1 }
      else if (c == '?') { out += (("?", i)); i + 1 }
      else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
        if (anyDepth || depth == 0) out += ((s.substring(i, j).toUpperCase, i))
        j
      } else i + 1
    }, (_, _) => ())
    out.result()
  }
}
