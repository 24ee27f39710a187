package graft.sql

/** Mechanical rewrite of DuckDB's star-projection `EXCLUDE` (friendly
  * SQL: `SELECT * EXCLUDE (c1, c2) FROM t`) into Spark 4's native
  * `* EXCEPT (c1, c2)`. The two forms are the same feature under
  * different keywords, so the rewrite is a word swap — but only where
  * the word is REALLY that construct: an `EXCLUDE` that (ignoring
  * whitespace and comments) follows `*` and precedes `(` — or, DuckDB's
  * bare single-name form, one non-keyword identifier (`* EXCLUDE id`,
  * parenthesized into `* EXCEPT (id)`) — at ANY paren
  * depth (subqueries included), outside string literals, quoted
  * identifiers, and comments. Anything else — `EXCLUDE` as an
  * identifier, inside a string — is left byte-for-byte intact. Returns
  * None when nothing qualified (caller rethrows the original parse
  * error).
  */
object ExcludeRewrite {

  /** Clause keywords that must not be claimed as the bare excluded
    * name (`SELECT * EXCLUDE FROM t` is not the single-name form).
    */
  private val keywords = Set(
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "QUALIFY",
    "WINDOW", "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER", "LEFT",
    "RIGHT", "FULL", "CROSS", "NATURAL", "ON", "USING", "AS", "OFFSET")

  def rewrite(sql: String): Option[String] = {
    val n = sql.length
    // (excludeStart, replaceEnd, bareName): parenthesized hits carry
    // bareName = None and replace just the keyword; bare-name hits
    // consume through the identifier and re-emit it parenthesized.
    val spans = Vector.newBuilder[(Int, Int, Option[String])]
    var lastSig = ' ' // last significant char seen (comments don't count)
    var pending: (Int, Int) = null // a `*`-adjacent EXCLUDE awaiting its list
    SqlLexer.walk(sql)({ i =>
      val c = sql.charAt(i)
      val p = pending
      if (!c.isWhitespace) pending = null
      if (c.isWhitespace) i + 1
      else if (c == '(' && p != null) {
        spans += ((p._1, p._2, None)); lastSig = c; i + 1
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
        val w = sql.substring(i, j)
        if (p != null && !keywords.contains(w.toUpperCase)) spans += ((p._1, j, Some(w)))
        else if (w.equalsIgnoreCase("EXCLUDE") && lastSig == '*') pending = (i, j)
        lastSig = w.last
        j
      } else { lastSig = c; i + 1 }
    }, { (a, _) =>
      if (!SqlLexer.isComment(sql, a)) { pending = null; lastSig = sql.charAt(a) }
    })
    val hits = spans.result()
    if (hits.isEmpty) None
    else {
      val sb = new StringBuilder
      var pos = 0
      hits.foreach { case (s, e, bare) =>
        sb.append(sql.substring(pos, s))
          .append(bare.fold("EXCEPT")(nm => s"EXCEPT ($nm)"))
        pos = e
      }
      sb.append(sql.substring(pos))
      Some(sb.toString)
    }
  }
}
