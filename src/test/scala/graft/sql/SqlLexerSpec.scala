package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** [[SqlLexer]] — DuckDB's literal and comment rules, checked through
  * the primitives the rewrites use: the mask, the matching close, and
  * the top-level split.
  */
class SqlLexerSpec extends AnyFunSuite {

  test("topLevelWords skips strings, quoted identifiers, comments, and parens") {
    val sql =
      """SELECT 'QUALIFY (not) -- here', "QUALIFY", `QUALIFY x`,
         (SELECT max(v) FROM t2 /* QUALIFY */) AS m -- QUALIFY
         FROM t"""
    val words = SqlLexer.topLevelWords(sql).map(_._1)
    assert(!words.contains("QUALIFY"))
    assert(words.count(_ == "SELECT") == 1) // the subquery's SELECT is depth-1
    assert(words.containsSlice(Seq("AS", "M", "FROM", "T")))
  }

  // Each token carries a comma and a paren so a scanner that ends it
  // early would split or close inside it.
  private val tokens = Seq(
    "'it''s (a, b'",                // '' is the only escape
    "E'it\\'s (a, b'",              // E'' strings also escape with \
    "$a$x$$y (a, b$a$",             // tagged dollar quote holding $$
    "$$it's (a, b$$",               // untagged dollar quote, raw '
    "\"a\"\"b (a, b\"",             // "" inside a quoted identifier
    "-- it's (a, b",                // line comment up to the newline
    "/* a /* b */ it's (a, c */")   // block comments nest

  for (tok <- tokens) test(s"mask, close and split agree on $tok") {
    val text = s"f($tok\n, z)"
    val at = 2
    assert(SqlLexer.mask(text) == "f(" + " " * tok.length + "\n, z)")
    assert(SqlLexer.closeOf(text, at) == at + tok.length)
    assert(SqlLexer.openOf(text, at + tok.length - 1) == at)
    assert(SqlLexer.closeOf(text, 1) == text.length)
    assert(SqlLexer.splitTop(text.substring(at, text.length - 1)) ==
      Vector(tok + "\n", " z"))
    assert(SqlLexer.allWords(text).map(_._1) == Vector("F", "Z"))
  }

  test("an unclosed literal runs to the end of the text") {
    val text = "f('it, (z)"
    assert(SqlLexer.mask(text) == "f(" + " " * 8)
    assert(SqlLexer.closeOf(text, 2) == -1)
    assert(SqlLexer.closeOf(text, 1) == -1)
    assert(SqlLexer.splitTop(text) == Vector(text))
  }

  test("a dollar sign that opens no closed quote is code") {
    assert(SqlLexer.mask("SELECT $1, $$x") == "SELECT $1, $$x")
    assert(SqlLexer.mask("SELECT a$b$, $b$") == "SELECT a$b$, $b$")
  }

  test("walk hands literals and comments whole and code char by char") {
    val text = "a//b, '//', /* // */ c//d"
    val out = new StringBuilder
    SqlLexer.walk(text)({ i =>
      if (text.startsWith("//", i)) { out.append(" div "); i + 2 }
      else { out.append(text.charAt(i)); i + 1 }
    }, (a, e) => out.append(text.substring(a, e)))
    assert(out.toString == "a div b, '//', /* // */ c div d")
  }
}
