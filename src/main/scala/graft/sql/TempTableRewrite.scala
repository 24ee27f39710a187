package graft.sql

import scala.util.control.NonFatal

/** DuckDB's temp-table DML surface executing — the backbone of pasted
  * ETL scripts:
  *
  * {{{
  * CREATE [OR REPLACE] TEMP TABLE t AS <query>;   -- Count row, like DuckDB
  * CREATE TEMP TABLE t (a INTEGER, b VARCHAR);    -- empty result
  * INSERT INTO t <query|VALUES ...> [RETURNING exprs];
  * INSERT INTO t (a, b) <query>;                  -- column-list form
  * INSERT OR REPLACE INTO t <query>;              -- keyed upsert (declared PK)
  * INSERT OR IGNORE INTO t <query>;               -- keyed skip (declared PK)
  * INSERT INTO t <query> ON CONFLICT [(cols)] DO NOTHING;
  * UPDATE t SET ... WHERE ...;  DELETE FROM t WHERE ...;  -- via UpdateDeleteRewrite
  * DROP TABLE [IF EXISTS] t;
  * }}}
  *
  * Spark has no temp TABLES (CREATE TEMPORARY TABLE is rejected;
  * TEMPORARY VIEWs are lazy plans, not snapshots), so these intercept
  * PRE-delegation and land on eager TVFs backed by [[TempTables]] —
  * materialized scratch-parquet snapshots fronted by a same-named temp
  * view. INSERT ... RETURNING also works against CATALOG tables (the
  * insert_returning TVF appends and returns the projected inserted
  * rows, DuckDB's contract).
  *
  * Scope guards: single-part plain names; INSERT/DROP claim only names
  * in the temp-table registry (catalog tables keep Spark's native
  * INSERT path — except when RETURNING forces the TVF); `BY NAME`
  * inserts into temp tables decline to the hint. DROP TABLE on a temp
  * table performs the registry drop directly in the rewrite (a
  * pre-delegation side effect, like POSITIONAL JOIN's collapse) and
  * returns DuckDB's empty result via a zero-row marker.
  */
object TempTableRewrite {

  private val createRe =
    """(?is)\A\s*CREATE\s+(OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\s+([A-Za-z_]\w*)\s+AS\s+(.+?)\s*;?\s*\z""".r
  private val createColsRe =
    """(?is)\A\s*CREATE\s+(OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\s+([A-Za-z_]\w*)\s*\((.+)\)\s*;?\s*\z""".r
  // `\s*` between name and body: the common column-list spelling
  // `INSERT INTO t(a, b) VALUES ...` has no whitespace before `(` —
  // the greedy `\w*` still captures the full table name, so the body
  // can only ever begin at a non-word char.
  private val insertRe =
    """(?is)\A\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s*(.+?)\s*;?\s*\z""".r
  // DuckDB's keyed-ingest shorthands (parse-fail in Spark, so claiming
  // the prefix can never shadow a native statement).
  private val insertOrRe =
    """(?is)\A\s*INSERT\s+OR\s+(REPLACE|IGNORE)\s+INTO\s+([A-Za-z_]\w*)\s*(.+?)\s*;?\s*\z""".r
  private val dropRe =
    """(?is)\A\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*\z""".r

  def isShaped(sql: String): Boolean =
    """(?is)\A\s*(CREATE\s+(OR\s+REPLACE\s+)?TEMP|INSERT\s+(OR\s+(REPLACE|IGNORE)\s+)?INTO|DROP\s+TABLE)\b""".r
      .findFirstIn(sql).isDefined

  // Quote-doubling only: the spliced slice already carries this
  // level's backslash doubling (DuckLiterals entry transform); the
  // one unescape at re-parse consumes it.
  private def esc(s: String) =
    s.replace("'", "''")

  /** Persistent-catalog presence (NOT temp views — a view upsert must
    * keep DuckDB's error shape, raised by the TVF).
    */
  private def catalogHas(st: GraftSessionState, name: String): Boolean =
    try st.session.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
    catch { case NonFatal(_) => false }

  /** Optional leading column list: a parenthesized ident CSV followed
    * by MORE text (a bare `(SELECT ...)` body has no trailing text
    * after its close paren). None = unparseable (unbalanced paren).
    */
  private def splitColsBody(body0: String): Option[(Seq[String], String)] =
    if (body0.startsWith("(")) {
      // closeOf returns the index AFTER the matching ')'.
      val close = SqlLexer.closeOf(body0, 0)
      if (close < 0) return None
      val inner = body0.substring(1, close - 1)
      val after = body0.substring(close).trim
      val idents = inner.split(",").map(_.trim)
      if (after.nonEmpty && idents.nonEmpty &&
        idents.forall(_.matches("[A-Za-z_]\\w*")))
        Some((idents.toSeq, after))
      else Some((Seq.empty[String], body0))
    } else Some((Seq.empty[String], body0))

  def rewrite(st: GraftSessionState, sql: String): Option[String] =
    try {
      sql match {
        case createRe(orReplace, name, query) =>
          Some(s"SELECT * FROM temp_table_as('${esc(name)}', " +
            s"'${esc(query.trim)}', ${orReplace != null})")
        case createColsRe(orReplace, name, colDefs) =>
          Some(s"SELECT * FROM temp_table_empty('${esc(name)}', " +
            s"'${esc(colDefs.trim)}', ${orReplace != null})")
        case dropRe(ifExists, name) if TempTables.exists(st, name) =>
          // Side effect here (pre-delegation is deterministic); the
          // marker select returns DuckDB's empty result.
          TempTables.drop(st, name)
          Some("SELECT CAST(NULL AS BIGINT) AS Count WHERE 1 = 0")
        case insertOrRe(modeWord, name, rest) =>
          // INSERT OR REPLACE / OR IGNORE — keyed upsert against the
          // declared PRIMARY KEY: graft temp tables AND (round 17)
          // catalog tables (the upsert TVF runs the staged
          // INSERT-OVERWRITE recipe there; the PK comes from the
          // constraint-stripping CREATE TABLE claim).
          if (!TempTables.exists(st, name) && !catalogHas(st, name)) return None
          val words = SqlLexer.topLevelWords(rest)
          if (words.exists(_._1 == "?")) return None
          // RETURNING / an explicit ON CONFLICT on top of the shorthand
          // have no lane here.
          if (words.exists(w => w._1 == "RETURNING" || w._1 == "CONFLICT"))
            return None
          val (cols, body) = splitColsBody(rest.trim).getOrElse(return None)
          Some(s"SELECT * FROM temp_upsert('${esc(name)}', '${esc(body)}', " +
            s"'${esc(cols.mkString(","))}', '', '${modeWord.toLowerCase}')")
        case insertRe(name, rest) =>
          // RETURNING split: last top-level RETURNING word.
          val words = SqlLexer.topLevelWords(rest)
          if (words.exists(_._1 == "?")) return None
          val retW = words.reverse.find(_._1 == "RETURNING")
          val (body0, returning) = retW match {
            case Some((_, pos)) =>
              (rest.substring(0, pos).trim,
                Some(rest.substring(pos + "RETURNING".length).trim))
            case None => (rest.trim, None)
          }
          val isTemp = TempTables.exists(st, name)
          // BY NAME into a temp table has no lane here; native/hint path.
          if (body0.toUpperCase.startsWith("BY NAME")) return None
          // ON CONFLICT [(cols)] DO NOTHING — the explicit conflict
          // clause (paren-aware scan, so a join's ON inside the source
          // query is never mistaken for it). DO UPDATE declines to the
          // hint; combining with RETURNING declines too.
          val bodyWords = SqlLexer.topLevelWords(body0)
          val conflictAt = bodyWords.sliding(2).collectFirst {
            case Seq((on, pos), (conf, _))
              if on == "ON" && conf == "CONFLICT" => pos
          }
          conflictAt match {
            case Some(pos) =>
              if ((!isTemp && !catalogHas(st, name)) || returning.isDefined)
                return None
              val clause = body0.substring(pos).trim
              val headRe = ("(?is)\\AON\\s+CONFLICT\\s*" +
                "(?:\\(([^)]*)\\)\\s*)?DO\\s+(NOTHING|UPDATE)\\b").r
              val m = headRe.findFirstMatchIn(clause).getOrElse(return None)
              val keys = Option(m.group(1)).toSeq
                .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
              val (cols, body) =
                splitColsBody(body0.substring(0, pos).trim).getOrElse(return None)
              val tail = clause.substring(m.end).trim
              if (m.group(2).equalsIgnoreCase("NOTHING")) {
                if (tail.nonEmpty) return None
                Some(s"SELECT * FROM temp_upsert('${esc(name)}', " +
                  s"'${esc(body)}', '${esc(cols.mkString(","))}', " +
                  s"'${esc(keys.mkString(","))}', 'ignore')")
              } else {
                // DO UPDATE SET a = expr, ... [WHERE cond] — the WHERE
                // split uses the quote/comment-aware word scan (a
                // ' WHERE ' inside a string literal is data).
                val setM = "(?is)\\ASET\\s+(.+)\\z".r
                  .findFirstMatchIn(tail).getOrElse(return None)
                val setAll = setM.group(1)
                val whereW = SqlLexer.topLevelWords(setAll)
                  .find(_._1 == "WHERE")
                val (setText, whereText) = whereW match {
                  case Some((_, p)) =>
                    (setAll.substring(0, p).trim,
                      setAll.substring(p + "WHERE".length).trim)
                  case None => (setAll.trim, "")
                }
                if (setText.isEmpty) return None
                Some(s"SELECT * FROM temp_upsert('${esc(name)}', " +
                  s"'${esc(body)}', '${esc(cols.mkString(","))}', " +
                  s"'${esc(keys.mkString(","))}', 'update', " +
                  s"'${esc(setText)}', '${esc(whereText)}')")
              }
            case None =>
              if (!isTemp && returning.isEmpty) return None // native INSERT
              // Catalog table + RETURNING.
              if (!isTemp && !catalogHas(st, name)) return None
              val (cols, body) = splitColsBody(body0).getOrElse(return None)
              val fn = if (isTemp) "temp_insert" else "insert_returning"
              Some(s"SELECT * FROM $fn('${esc(name)}', '${esc(body)}', " +
                s"'${esc(cols.mkString(","))}', " +
                s"'${esc(returning.getOrElse(""))}')")
          }
        case _ => None
      }
    } catch { case NonFatal(_) => None }
}
