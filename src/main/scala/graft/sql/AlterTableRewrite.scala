package graft.sql

import scala.util.control.NonFatal

/** DuckDB's `ALTER TABLE` surface for graft temp tables ([[TempTables]]
  * snapshots — the tables a pasted ETL script creates and mutates):
  *
  * {{{
  * ALTER TABLE t ADD [COLUMN] [IF NOT EXISTS] c TYPE [DEFAULT expr]
  * ALTER TABLE t DROP [COLUMN] [IF EXISTS] c
  * ALTER TABLE t RENAME [COLUMN] a TO b
  * ALTER TABLE t RENAME TO t2
  * ALTER TABLE t ALTER [COLUMN] c [SET DATA] TYPE type
  * }}}
  *
  * All parse natively in Spark (v2 ALTER syntax) but die in analysis
  * against a temp view, so the temp-table forms intercept
  * PRE-delegation (the UPDATE/DELETE pattern): the snapshot is
  * re-materialized with the changed schema and the statement returns
  * DuckDB's empty result. DuckDB 1.0 semantics pinned: ADD backfills
  * the DEFAULT (or NULL) into existing rows, dropping/renaming a
  * missing column errors (IF EXISTS tolerated), RENAME TO onto an
  * existing name errors, and ALTER TYPE casts the data — a value that
  * does not convert raises here, at the statement (the eager
  * re-materialization runs the cast), exactly where DuckDB raises.
  * `ALTER ... TYPE ... USING expr` and non-column ALTERs decline to a
  * named error rather than Spark's confusing view-vs-table message.
  * Catalog tables are NEVER claimed — Spark's own ALTER semantics
  * (ADD COLUMNS on parquet, DSv2 row-level tables) stay native.
  */
object AlterTableRewrite {

  private val headRe =
    """(?is)\A\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s+(.+?)\s*;?\s*\z""".r
  private val addRe =
    """(?is)\AADD\s+(?:COLUMN\s+)?(?:(IF\s+NOT\s+EXISTS)\s+)?([A-Za-z_]\w*)\s+(.+?)(?:\s+DEFAULT\s+(.+))?\z""".r
  private val dropRe =
    """(?is)\ADROP\s+(?:COLUMN\s+)?(?:(IF\s+EXISTS)\s+)?([A-Za-z_]\w*)\z""".r
  private val renToRe =
    """(?is)\ARENAME\s+TO\s+([A-Za-z_]\w*)\z""".r
  private val renColRe =
    """(?is)\ARENAME\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)\z""".r
  private val altTypeRe =
    """(?is)\AALTER\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+(?:SET\s+DATA\s+)?TYPE\s+(.+?)\z""".r

  /** DuckDB's length-less string spellings → Spark's STRING (same
    * normalization as CREATE TEMP TABLE's column defs).
    */
  private def normalizeType(t: String): String =
    "(?i)\\b(?:VARCHAR|TEXT|BPCHAR)\\b(?!\\s*\\()".r.replaceAllIn(t, "STRING")

  private def fail(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  private val empty = "SELECT CAST(NULL AS BIGINT) AS Count WHERE 1 = 0"

  /** Evaluated once per statement: the rewrite performs the mutation. */
  def rewrite(st: GraftSessionState, sql: String): Option[String] = {
    val m = headRe.findFirstMatchIn(sql).getOrElse(return None)
    val name = m.group(1)
    val rest = m.group(2).trim
    if (!TempTables.exists(st, name)) return None
    val spark = st.session
    import org.apache.spark.sql.functions.{col, expr, lit}
    val df = spark.table(name)
    def resolve(c: String): Option[String] =
      df.columns.find(_.equalsIgnoreCase(c))
    def parseType(t: String) =
      try spark.sessionState.sqlParser.parseDataType(normalizeType(t.trim))
      catch { case NonFatal(_) =>
        fail(s"ALTER TABLE $name: cannot parse type '$t'") }
    rest match {
      case addRe(ifnex, c, tpe, dflt) =>
        if (resolve(c).isDefined) {
          if (ifnex == null)
            fail(s"""ALTER TABLE $name: column "$c" already exists""")
        } else {
          val dt = parseType(tpe)
          val e = Option(dflt).map(d => expr(d.trim)).getOrElse(lit(null))
          TempTables.put(st, name, df.withColumn(c, e.cast(dt)))
        }
        Some(empty)
      case dropRe(ifex, c) =>
        resolve(c) match {
          case Some(real) => TempTables.put(st, name, df.drop(real))
          case None if ifex != null => ()
          case None =>
            fail(s"""ALTER TABLE $name: column "$c" does not exist""")
        }
        Some(empty)
      case renToRe(newName) =>
        if (TempTables.exists(st, newName) || spark.catalog.tableExists(newName))
          fail(s"""ALTER TABLE: table with name "$newName" already exists""")
        TempTables.put(st, newName, df)
        TempTables.keysOf(st, name).foreach(TempTables.setKeys(st, newName, _))
        TempTables.drop(st, name)
        Some(empty)
      case renColRe(a, b) =>
        val real = resolve(a).getOrElse(
          fail(s"""ALTER TABLE $name: column "$a" does not exist"""))
        if (resolve(b).isDefined)
          fail(s"""ALTER TABLE $name: column "$b" already exists""")
        TempTables.put(st, name, df.withColumnRenamed(real, b))
        Some(empty)
      case altTypeRe(c, tpe) if !"(?i)\\bUSING\\b".r
          .findFirstIn(SqlLexer.mask(tpe)).isDefined =>
        val real = resolve(c).getOrElse(
          fail(s"""ALTER TABLE $name: column "$c" does not exist"""))
        val dt = parseType(tpe)
        TempTables.put(st, name, df.withColumn(real, col(real).cast(dt)))
        Some(empty)
      case _ =>
        fail(s"ALTER TABLE on temp table '$name': supported forms are " +
          "ADD [COLUMN] [IF NOT EXISTS] c TYPE [DEFAULT expr], " +
          "DROP [COLUMN] [IF EXISTS] c, RENAME [COLUMN] a TO b, " +
          "RENAME TO t2, and ALTER [COLUMN] c [SET DATA] TYPE type. " +
          "This statement is not one of them (TYPE ... USING expr: " +
          "run the cast as UPDATE t SET c = expr first).")
    }
  }
}
