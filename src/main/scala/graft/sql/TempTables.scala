package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Session-scoped MATERIALIZED temp tables — the semantics DuckDB's
  * `CREATE TEMP TABLE` carries and Spark lacks (a TEMPORARY VIEW is a
  * lazy plan that re-evaluates per query; a temp TABLE is a snapshot
  * that mutates in place).
  *
  * Each temp table is a scratch-parquet dataset
  * ([[graft.operators.Scratch]] — per-JVM session root, shutdown-hook
  * cleanup, shared-storage root on a cluster via
  * `spark.graft.scratchDir`) fronted by a temp view of the same name,
  * so every read path — SQL, the other rewrites, the DataFrame API via
  * `spark.table` — resolves it like any relation. MUTATION never
  * appends into the live directory (a registered view pins its file
  * LISTING at creation — in-place appends would be invisible or,
  * worse, partially visible): every INSERT/UPDATE/DELETE materializes
  * the new content to a FRESH scratch dir and re-registers the view
  * atomically, which also gives mutations snapshot semantics against
  * concurrent readers of the old plan.
  */
object TempTables {

  /** One table's record in its session's holder
    * ([[GraftSessionState.tables]]). `content` is Left(scratch dir) for
    * parquet-backed snapshots, Right(frozen LocalRelation DataFrame) for
    * small ones (see [[put]]), and None for a metadata-only record — a
    * declared key or a COMMENT ON a catalog table or plain view.
    * `keys` are the declared PRIMARY KEY columns: the conflict target
    * INSERT OR REPLACE / OR IGNORE resolve against when the statement
    * names none (advisory: reads don't enforce it; the upsert TVF
    * rejects duplicate keys like DuckDB's constraint). `defaults` maps
    * a lowercased column to its DEFAULT's SQL text, compiled per insert
    * as DuckDB evaluates it. `pending` is the lazy-append depth (see
    * [[putLazy]]). A transaction snapshot is a copy of the record map,
    * so ROLLBACK restores all of it.
    */
  final case class Table(
      content: Option[Either[String, DataFrame]] = None,
      keys: Option[Seq[String]] = None,
      defaults: Map[String, String] = Map.empty,
      pending: Int = 0,
      comment: Option[String] = None,
      columnComments: Map[String, String] = Map.empty)

  private def record(st: GraftSessionState, name: String): Table =
    Option(st.tables.get(name.toLowerCase)).getOrElse(Table())

  private def update(st: GraftSessionState, name: String)(f: Table => Table): Unit = {
    st.tables.compute(name.toLowerCase,
      (_, t) => f(Option(t).getOrElse(Table())))
    ()
  }

  def setKeys(st: GraftSessionState, name: String, cols: Seq[String]): Unit =
    update(st, name)(_.copy(keys = Some(cols)))

  def keysOf(st: GraftSessionState, name: String): Option[Seq[String]] =
    record(st, name).keys

  def setDefaults(st: GraftSessionState, name: String,
      defs: Map[String, String]): Unit =
    if (defs.nonEmpty) update(st, name)(_.copy(defaults = defs))

  def defaultsOf(st: GraftSessionState, name: String): Map[String, String] =
    record(st, name).defaults

  /** COMMENT ON TABLE / COLUMN metadata (DuckDB semantics pinned on 1.0:
    * IS NULL clears, commenting a missing table is a Catalog Error).
    * Catalog tables keep Spark's own comment machinery as well; this
    * serves the temp views Spark's native COMMENT ON rejects, surfaced
    * through `duckdb_tables()` / `duckdb_columns()`.
    */
  def setComment(st: GraftSessionState, name: String, c: Option[String]): Unit =
    update(st, name)(_.copy(comment = c))

  def setColumnComment(st: GraftSessionState, name: String, column: String,
      c: Option[String]): Unit =
    update(st, name) { t =>
      val k = column.toLowerCase
      t.copy(columnComments = c.fold(t.columnComments - k)(v =>
        t.columnComments + (k -> v)))
    }

  def comment(st: GraftSessionState, name: String): Option[String] =
    record(st, name).comment

  def columnComment(st: GraftSessionState, name: String,
      column: String): Option[String] =
    record(st, name).columnComments.get(column.toLowerCase)

  def exists(st: GraftSessionState, name: String): Boolean =
    record(st, name).content.isDefined

  /** Materialize `df` as the content of temp table `name` (create or
    * full replace) and (re-)register the fronting view.
    *
    * SMALL snapshots skip the parquet round trip (round 21): when the
    * OPTIMIZER proves the content is at most `spark.graft.
    * tempTableLocalRows` rows (`optimizedPlan.maxRows` — literal VALUES,
    * DML over an already-local table, LIMIT-bounded selects; 0 disables),
    * the rows collect into an immutable LocalRelation instead of paying
    * a distributed write + read-back per statement — the same move
    * Fixpoint makes for small frontiers, and a statement-heavy DML
    * script's per-statement floor drops from a Spark write job to a
    * driver-local copy. The maxRows gate (never a collect-and-see probe)
    * keeps every mutation plan executed EXACTLY once, like the write
    * path — a probe would re-execute nondeterministic content (nextval,
    * random) when it overflows. The schema is widened asNullable to
    * match what the parquet read-back used to report, so downstream
    * schemas are unchanged. Snapshot semantics are preserved trivially:
    * a LocalRelation is immutable, so a DataFrame captured before the
    * mutation keeps its rows exactly like a superseded scratch dir.
    */
  def put(st: GraftSessionState, name: String, df: DataFrame): Unit = {
    val spark = df.sparkSession
    val cap =
      try spark.conf.getOption("spark.graft.tempTableLocalRows")
        .map(_.toLong).getOrElse(10000L)
      catch { case scala.util.control.NonFatal(_) => 10000L }
    require(cap >= 0, s"spark.graft.tempTableLocalRows must be >= 0, got $cap")
    val content: Either[String, DataFrame] =
      if (cap > 0 &&
          df.queryExecution.optimizedPlan.maxRows.exists(_ <= cap)) {
        val rows = df.collect()
        Right(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), nullableSchema(df.schema)))
      } else {
        // The superseded dir is NOT deleted eagerly: a DataFrame captured
        // before the mutation (or a query mid-flight) still reads it — the
        // snapshot contract. Superseded snapshots live until the scratch
        // root's JVM-exit cleanup; a mutation-heavy loop trades that disk
        // for never breaking a reader.
        Left(graft.operators.Scratch.materialize(df, s"ttab_$name")._2)
      }
    register(st, name, content)
    update(st, name)(_.copy(content = Some(content), pending = 0))
  }

  /** Recursively nullable schema — what a parquet read-back reports, so
    * local snapshots front the same schema the scratch path did.
    */
  private def nullableSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def widen(dt: DataType): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(f =>
          f.copy(dataType = widen(f.dataType), nullable = true)))
      case at: ArrayType =>
        at.copy(elementType = widen(at.elementType), containsNull = true)
      case mt: MapType =>
        mt.copy(keyType = widen(mt.keyType), valueType = widen(mt.valueType),
          valueContainsNull = true)
      case o => o
    }
    widen(s).asInstanceOf[StructType]
  }

  /** (Re-)point the fronting view at the given content. */
  private def register(st: GraftSessionState, name: String,
      content: Either[String, DataFrame]): Unit =
    content match {
      case Left(dir) =>
        st.session.read.parquet(dir).createOrReplaceTempView(name)
      case Right(local) => local.createOrReplaceTempView(name)
    }

  // --- Coalesced appends (round 19, verdict-18 #8) -------------------
  //
  // A multi-statement ingest script pays one FULL-table parquet
  // rewrite per INSERT under put(). When the appended rows are already
  // immutable (a materialized stage dir or a literal LocalRelation),
  // the union plan `current ∪ staged` is snapshot-stable FOREVER — all
  // its leaves are frozen — so the fronting view can point at the lazy
  // union and defer materialization. The snapshot contract stays
  // observable at every statement boundary (reads see exactly the
  // mutated content; later mutations of OTHER tables can't reach into
  // the frozen leaves). Depth-capped: each append adds one union
  // level, and a 1000-statement ingest loop would otherwise pay
  // O(depth) analysis per read, so the cap rematerializes. Transactions
  // flush first — BEGIN/ROLLBACK reason over materialized dirs.

  private val maxPendingDepth = 32

  /** Register `df` (current ∪ frozen-appendix) as the table's content
    * WITHOUT materializing, provided the pending chain stays shallow.
    * Callers guarantee every new leaf in `df` is immutable.
    */
  def putLazy(st: GraftSessionState, name: String, df: DataFrame): Unit = {
    val d = record(st, name).pending
    if (d >= maxPendingDepth || txnActive(st)) put(st, name, df)
    else {
      df.createOrReplaceTempView(name)
      update(st, name)(_.copy(pending = d + 1))
    }
  }

  /** Materialize every pending lazy chain of this session (transaction
    * boundaries and EXPORT need real dirs).
    */
  def flushPending(st: GraftSessionState): Unit =
    st.tables.asScala.collect { case (n, t) if t.pending > 0 => n }.toSeq
      .foreach(n => put(st, n, st.session.table(n)))

  /** Names of this session's temp tables (for EXPORT DATABASE). */
  def names(st: GraftSessionState): Seq[String] =
    st.tables.asScala.collect { case (n, t) if t.content.isDefined => n }
      .toSeq.sorted

  /** Drop the table with all its metadata (keys, defaults, comments). */
  def drop(st: GraftSessionState, name: String): Boolean =
    Option(st.tables.remove(name.toLowerCase)).flatMap(_.content) match {
      case None => false
      case Some(content) =>
        st.session.catalog.dropTempView(name.toLowerCase)
        // Inside a transaction the dropped snapshot is the ROLLBACK
        // target — deletion defers to the scratch root's JVM-exit
        // cleanup, the same lifecycle superseded mutation snapshots get.
        // (Local snapshots have no dir; the driver copy is GC'd.)
        content match {
          case Left(dir) if !txnActive(st) =>
            graft.operators.Scratch.delete(st.session, dir)
          case _ => ()
        }
        true
    }

  // --- Transactions (BEGIN/COMMIT/ROLLBACK) over the temp-table layer ---
  //
  // The mutation protocol above IS multi-version: every write lands in a
  // fresh scratch dir and re-points the fronting view, never touching
  // the superseded snapshot. A transaction is therefore just a saved
  // registry state: BEGIN copies the session's record map — O(tables)
  // driver metadata, no data copied — COMMIT discards the copy,
  // ROLLBACK drops tables created since and puts the copy back whole
  // (content, keys, defaults, comments), re-registering every captured
  // snapshot, so tables dropped since come back as they were. Scope:
  // the graft temp-table layer (catalog tables keep Spark's own
  // semantics — Spark has no transactions to coordinate with).
  // Error texts mirror DuckDB's TransactionContext errors (pinned on
  // 1.0: nested BEGIN, bare COMMIT/ROLLBACK).

  def txnActive(st: GraftSessionState): Boolean = st.txn.get != null

  def txnBegin(st: GraftSessionState): Unit = {
    flushPending(st) // BEGIN captures dirs; lazy chains must be real
    if (!st.txn.compareAndSet(null, st.tables.asScala.toMap))
      throw new IllegalStateException(
        "TransactionContext Error: cannot start a transaction within a transaction")
  }

  def txnCommit(st: GraftSessionState): Unit = {
    if (st.txn.getAndSet(null) == null)
      throw new IllegalStateException(
        "TransactionContext Error: cannot commit - no transaction is active")
  }

  def txnRollback(st: GraftSessionState): Unit = {
    val snap = st.txn.getAndSet(null)
    if (snap == null)
      throw new IllegalStateException(
        "TransactionContext Error: cannot rollback - no transaction is active")
    names(st).filterNot(n => snap.get(n).exists(_.content.isDefined))
      .foreach(drop(st, _))
    st.tables.keySet.retainAll(snap.keySet.asJava)
    st.tables.putAll(snap.asJava)
    snap.foreach { case (n, t) => t.content.foreach(register(st, n, _)) }
  }
}
