package graft.sql

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The DuckDB-dialect state of ONE Spark session: temp tables and their
  * transaction snapshot, ENUM types, sequences, macro signatures,
  * prepared statements, ATTACHed database names and the testdata-view
  * memo. DuckDB scopes all of these to a connection; here they live and
  * die with the session. [[GraftSparkExtensions]] builds one holder per
  * session as a no-op analyzer check rule — the one per-session slot
  * Spark gives an extension that code holding only the session can read
  * back — so the session's own SessionState is the only strong path to
  * it. A dropped session takes its holder, and the DataFrames the holder
  * keeps (which point back at the session), with it.
  *
  * Three ways in: the parser reads the holder of the session it was
  * built for; table-function builders, which Spark hands no session,
  * read the active one's ([[active]]); task-side expressions
  * (nextval/currval) carry the [[id]] captured at analysis and resolve
  * it through a weak-valued index ([[byId]]) — a task thread's active
  * session is whichever session started the thread, not the one that
  * analyzed the statement.
  *
  * The maps are concurrent: EXPORT DATABASE, and any caller that runs
  * one session's statements from several threads, touch them at once.
  * The HiGHS model registry is not here: the reference keeps it
  * process-wide, and so does [[graft.highs.ModelRegistry]].
  */
final class GraftSessionState(val session: SparkSession)
    extends (LogicalPlan => Unit) {
  /** Temp-table records by lowercased name ([[TempTables]]). */
  val tables = new ConcurrentHashMap[String, TempTables.Table]()
  /** BEGIN's copy of [[tables]]; null outside a transaction. */
  val txn = new AtomicReference[Map[String, TempTables.Table]]()
  /** ENUM name → members in definition order ([[EnumTypes]]). */
  val enums = new ConcurrentHashMap[String, Seq[String]]()
  val sequences = new ConcurrentHashMap[String, Sequences.Sequence]()
  /** Macro name → ordered (parameter, default text) ([[MacroRewrite]]). */
  val macros = new ConcurrentHashMap[String, Vector[(String, Option[String])]]()
  /** PREPARE name → statement template ([[PrepareRewrite]]). */
  val prepared = new ConcurrentHashMap[String, String]()
  /** Databases ATTACH created; DETACH drops only these. */
  val attached: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  /** [[graft.Engine.registerViews]] memo, (sfDir, tables that failed);
    * guarded by this holder's lock.
    */
  var views: (String, Set[String]) = (null, Set.empty)

  val id: Long = GraftSessionState.register(this)

  /** The check-rule face: checks nothing. */
  override def apply(plan: LogicalPlan): Unit = ()
}

object GraftSessionState {

  private val ids = new AtomicLong
  private val index =
    new ConcurrentHashMap[Long, java.lang.ref.WeakReference[GraftSessionState]]()

  private def register(st: GraftSessionState): Long = {
    index.values.removeIf(_.get == null)
    val id = ids.incrementAndGet()
    index.put(id, new java.lang.ref.WeakReference(st))
    id
  }

  def of(spark: SparkSession): GraftSessionState =
    spark.sessionState.analyzer.extendedCheckRules.collectFirst {
      case st: GraftSessionState => st
    }.getOrElse(throw new IllegalStateException(
      "graft.sql.GraftSparkExtensions is not installed on this session"))

  def active: GraftSessionState = of(SparkSession.active)

  def byId(id: Long): GraftSessionState =
    Option(index.get(id)).flatMap(r => Option(r.get)).getOrElse(
      throw new IllegalStateException(
        "the session that analyzed this statement is gone"))
}
