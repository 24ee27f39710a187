package graft.highs

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import graft.solver.{LinearModel, MipSolution, VarKind}

/** Incrementally built LP/MIP, mirroring the reference's `HighsModelInfo`
  * (/root/reference/src/highs_extension.cpp:26-44): name->index maps for
  * variables and constraints, per-variable bounds/costs/types, per-row
  * range bounds, and a COO coefficient list. Objective sense is always
  * minimize (highs_extension.cpp:43 — the reference has no maximize API).
  *
  * Mutation happens eagerly on the driver (the reference's table functions
  * are statement-at-a-time eager; deferring behind Spark's lazy evaluation
  * would reorder side effects — SURVEY.md §3 E2). Models are KB-scale
  * metadata, so driver residency is the right distribution choice; the
  * many-model scale path solves per-group on executors (see
  * HighsFunctions.solveMany).
  */
final class ModelInfo(val name: String) {
  val varIndex = new mutable.LinkedHashMap[String, Int]
  val varNames = new mutable.ArrayBuffer[String]
  val varLower = new mutable.ArrayBuffer[Double]
  val varUpper = new mutable.ArrayBuffer[Double]
  val objCoeff = new mutable.ArrayBuffer[Double]
  val varTypes = new mutable.ArrayBuffer[String]

  val conIndex = new mutable.LinkedHashMap[String, Int]
  val conNames = new mutable.ArrayBuffer[String]
  val rowLower = new mutable.ArrayBuffer[Double]
  val rowUpper = new mutable.ArrayBuffer[Double]

  /** (rowIdx, colIdx, coeff) — appended in call order like the reference. */
  val coeffs = new mutable.ArrayBuffer[(Int, Int, Double)]

  /** Last solve result, invalidated by any mutation. The reference
    * re-runs HiGHS on EVERY scan of highs_solve (per-scan state,
    * highs_extension.cpp:541, :719-722) — an explicit BASELINE.md
    * improvement target; we solve once per model revision.
    */
  @volatile private var cachedSolution: Option[MipSolution] = None

  def solveCached(solve: LinearModel => MipSolution): MipSolution = synchronized {
    cachedSolution match {
      case Some(s) => s
      case None =>
        val s = solve(toLinearModel)
        cachedSolution = Some(s)
        s
    }
  }

  def addVariable(vn: String, lb: Double, ub: Double, obj: Double, tpe: String): Int =
    synchronized {
      if (varIndex.contains(vn))
        throw new IllegalStateException(
          s"Variable '$vn' already exists in model '$name'")
      val idx = varNames.size
      varIndex(vn) = idx
      varNames += vn; varLower += lb; varUpper += ub
      objCoeff += obj; varTypes += tpe
      cachedSolution = None
      idx
    }

  def addConstraint(cn: String, lb: Double, ub: Double): Int = synchronized {
    if (conIndex.contains(cn))
      throw new IllegalStateException(
        s"Constraint '$cn' already exists in model '$name'")
    val idx = conNames.size
    conIndex(cn) = idx
    conNames += cn; rowLower += lb; rowUpper += ub
    cachedSolution = None
    idx
  }

  def setCoefficient(cn: String, vn: String, coeff: Double): Unit = synchronized {
    val vi = varIndex.getOrElse(vn,
      throw new IllegalStateException(s"Variable '$vn' not found in model '$name'"))
    val ci = conIndex.getOrElse(cn,
      throw new IllegalStateException(s"Constraint '$cn' not found in model '$name'"))
    coeffs += ((ci, vi, coeff))
    cachedSolution = None
  }

  def toLinearModel: LinearModel = synchronized {
    LinearModel(
      nCols = varNames.size,
      nRows = conNames.size,
      colCost = objCoeff.toArray,
      colLower = varLower.toArray,
      colUpper = varUpper.toArray,
      rowLower = rowLower.toArray,
      rowUpper = rowUpper.toArray,
      entries = coeffs.toArray,
      kinds = varTypes.map(VarKind.fromString).toArray
    )
  }
}

/** Process-global, name-keyed model registry — the Spark-native equivalent
  * of the reference's mutex-guarded `HighsModelRegistry` singleton
  * (highs_extension.cpp:46-76). Unlike the reference (whose RemoveModel is
  * unreachable from SQL), `remove`/`clear` are part of the public API so
  * models can be rebuilt in long-lived sessions.
  *
  * Process-global on purpose: the reference's registry is one singleton
  * shared by every DuckDB connection, so a model built in one Spark
  * session is visible to (and solvable from) every other. The dialect
  * state DuckDB scopes to a connection — temp tables, sequences,
  * prepared statements — lives per session in
  * [[graft.sql.GraftSessionState]] instead.
  */
object ModelRegistry {
  private val models = new ConcurrentHashMap[String, ModelInfo]()

  def getOrCreate(name: String): ModelInfo =
    models.computeIfAbsent(name, new ModelInfo(_))

  def get(name: String): Option[ModelInfo] = Option(models.get(name))

  def remove(name: String): Boolean = models.remove(name) != null

  def clear(): Unit = models.clear()

  def names: Seq[String] = {
    import scala.jdk.CollectionConverters._
    models.keySet().asScala.toSeq.sorted
  }
}
