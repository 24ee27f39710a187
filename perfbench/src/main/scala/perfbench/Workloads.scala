package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.highs.{HighsFunctions, ModelInfo, ModelRegistry}
import graft.solver.{BoundedSimplex, BranchAndBound}

/** One operation: `exec` is the timed call into the engine, `check` judges
  * its result outside the timed window (None means correct).
  */
final case class Op(lane: String, exec: () => Any, check: Any => Option[String],
    after: () => Unit = () => ())

trait Workload {
  /** The operations of pass `p`, in the seeded order of that pass. */
  def pass(p: Int): Seq[Op]
  /** First result of each SQL lane, for the DuckDB oracle. */
  def firstResults: Map[String, Canon.Result] = Map.empty
}

object Workloads {
  val Tpch: Seq[String] = (1 to 22).map(i => f"tpch_q$i%02d")

  /** DuckDB-dialect statements, reads beside writes, plus one streaming
    * operator lane so that the graft.operators/graft.streaming layer is
    * measured in a judged workload. Fourteen lanes: with three to seven
    * passes in a run (42 to 98 operations) the tail is always reported at
    * p75.
    */
  val DuckScript: Seq[String] = Seq(
    // DuckDB-dialect reads
    "q54_qualify", "q34_pivot", "q65_pivot_stmt", "q29_asof_sql", "q57_select_exclude",
    "q60_columns", "q79_distinct_on", "q58_create_macro", "q90_prepare",
    // writes: a transaction with UPDATE/DELETE, and UPDATE/DELETE statements
    "q121_transaction", "q53_update_delete",
    // the reference's highs_* SQL scripts
    "highs_solve_sql", "network_flow_total",
    // graft.streaming: deduplicating micro-batches
    "events_stream_dedup")

  val PipelineOps: Seq[String] = Seq(
    "dedup_streaming_near", "dedup_incremental_near", "dedup_canonical",
    "recursive_cte_native_sql", "q132_recursive_union", "graph_reachability_sql",
    "events_stream_dedup", "events_stream_sessions")

  def apply(name: String, spark: SparkSession, data: String, seed: Long): Workload = name match {
    case "tpch" => new SqlLanes(Tpch, spark, data, seed)
    case "duck_script" => new SqlLanes(DuckScript, spark, data, seed)
    case "pipeline_ops" => new SqlLanes(PipelineOps, spark, data, seed)
    case "lp_solve" => new LpSolve(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Seeded order of `items` for pass `p`. */
  def order[T](items: Seq[T], seed: Long, p: Int): Seq[T] =
    new Random(seed * 1000003L + p).shuffle(items)
}

/** Declared engine lanes (`SparkEntry.queries`), each result collected.
  * A lane's first result is kept for the oracle; later results of the same
  * lane must equal it.
  */
final class SqlLanes(lanes: Seq[String], spark: SparkSession, data: String, seed: Long)
    extends Workload {
  private val queries = SparkEntry.queries
  private val first = scala.collection.mutable.LinkedHashMap.empty[String, Canon.Result]

  lanes.foreach(l => require(queries.contains(l), s"no declared query '$l'"))

  override def firstResults: Map[String, Canon.Result] = first.toMap

  def pass(p: Int): Seq[Op] = Workloads.order(lanes, seed, p).map { lane =>
    Op(lane, () => {
      val df = queries(lane)(spark, data)
      (df.columns.toSeq, df.collect())
    }, {
      case (cols: Seq[String] @unchecked, rows: Array[Row]) =>
        val got = Canon.of(cols, rows)
        first.get(lane) match {
          case None => first(lane) = got; None
          case Some(want) => Canon.diff(got, want).map(d => s"differs from its first result: $d")
        }
      case other => Some(s"unexpected result $other")
    })
  }
}

/** Seeded LP and MIP models: each operation registers a fresh model
  * through the registry calls and solves it with `highs_solve`; one
  * operation per pass solves a batch of small models with `solveMany`.
  */
final class LpSolve(spark: SparkSession, seed: Long) extends Workload {
  val Transport = 40
  // Per pass: LPs, MIPs and one batch. The LPs are the bulk, so the median
  // and the tail percentiles (p75/p90 at this run length) fall among them
  // rather than on the boundary between two kinds of operation.
  val LpsPerPass = 10
  val MipsPerPass = 3
  val BatchModels = 300


  /** The pass's instances, before ordering: (lane, instance seed). */
  def instances(p: Int): Seq[(String, Long)] = {
    val rnd = new Random(seed * 7919L + p)
    Seq.fill(LpsPerPass)(("transport_lp", rnd.nextLong())) ++
      Seq.fill(MipsPerPass)(("facility_mip", rnd.nextLong())) :+ (("solve_many", rnd.nextLong()))
  }

  def pass(p: Int): Seq[Op] =
    Workloads.order(instances(p), seed, p).zipWithIndex.map { case ((lane, s), i) =>
      val modelName = s"perfbench_${seed}_${p}_$i"
      lane match {
        case "transport_lp" => single(lane, LpModels.transportation(modelName, s, Transport, Transport))
        case "facility_mip" => single(lane, LpModels.facility(modelName, s, 6, 12))
        case _ => batch(s)
      }
    }

  private object Cached extends RuntimeException(null, null, false, false)

  /** True when the model already holds a solution, probed without solving. */
  private def cached(info: ModelInfo): Boolean =
    try { info.solveCached(_ => throw Cached); true } catch { case Cached => false }

  private def single(lane: String, m: LpModels.Model): Op = Op(lane, () => {
    val bad = Trace.layer("highs.model_build") { m.register() }
    if (ModelRegistry.get(m.name).exists(cached)) Trace.layer("highs.cache_hit")(())
    val rows = Trace.layer("highs.solve") {
      spark.sql(s"SELECT * FROM highs_solve('${m.name}')").collect()
    }
    (bad, rows)
  }, {
    case (bad: Seq[String] @unchecked, rows: Array[Row]) =>
      if (bad.nonEmpty) Some(s"model build failed: ${bad.head}")
      else {
        val byName = rows.map(r => r.getString(0) -> r).toMap
        val status = rows.map(_.getString(4)).distinct.toSeq
        if (status != Seq("Optimal")) Some(s"status ${status.mkString(",")}")
        else if (!m.vars.forall(byName.contains)) Some("solution misses variables")
        else {
          val x = m.vars.map(v => byName(v).getDouble(2)).toArray
          val d = m.vars.map(v => byName(v).getDouble(3)).toArray
          if (lane == "transport_lp") LpModels.kkt(m, x, d)
          else LpModels.checkMip(m, x, LpModels.enumerate(m))
        }
      }
    case other => Some(s"unexpected result $other")
  }, () => {
    // Traced runs time the solver itself on the registered model, outside
    // the operation's span.
    if (Trace.enabled) ModelRegistry.get(m.name).foreach { info =>
      val lm = info.toLinearModel
      val op = Trace.currentOp
      val t0 = Trace.nowMs()
      val sol = BranchAndBound.solve(lm)
      val t1 = Trace.nowMs()
      Trace.record("solver.solve", op, Stats.Interval(t0, t1), 1)
      if (lm.hasIntegers) Trace.record("solver.mip_nodes", op, Stats.Interval(t0, t1), sol.nodes)
      else {
        val lp = BoundedSimplex.solve(lm)
        Trace.record("solver.lp", op, Stats.Interval(t1, Trace.nowMs()), lp.iterations)
      }
    }
    ModelRegistry.remove(m.name)
  })

  /** A batch of small transportation models, solved by `solveMany`. */
  private def batch(s: Long): Op = {
    val rnd = new Random(s)
    val models = (0 until BatchModels).map { k =>
      LpModels.transportation(f"batch_$k%04d", rnd.nextLong(), 3, 4)
    }
    import spark.implicits._
    val vars = models.flatMap(m => m.vars.indices.map(j =>
      (m.name, m.vars(j), m.lower(j), m.upper(j), m.cost(j), m.kinds(j))))
      .toDF("model_name", "variable_name", "lower_bound", "upper_bound", "obj_coefficient", "var_type")
    val cons = models.flatMap(m => m.rows.indices.map(i => (m.name, m.rows(i), m.rowLower(i), m.rowUpper(i))))
      .toDF("model_name", "constraint_name", "lower_bound", "upper_bound")
    val coef = models.flatMap(m => m.coeffs.map { case (i, j, a) => (m.name, m.rows(i), m.vars(j), a) })
      .toDF("model_name", "constraint_name", "variable_name", "coefficient")
    Op("solve_many", () => {
      val t0 = Trace.nowMs()
      val out = HighsFunctions.solveMany(spark, vars, cons, coef).collect()
      Trace.record("solver.solve_many", Trace.currentOp, Stats.Interval(t0, Trace.nowMs()), models.length)
      out
    }, {
      case out: Array[HighsFunctions.SolvedVar] @unchecked =>
        val byModel = out.groupBy(_.model_name)
        models.iterator.map { m =>
          byModel.get(m.name) match {
            case None => Some(s"${m.name}: no rows")
            case Some(vs) if vs.exists(_.status != "Optimal") => Some(s"${m.name}: status ${vs.head.status}")
            case Some(vs) =>
              val x = m.vars.map(v => vs.find(_.variable_name == v).map(_.solution_value).getOrElse(Double.NaN)).toArray
              LpModels.feasible(m, x).orElse(LpModels.lpOptimum(m, Map.empty) match {
                case None => Some("infeasible by commons-math")
                case Some(best) if math.abs(m.objective(x) - best) > 1e-6 * math.max(1.0, math.abs(best)) =>
                  Some(f"objective ${m.objective(x)}%.6f, optimum $best%.6f")
                case _ => None
              }).map(e => s"${m.name}: $e")
          }
        }.collectFirst { case Some(e) => e }
      case other => Some(s"unexpected result $other")
    })
  }
}
