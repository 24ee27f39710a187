package perfbench

import scala.util.Random

import org.apache.commons.math3.linear.{Array2DRowRealMatrix, ArrayRealVector, QRDecomposition}
import org.apache.commons.math3.optim.linear._
import org.apache.commons.math3.optim.nonlinear.scalar.GoalType
import org.apache.commons.math3.optim.MaxIter

import graft.highs.HighsFunctions

/** Seeded LP/MIP instances, built through the engine's public registry
  * calls, and answers checked without the engine's solver.
  *
  * A model is minimise c'x subject to rowLower <= Ax <= rowUpper and
  * colLower <= x <= colUpper, the range form the registry stores.
  */
object LpModels {
  val Inf = 1e30

  final case class Model(
      name: String,
      vars: IndexedSeq[String],
      lower: Array[Double], upper: Array[Double], cost: Array[Double],
      kinds: IndexedSeq[String],
      rows: IndexedSeq[String],
      rowLower: Array[Double], rowUpper: Array[Double],
      coeffs: IndexedSeq[(Int, Int, Double)]) {
    /** Registers the model through the public registry calls. Returns the
      * rows whose status is not SUCCESS (none expected).
      */
    def register(): Seq[String] = {
      val bad = Seq.newBuilder[String]
      vars.indices.foreach { j =>
        HighsFunctions.createVariablesRows(name, vars(j), lower(j), upper(j), cost(j), kinds(j))
          .foreach(r => if (r.getString(2) != "SUCCESS") bad += r.getString(2))
      }
      rows.indices.foreach { i =>
        HighsFunctions.createConstraintsRows(name, rows(i), rowLower(i), rowUpper(i))
          .foreach(r => if (r.getString(2) != "SUCCESS") bad += r.getString(2))
      }
      coeffs.foreach { case (i, j, a) =>
        HighsFunctions.setCoefficientsRows(name, rows(i), vars(j), a)
          .foreach(r => if (r.getString(3) != "SUCCESS") bad += r.getString(3))
      }
      bad.result()
    }

    def objective(x: Array[Double]): Double = x.indices.map(j => cost(j) * x(j)).sum

    def activity(x: Array[Double]): Array[Double] = {
      val ax = new Array[Double](rows.length)
      coeffs.foreach { case (i, j, a) => ax(i) += a * x(j) }
      ax
    }
  }

  /** Transportation LP: `s` sources with supplies, `d` destinations with
    * demands, total supply above total demand, integer unit costs.
    */
  def transportation(name: String, seed: Long, s: Int, d: Int): Model = {
    val rnd = new Random(seed)
    val demand = Array.fill(d)(20 + rnd.nextInt(31).toDouble)
    val raw = Array.fill(s)(40 + rnd.nextInt(41).toDouble)
    // Total supply at least 1.25 times total demand, so every instance is
    // feasible and some supply rows stay slack.
    val scale = math.max(1.0, 1.25 * demand.sum / raw.sum)
    val supply = raw.map(v => math.ceil(v * scale))
    val vars = for (i <- 0 until s; j <- 0 until d) yield s"x_${i}_$j"
    val cost = Array.fill(s * d)(1 + rnd.nextInt(40).toDouble)
    val rows = (0 until s).map(i => s"supply_$i") ++ (0 until d).map(j => s"demand_$j")
    val coeffs = for (i <- 0 until s; j <- 0 until d) yield Seq((i, i * d + j, 1.0), (s + j, i * d + j, 1.0))
    Model(name, vars, Array.fill(s * d)(0.0), Array.fill(s * d)(Inf), cost,
      IndexedSeq.fill(s * d)("continuous"), rows,
      Array.fill(s)(-Inf) ++ demand, supply ++ Array.fill(d)(Inf), coeffs.flatten)
  }

  /** Capacitated facility location: open facility i at a fixed cost, serve
    * each customer's demand from open facilities, capacity per facility.
    * Variables y_i are binary; x_i_j (share of customer j served by i) are
    * continuous in [0, 1].
    */
  def facility(name: String, seed: Long, f: Int, c: Int): Model = {
    val rnd = new Random(seed)
    val demand = Array.fill(c)(5 + rnd.nextInt(16).toDouble)
    val total = demand.sum
    val cap = Array.fill(f)(math.ceil(total * (0.3 + 0.3 * rnd.nextDouble())))
    val fixed = Array.fill(f)(100 + rnd.nextInt(200).toDouble)
    val unit = Array.fill(f, c)(1 + rnd.nextInt(20).toDouble)
    val ys = (0 until f).map(i => s"y_$i")
    val xs = for (i <- 0 until f; j <- 0 until c) yield s"x_${i}_$j"
    val cost = fixed ++ (for (i <- 0 until f; j <- 0 until c) yield unit(i)(j) * demand(j))
    val rows = (0 until c).map(j => s"serve_$j") ++ (0 until f).map(i => s"cap_$i")
    val serve = for (j <- 0 until c; i <- 0 until f) yield (j, f + i * c + j, 1.0)
    val capRows = (0 until f).flatMap { i =>
      (0 until c).map(j => (c + i, f + i * c + j, demand(j))) :+ ((c + i, i, -cap(i)))
    }
    Model(name, ys ++ xs,
      Array.fill(f + f * c)(0.0), Array.fill(f + f * c)(1.0), cost,
      IndexedSeq.fill(f)("binary") ++ IndexedSeq.fill(f * c)("continuous"), rows,
      Array.fill(c)(1.0) ++ Array.fill(f)(-Inf), Array.fill(c)(1.0) ++ Array.fill(f)(0.0),
      serve ++ capRows)
  }

  private val Tol = 1e-6

  private def scaleTol(v: Double): Double = Tol * math.max(1.0, math.abs(v))

  /** Primal feasibility of `x` within a relative tolerance. */
  def feasible(m: Model, x: Array[Double]): Option[String] = {
    val ax = m.activity(x)
    val badCol = x.indices.find(j =>
      x(j) < m.lower(j) - scaleTol(m.lower(j)) || x(j) > m.upper(j) + scaleTol(m.upper(j)))
    val badRow = ax.indices.find(i =>
      (m.rowLower(i) > -Inf && ax(i) < m.rowLower(i) - scaleTol(m.rowLower(i))) ||
        (m.rowUpper(i) < Inf && ax(i) > m.rowUpper(i) + scaleTol(m.rowUpper(i))))
    badCol.map(j => s"${m.vars(j)}=${x(j)} outside its bounds")
      .orElse(badRow.map(i => s"row ${m.rows(i)}=${ax(i)} outside its bounds"))
  }

  /** Optimality certificate for an LP answer (`x`, reduced costs `d`):
    * primal feasibility, row duals y with A'y = c - d (solved here by least
    * squares, inactive rows pinned to 0), and complementary slackness with
    * the right signs for columns and rows.
    */
  def kkt(m: Model, x: Array[Double], d: Array[Double]): Option[String] = {
    feasible(m, x).orElse {
      val n = m.vars.length
      val r = m.rows.length
      val ax = m.activity(x)
      def atLo(i: Int) = m.rowLower(i) > -Inf && math.abs(ax(i) - m.rowLower(i)) <= scaleTol(m.rowLower(i))
      def atHi(i: Int) = m.rowUpper(i) < Inf && math.abs(ax(i) - m.rowUpper(i)) <= scaleTol(m.rowUpper(i))
      val inactive = (0 until r).filter(i => !atLo(i) && !atHi(i))
      val a = new Array2DRowRealMatrix(n + inactive.length, r)
      m.coeffs.foreach { case (i, j, v) => a.addToEntry(j, i, v) }
      inactive.zipWithIndex.foreach { case (i, k) => a.setEntry(n + k, i, 1.0) }
      val rhs = new ArrayRealVector(n + inactive.length)
      (0 until n).foreach(j => rhs.setEntry(j, m.cost(j) - d(j)))
      val y = new QRDecomposition(a).getSolver.solve(rhs)
      val resid = a.operate(y).subtract(rhs).getLInfNorm
      val dualTol = 1e-5 * math.max(1.0, m.cost.map(math.abs).max)
      if (resid > dualTol) Some(f"no row duals reproduce the reduced costs (residual $resid%.3g)")
      else {
        val badCol = (0 until n).find { j =>
          val lo = math.abs(x(j) - m.lower(j)) <= scaleTol(m.lower(j))
          val hi = m.upper(j) < Inf && math.abs(x(j) - m.upper(j)) <= scaleTol(m.upper(j))
          if (lo && hi) false
          else if (lo) d(j) < -dualTol
          else if (hi) d(j) > dualTol
          else math.abs(d(j)) > dualTol
        }
        val badRow = (0 until r).find { i =>
          val yi = y.getEntry(i)
          (yi > dualTol && !atLo(i)) || (yi < -dualTol && !atHi(i))
        }
        badCol.map(j => s"reduced cost ${d(j)} of ${m.vars(j)} has the wrong sign")
          .orElse(badRow.map(i => s"row dual ${y.getEntry(i)} of ${m.rows(i)} has the wrong sign"))
      }
    }
  }

  /** Optimal objective of the continuous relaxation with some columns
    * fixed, by commons-math's simplex. None when infeasible.
    */
  def lpOptimum(m: Model, fixed: Map[Int, Double]): Option[Double] = {
    val n = m.vars.length
    val cons = new java.util.ArrayList[LinearConstraint]()
    def row(entries: Seq[(Int, Double)]): Array[Double] = {
      val a = new Array[Double](n)
      entries.foreach { case (j, v) => a(j) += v }
      a
    }
    m.coeffs.groupBy(_._1).foreach { case (i, es) =>
      val a = row(es.map(e => (e._2, e._3)))
      if (m.rowLower(i) > -Inf && m.rowLower(i) == m.rowUpper(i))
        cons.add(new LinearConstraint(a, Relationship.EQ, m.rowLower(i)))
      else {
        if (m.rowLower(i) > -Inf) cons.add(new LinearConstraint(a, Relationship.GEQ, m.rowLower(i)))
        if (m.rowUpper(i) < Inf) cons.add(new LinearConstraint(a, Relationship.LEQ, m.rowUpper(i)))
      }
    }
    (0 until n).foreach { j =>
      fixed.get(j) match {
        case Some(v) => cons.add(new LinearConstraint(row(Seq(j -> 1.0)), Relationship.EQ, v))
        case None =>
          if (m.upper(j) < Inf) cons.add(new LinearConstraint(row(Seq(j -> 1.0)), Relationship.LEQ, m.upper(j)))
          if (m.lower(j) > 0) cons.add(new LinearConstraint(row(Seq(j -> 1.0)), Relationship.GEQ, m.lower(j)))
      }
    }
    try {
      val sol = new SimplexSolver().optimize(new MaxIter(100000),
        new LinearObjectiveFunction(m.cost, 0.0), new LinearConstraintSet(cons),
        GoalType.MINIMIZE, new NonNegativeConstraint(true))
      Some(sol.getValue)
    } catch { case _: NoFeasibleSolutionException => None }
  }

  /** Optimal objective of a facility-location MIP by enumerating every
    * open/closed choice of its binary columns.
    */
  def enumerate(m: Model): Option[Double] = {
    val bins = m.kinds.indices.filter(m.kinds(_) == "binary")
    (0 until (1 << bins.length)).flatMap { mask =>
      lpOptimum(m, bins.zipWithIndex.map { case (j, b) => j -> ((mask >> b) & 1).toDouble }.toMap)
    }.minOption
  }

  /** Checks a MIP answer: feasible, integral binaries, objective equal to
    * the enumerated optimum.
    */
  def checkMip(m: Model, x: Array[Double], optimum: Option[Double]): Option[String] =
    feasible(m, x).orElse {
      val frac = m.kinds.indices.find(j => m.kinds(j) == "binary" && math.abs(x(j) - math.rint(x(j))) > Tol)
      frac.map(j => s"${m.vars(j)}=${x(j)} is not integral").orElse(optimum match {
        case None => Some("enumeration found no feasible choice")
        case Some(best) =>
          val got = m.objective(x)
          if (math.abs(got - best) > scaleTol(best)) Some(f"objective $got%.6f, enumerated optimum $best%.6f")
          else None
      })
    }
}
