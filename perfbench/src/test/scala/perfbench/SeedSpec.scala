package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.solver.{BoundedSimplex, BranchAndBound, LinearModel, VarKind}

class SeedSpec extends AnyFunSuite {

  private def same(a: LpModels.Model, b: LpModels.Model): Boolean =
    a.vars == b.vars && a.rows == b.rows && a.coeffs == b.coeffs && a.kinds == b.kinds &&
      a.cost.sameElements(b.cost) && a.lower.sameElements(b.lower) && a.upper.sameElements(b.upper) &&
      a.rowLower.sameElements(b.rowLower) && a.rowUpper.sameElements(b.rowUpper)

  private def linear(m: LpModels.Model) = LinearModel(m.vars.length, m.rows.length, m.cost,
    m.lower, m.upper, m.rowLower, m.rowUpper, m.coeffs.toArray, m.kinds.map(VarKind.fromString).toArray)

  test("the same seed gives the same LP and MIP instances") {
    assert(same(LpModels.transportation("a", 42, 5, 6), LpModels.transportation("a", 42, 5, 6)))
    assert(same(LpModels.facility("a", 42, 4, 7), LpModels.facility("a", 42, 4, 7)))
    assert(!same(LpModels.transportation("a", 42, 5, 6), LpModels.transportation("a", 43, 5, 6)))
  }

  test("the same seed gives the same operation order and instance seeds") {
    val lanes = (1 to 22).map(i => s"lane$i")
    assert(Workloads.order(lanes, 7, 3) == Workloads.order(lanes, 7, 3))
    assert(Workloads.order(lanes, 7, 3) != Workloads.order(lanes, 8, 3))
    assert(Workloads.order(lanes, 7, 3).sorted == lanes.sorted)
    val a = new LpSolve(null, 11)
    val b = new LpSolve(null, 11)
    assert(a.instances(0) == b.instances(0))
    assert(a.instances(0) != a.instances(1))
    assert(a.instances(0) != new LpSolve(null, 12).instances(0))
  }

  test("transportation instances are feasible with slack supply") {
    val m = LpModels.transportation("t", 5, 3, 4)
    val supply = m.rowUpper.take(3).sum
    val demand = m.rowLower.drop(3).sum
    assert(supply >= 1.25 * demand)
  }

  test("the KKT check accepts an optimal LP answer and rejects a worse one") {
    val m = LpModels.transportation("t", 9, 6, 6)
    val sol = BoundedSimplex.solve(linear(m))
    assert(LpModels.kkt(m, sol.x, sol.reducedCost).isEmpty)
    assert(math.abs(m.objective(sol.x) - LpModels.lpOptimum(m, Map.empty).get) < 1e-6)
    // Shift one unit of flow onto a dearer route from the same source.
    val x = sol.x.clone()
    val from = x.indices.find(j => x(j) > 1.0).get
    val row = from / 6
    val to = (row * 6 until row * 6 + 6).find(j => j != from && m.cost(j) > m.cost(from)).get
    x(from) -= 1.0; x(to) += 1.0
    val d = m.cost.clone()
    assert(LpModels.kkt(m, x, d).nonEmpty)
  }

  test("enumeration agrees with branch and bound on facility location") {
    val m = LpModels.facility("f", 3, 4, 8)
    val sol = BranchAndBound.solve(linear(m))
    assert(LpModels.checkMip(m, sol.x, LpModels.enumerate(m)).isEmpty)
    val worse = sol.x.clone()
    val closed = m.kinds.indices.find(j => m.kinds(j) == "binary" && worse(j) == 0.0).get
    worse(closed) = 1.0
    assert(LpModels.checkMip(m, worse, LpModels.enumerate(m)).nonEmpty)
  }
}
