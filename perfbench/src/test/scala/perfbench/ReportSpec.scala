package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Report.{JobRec, OpRec}
import Stats.Interval

class ReportSpec extends AnyFunSuite {

  private def job(tag: String, s: Double, e: Double) =
    JobRec(tag, Interval(s, e), 1, 4, 40.0, 30.0, 0L, 0L, 0L, 0L)

  test("an eagerly executed command is a child of the analysis that runs it") {
    // Outer statement: analysis 100-200 runs a command (execution 120-190)
    // whose own QueryExecution plans 125-135 and whose job runs 140-180.
    val op = OpRec("0.0", "lane", Interval(100, 210), None)
    val phases = Seq(
      Trace.Phase(1, "analysis", Interval(100, 200)),
      Trace.Phase(2, "optimization", Interval(125, 130)),
      Trace.Phase(2, "planning", Interval(130, 135)),
      Trace.Phase(1, "optimization", Interval(200, 205)))
    val s = Report.split(Seq(op), Seq(job("0.0", 140, 180)), phases, Seq(Interval(120, 190))).head
    // 100 ms of analysis minus the 70 ms command execution it holds.
    assert(s.phaseSelf("analysis") == 30.0)
    assert(s.phaseSelf("optimization") == 5.0 + 5.0)
    assert(s.phaseSelf("planning") == 5.0)
    assert(s.jobMs == 40.0)
    // Wall 110 - job 40 - planning phases (30 + 10 + 5): the rest is the
    // command's driver-side work and the time after the last phase.
    assert(s.gapMs == 110.0 - 40.0 - 45.0)
  }

  test("jobs attach to operations by tag, not by time") {
    val a = OpRec("0.0", "a", Interval(0, 100), None)
    val b = OpRec("0.1", "b", Interval(100, 200), None)
    val splits = Report.split(Seq(a, b), Seq(job("0.1", 10, 20), job("0.0", 30, 50)), Nil, Nil)
    assert(splits.map(_.jobMs) == Seq(20.0, 0.0))
  }

  test("failed operations are attempted but not completed") {
    val ops = Seq(
      OpRec("0.0", "a", Interval(0, 1000), None),
      OpRec("0.1", "a", Interval(1000, 2000), Some("threw")),
      OpRec("0.2", "b", Interval(2000, 3000), Some("differs from its first result")),
      OpRec("0.3", "b", Interval(3000, 4000), None))
    val m = Report.endToEnd(ops)
    assert(m("ops") == 4.0)
    assert(m("ops_per_s") == 2.0 / 4.0)
    assert(m("op_p50_ms") == 1000.0)
  }

  test("layer metrics are per operation and shares carry their base") {
    val ops = Seq(OpRec("0.0", "dedup_canonical", Interval(0, 100), None),
      OpRec("0.1", "dedup_canonical", Interval(100, 300), None))
    val jobs = Seq(job("0.0", 10, 60), job("0.1", 150, 250), job(null, 20, 30))
    val m = Report.layers(ops, jobs, Nil, Nil, Nil, Nil, Seq("dedup_canonical"))
    assert(m("trace.op_wall_ms") == 150.0)
    assert(m("spark.jobs") == 1.0)
    assert(m("spark.job_ms") == 75.0)
    assert(m("driver.gap_share") == 150.0 / 300.0)
    assert(m("trace.untagged_jobs") == 1.0)
    assert(m("op.dedup_canonical_ms") == 150.0)
  }
}
