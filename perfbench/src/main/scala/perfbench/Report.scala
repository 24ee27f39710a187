package perfbench

import Stats.{Interval, median, unionLength}

/** Turns the recorded operations and spans into the benchmark's metrics. */
object Report {

  final case class OpRec(id: String, lane: String, span: Interval, error: Option[String]) {
    def ms: Double = span.length
  }

  final case class JobRec(tag: String, span: Interval, stages: Int, tasks: Int,
      taskMs: Double, cpuMs: Double, shuffleWrite: Long, spill: Long, input: Long, output: Long)

  /** End-to-end metrics of one run, from its operation records. */
  def endToEnd(ops: Seq[OpRec]): Map[String, Double] = {
    val lat = ops.map(_.ms)
    val (tailPct, tail) = Stats.tail(lat)
    Map(
      "ops_per_s" -> ops.count(_.error.isEmpty) / (lat.sum / 1000.0),
      "op_p50_ms" -> median(lat),
      "op_tail_ms" -> tail,
      "op_tail_pct" -> tailPct,
      "ops" -> ops.length.toDouble)
  }

  private def within(outer: Interval, inner: Interval): Boolean =
    inner.start >= outer.start && inner.end <= outer.end

  /** The parts of `span` its children do not cover. */
  def selfPieces(span: Interval, children: Seq[Interval]): Seq[Interval] = {
    val cs = children.map(_.clip(span)).filter(_.length > 0).sortBy(_.start)
    val out = Seq.newBuilder[Interval]
    var at = span.start
    cs.foreach { c =>
      if (c.start > at) out += Interval(at, c.start)
      at = math.max(at, c.end)
    }
    if (span.end > at) out += Interval(at, span.end)
    out.result()
  }

  /** Per-operation layer split. Planning phases and SQL executions are
    * assigned to the operation whose interval holds them; jobs by their tag.
    * A phase's self time excludes the phases of other QueryExecutions, the
    * SQL executions and the jobs nested inside it, so an eagerly executed
    * command counts as a child, not as analysis.
    */
  final case class Split(op: OpRec, phaseSelf: Map[String, Double], jobMs: Double,
      gapMs: Double, jobs: Seq[JobRec], statements: Int)

  /** Phase intervals are whole milliseconds, so an operation claims the
    * phases that fall within it widened by this slack.
    */
  val SlackMs = 1.0

  def split(ops: Seq[OpRec], jobs: Seq[JobRec], phases: Seq[Trace.Phase],
      execs: Seq[Interval]): Seq[Split] = {
    val byTag = jobs.groupBy(_.tag)
    ops.map { op =>
      val window = Interval(op.span.start - SlackMs, op.span.end + SlackMs)
      val opJobs = byTag.getOrElse(op.id, Nil)
      val opPhases = phases.filter(p => within(window, p.span))
      val opExecs = execs.filter(within(window, _))
      val pieces = opPhases.map { p =>
        val children = opPhases.filter(q => q.qe != p.qe && within(p.span, q.span)).map(_.span) ++
          opJobs.map(_.span).filter(within(p.span, _)) ++ opExecs.filter(within(p.span, _))
        p.name -> selfPieces(p.span, children)
      }
      val phaseSelf = pieces.groupBy(_._1).map { case (k, v) => k -> v.flatMap(_._2).map(_.length).sum }
      val jobSpans = opJobs.map(_.span.clip(op.span))
      val covered = unionLength(jobSpans ++ pieces.flatMap(_._2).map(_.clip(op.span)))
      Split(op, phaseSelf, unionLength(jobSpans), math.max(0.0, op.ms - covered), opJobs,
        opPhases.count(_.name == "parsing"))
    }
  }

  /** Layer metrics of a traced run, each a mean per operation unless its
    * name says otherwise.
    */
  def layers(ops: Seq[OpRec], jobs: Seq[JobRec], phases: Seq[Trace.Phase], execs: Seq[Interval],
      batches: Seq[Trace.Batch], layerSpans: Seq[Trace.Layer],
      pipelineLanes: Seq[String]): Map[String, Double] = {
    val n = ops.length.toDouble
    val wall = ops.map(_.ms).sum
    val splits = split(ops, jobs, phases, execs)
    def total(f: Split => Double) = splits.map(f).sum
    def phase(name: String) = total(_.phaseSelf.getOrElse(name, 0.0))
    val opJobs = splits.flatMap(_.jobs)
    def jobSum(f: JobRec => Double) = opJobs.map(f).sum
    // Jobs with no tag, or with the tag of an operation they did not run
    // inside (a thread that inherited a stale tag).
    val window = Interval(ops.map(_.span.start).min, ops.map(_.span.end).max)
    val spans = ops.map(o => o.id -> o.span).toMap
    val untagged = jobs.count { j =>
      if (j.tag == null) within(window, j.span)
      else spans.get(j.tag).exists(s => !within(Interval(s.start - SlackMs, s.end + SlackMs), j.span))
    }
    val opBatches = batches.filter(b => ops.exists(o => within(o.span, Interval(b.at, b.at))))
    def layer(name: String) = layerSpans.filter(_.name == name)
    def layerMs(name: String) = layer(name).map(_.span.length).sum
    val gap = total(_.gapMs)
    val parse = phase("parsing")
    val solverMs = layerMs("solver.solve")
    val lpSolves = layer("solver.lp")
    val lpIters = lpSolves.map(_.count).sum.toDouble
    val mipNodes = layer("solver.mip_nodes")
    val solveMany = layer("solver.solve_many").map(_.span.length)
    val laneMedians = pipelineLanes.map { lane =>
      val xs = ops.filter(_.lane == lane).map(_.ms)
      s"op.${lane}_ms" -> (if (xs.isEmpty) 0.0 else median(xs))
    }
    Map(
      "trace.ops" -> n,
      "trace.op_wall_ms" -> wall / n,
      "trace.ops_per_s" -> ops.count(_.error.isEmpty) / (wall / 1000.0),
      "trace.untagged_jobs" -> untagged.toDouble,
      "sql.parse_ms" -> parse / n,
      "sql.parse_share" -> parse / wall,
      "sql.statements" -> total(_.statements) / n,
      "catalyst.analysis_ms" -> phase("analysis") / n,
      "catalyst.optimization_ms" -> phase("optimization") / n,
      "catalyst.planning_ms" -> phase("planning") / n,
      "spark.jobs" -> opJobs.length / n,
      "spark.stages" -> jobSum(_.stages) / n,
      "spark.tasks" -> jobSum(_.tasks) / n,
      "spark.job_ms" -> total(_.jobMs) / n,
      "spark.task_ms" -> jobSum(_.taskMs) / n,
      "spark.task_cpu_ms" -> jobSum(_.cpuMs) / n,
      "spark.shuffle_write_bytes" -> jobSum(_.shuffleWrite.toDouble) / n,
      "spark.spill_bytes" -> jobSum(_.spill.toDouble) / n,
      "spark.input_bytes" -> jobSum(_.input.toDouble) / n,
      "spark.output_bytes" -> jobSum(_.output.toDouble) / n,
      "driver.gap_ms" -> gap / n,
      "driver.gap_share" -> gap / wall,
      "streaming.batches" -> opBatches.length / n,
      "streaming.empty_batches" -> opBatches.count(_.rows == 0) / n,
      "streaming.useful_batch_ratio" ->
        (if (opBatches.isEmpty) 0.0 else opBatches.count(_.rows > 0).toDouble / opBatches.length),
      "streaming.batch_p50_ms" -> (if (opBatches.isEmpty) 0.0 else median(opBatches.map(_.ms))),
      "streaming.rows_in" -> opBatches.map(_.rows).sum / n,
      "highs.model_build_ms" -> layerMs("highs.model_build") / n,
      "highs.solve_ms" -> layerMs("highs.solve") / n,
      "highs.cache_hits" -> layer("highs.cache_hit").length.toDouble,
      "solver.solve_ms" -> solverMs / n,
      "solver.share" -> solverMs / wall,
      "solver.iterations" -> (if (lpSolves.isEmpty) 0.0 else lpIters / lpSolves.length),
      "solver.ms_per_iter" -> (if (lpIters == 0) 0.0 else layerMs("solver.lp") / lpIters),
      "solver.bb_nodes" -> (if (mipNodes.isEmpty) 0.0 else mipNodes.map(_.count).sum.toDouble / mipNodes.length),
      "solver.solve_many_ms" -> (if (solveMany.isEmpty) 0.0 else median(solveMany))
    ) ++ laneMedians
  }
}
