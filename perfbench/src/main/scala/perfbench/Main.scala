package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkSqlParser

import graft.Engine
import Stats.Interval

/** One benchmark run in one process: set up a session, run the workload's
  * operations from a single closed-loop client for the given time, check
  * every result, and write the run file.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --out DIR [--cores N]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cores: Int)

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  /** Untimed passes before the measured ones. One is not enough: the
    * second execution of a lane is still visibly faster than the first.
    */
  val WarmPasses = 2

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("out"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  /** A session as the engine builds it, with the workload's inputs
    * registered and a small fixed warm-up run.
    */
  private def session(o: Opts): SparkSession = {
    val spark = Engine.session(s"local[${o.cores}]", o.cores)
    if (o.trace) Trace.attach(spark)
    if (o.workload != "lp_solve") Engine.registerViews(spark, o.data)
    spark.range(1000000).selectExpr("sum(id)").collect()
    if (o.workload != "lp_solve") spark.table("nation").groupBy("n_regionkey").count().collect()
    else spark.sql("SELECT * FROM highs_solve('perfbench_absent')").collect()
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * a marker job's end event is the last one in the queue.
    */
  private def drain(spark: SparkSession): Unit = {
    spark.sparkContext.setLocalProperty(Trace.TagKey, "drain")
    spark.sparkContext.parallelize(1 to 1, 1).count()
    spark.sparkContext.setLocalProperty(Trace.TagKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!Trace.jobs.values.asScala.exists(j => j.tag == "drain" && !j.end.isNaN) &&
      System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(200)
  }

  /** The session's parser (the engine's, on top of Spark's) against a
    * stock SparkSqlParser, on the distinct texts the run handed down to
    * Spark's parser: (engine ms, stock ms, texts), medians of 5 rounds.
    */
  private def parseVsStock(spark: SparkSession, texts: Seq[String]): (Double, Double, Int) = {
    val graft = spark.sessionState.sqlParser
    val stock = new SparkSqlParser()
    val ok = texts.filter(t => scala.util.Try(stock.parsePlan(t)).isSuccess &&
      scala.util.Try(graft.parsePlan(t)).isSuccess)
    def time(p: String => Any): Double = {
      val t0 = System.nanoTime(); ok.foreach(p); (System.nanoTime() - t0) / 1e6
    }
    val rounds = (1 to 5).map(_ => (time(graft.parsePlan), time(stock.parsePlan)))
    (Stats.median(rounds.map(_._1)), Stats.median(rounds.map(_._2)), ok.length)
  }

  private def heapRetainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Trace.enabled = false
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // Set-up, several times: the first is timed from process start, later
    // ones stop the session and build a new one.
    val setups = Seq.newBuilder[Double]
    var spark: SparkSession = null
    (1 to Setups).foreach { k =>
      if (spark != null) stop(spark)
      val t0 = if (k == 1) jvmStart else Trace.nowMs()
      spark = session(o)
      setups += (Trace.nowMs() - t0) / 1000.0
    }
    val workload = Workloads(o.workload, spark, o.data, o.seed)
    val sc = spark.sparkContext
    val ops = Seq.newBuilder[Report.OpRec]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** Runs pass `p` and returns the records of its operations. */
    def runPass(p: Int): Seq[Report.OpRec] =
      workload.pass(p).zipWithIndex.map { case (op, i) =>
        val id = s"$p.$i"
        sc.setLocalProperty(Trace.TagKey, id)
        Trace.currentOp = id
        val t0 = Trace.nowMs()
        val res = try Right(op.exec()) catch { case e: Throwable => Left(e) }
        val t1 = Trace.nowMs()
        sc.setLocalProperty(Trace.TagKey, null)
        val err = res match {
          case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
          case Right(r) => try op.check(r) catch { case e: Throwable => Some(s"check failed: $e".take(500)) }
        }
        try op.after() catch { case e: Throwable => System.err.println(s"[perfbench] $id cleanup: $e") }
        Trace.currentOp = null
        err.foreach(e => if (!errors.contains(op.lane)) errors(op.lane) = e)
        Report.OpRec(id, op.lane, Interval(t0, t1), err)
      }

    // Untimed passes warm the JIT and the engine's per-process caches, so
    // the measured passes see a settled state; their results are checked too.
    val warmStart = Trace.nowMs()
    val warm = (1 to WarmPasses).flatMap(k => runPass(-k))
    val warmPassS = (Trace.nowMs() - warmStart) / 1000.0
    Trace.reset()
    Trace.enabled = o.trace
    // Whole passes, started while time remains, so every run weighs the
    // lanes alike.
    val started = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - started) / 1e9 < o.seconds) {
      ops ++= runPass(p)
      p += 1
    }
    val measured = (System.nanoTime() - started) / 1e9
    Trace.enabled = false
    val opRecs = ops.result()

    val out = Paths.get(o.out)
    Files.createDirectories(out.resolve("results"))
    val layers: Map[String, Double] = if (!o.trace) Map.empty else {
      drain(spark)
      val jobs = Trace.jobs.values.asScala.toSeq.filter(j => !j.end.isNaN && j.tag != "drain").map { j =>
        Report.JobRec(j.tag, j.span, j.stages, j.tasks, j.taskMs, j.cpuMs, j.shuffleWrite, j.spill, j.input, j.output)
      }
      def span(i: Interval) = Seq(i.start, i.end)
      write(out.resolve("spans.json"), Json(Map(
        "ops" -> opRecs.map(r => Map("id" -> r.id, "lane" -> r.lane, "span" -> span(r.span))),
        "jobs" -> jobs.map(j => Map("op" -> j.tag, "span" -> span(j.span), "tasks" -> j.tasks)),
        "phases" -> Trace.phases.asScala.map(p => Map("qe" -> p.qe, "phase" -> p.name, "span" -> span(p.span))),
        "executions" -> Trace.execs.asScala.map(span),
        "batches" -> Trace.batches.asScala.map(b => Map("at" -> b.at, "rows" -> b.rows, "ms" -> b.ms)),
        "layers" -> Trace.layers.asScala.map(l => Map("op" -> l.op, "layer" -> l.name, "span" -> span(l.span),
          "count" -> l.count)))))
      val base = Report.layers(opRecs, jobs, Trace.phases.asScala.toSeq, Trace.execs.asScala.toSeq,
        Trace.batches.asScala.toSeq, Trace.layers.asScala.toSeq, Workloads.PipelineOps)
      val (graftMs, stockMs, nTexts) = parseVsStock(spark, Trace.texts.asScala.toSeq.distinct)
      base ++ Map(
        "sql.parse_graft_ms" -> graftMs,
        "sql.parse_stock_ms" -> stockMs,
        "sql.parse_vs_stock" -> (if (stockMs > 0) graftMs / stockMs else 0.0),
        "sql.parse_compared" -> nTexts.toDouble)
    }

    val heapMb = heapRetainedMb()
    val e2e = Report.endToEnd(opRecs) ++ Map(
      "setup_s" -> Stats.median(setups.result()),
      "heap_retained_mb" -> heapMb,
      "jvm.heap_retained_mb" -> heapMb,
      "setup.warm_pass_s" -> warmPassS)

    workload.firstResults.foreach { case (lane, r) =>
      write(out.resolve("results").resolve(s"$lane.json"),
        Json(Map("columns" -> r.columns, "rows" -> r.rows)))
    }
    val oracles = graft.SparkEntry.oracleSql
    write(out.resolve("run.json"), Json(Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "cores" -> o.cores, "passes" -> p, "measured_s" -> measured,
      "setups_s" -> setups.result(),
      "metrics" -> e2e, "layers" -> layers,
      "ops" -> opRecs.map(r => Map("id" -> r.id, "lane" -> r.lane, "ms" -> r.ms, "error" -> r.error)),
      "warm_ops" -> warm.map(r => Map("id" -> r.id, "lane" -> r.lane, "ms" -> r.ms, "error" -> r.error)),
      "errors" -> errors,
      "oracles" -> workload.firstResults.keys.flatMap(l => oracles.get(l).map(l -> _)).toMap)))
    stop(spark)
  }

  private def write(path: Path, text: String): Unit =
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
}
