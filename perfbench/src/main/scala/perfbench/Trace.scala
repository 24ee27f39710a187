package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Interval

/** Spans recorded by the traced run. Everything is kept in memory and read
  * once the run ends. Times are epoch milliseconds: Spark's listeners and
  * its planning tracker report whole milliseconds, the benchmark's own
  * spans carry sub-millisecond precision.
  */
object Trace {

  /** Spark local property that tags every job with its operation id. */
  val TagKey = "perfbench.op"

  @volatile var enabled = false

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Phase(qe: Long, name: String, span: Interval)
  final class Job(val id: Int, val tag: String, val start: Double) {
    @volatile var end: Double = Double.NaN
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0.0
    @volatile var cpuMs = 0.0
    @volatile var shuffleWrite = 0L
    @volatile var spill = 0L
    @volatile var input = 0L
    @volatile var output = 0L
    def span: Interval = Interval(start, end)
  }
  final case class Batch(at: Double, rows: Long, ms: Double)
  final case class Layer(op: String, name: String, span: Interval, count: Long)

  val phases = new ConcurrentLinkedQueue[Phase]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val layers = new ConcurrentLinkedQueue[Layer]()
  /** Statement texts handed to Spark's own parser. */
  val texts = new ConcurrentLinkedQueue[String]()
  private val execStarts = new ConcurrentHashMap[Long, Double]()
  val execs = new ConcurrentLinkedQueue[Interval]()

  @volatile var currentOp: String = null

  /** Runs `body` and records it as a span of `layer` inside the current
    * operation.
    */
  def layer[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val t0 = nowMs()
    try body finally layers.add(Layer(currentOp, name, Interval(t0, nowMs()), 1))
  }

  def record(name: String, op: String, span: Interval, count: Long): Unit =
    if (enabled) layers.add(Layer(op, name, span, count))

  /** Subscribes the listeners to `spark`. */
  def attach(spark: SparkSession): Unit = {
    spark.listenerManager.register(new PhaseListener)
    spark.sparkContext.addSparkListener(new JobListener)
    spark.streams.addListener(new BatchListener)
  }

  /** Drops everything recorded so far (set-up and warm-up work). */
  def reset(): Unit = {
    phases.clear(); jobs.clear(); batches.clear(); layers.clear()
    texts.clear(); execStarts.clear(); execs.clear()
  }

  /** Planning phases of every QueryExecution that ran an action. */
  private class PhaseListener extends QueryExecutionListener {
    private val ids = new java.util.WeakHashMap[QueryPlanningTracker, java.lang.Long]()
    private val next = new AtomicLong()
    private def add(qe: QueryExecution): Unit = {
      val known = ids.synchronized {
        val seen = ids.containsKey(qe.tracker)
        if (!seen) ids.put(qe.tracker, next.incrementAndGet())
        seen
      }
      if (!known) {
        val id = ids.synchronized(ids.get(qe.tracker).longValue)
        qe.tracker.phases.foreach { case (name, p) =>
          phases.add(Phase(id, name, Interval(p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  /** Jobs, their tasks, and SQL execution intervals. */
  private class JobListener extends SparkListener {
    private val stageJob = new ConcurrentHashMap[Int, Job]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
      val job = new Job(e.jobId, tag, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.put(s, job))
      jobs.put(e.jobId, job)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          j.cpuMs += m.executorCpuTime / 1e6
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, s.time.toDouble)
      case s: SparkListenerSQLExecutionEnd =>
        Option(execStarts.remove(s.executionId)).foreach { t0 =>
          execs.add(Interval(t0, s.time.toDouble))
        }
      case _ =>
    }
  }

  /** Micro-batches of streaming queries. */
  private class BatchListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      batches.add(Batch(nowMs(), p.numInputRows, ms))
    }
  }
}

/** In traced runs only, wraps Spark's own SQL parser to record each text
  * it is handed. Spark loads this provider through the
  * SparkSessionExtensionsProvider service and stacks the engine's parser
  * on top of it, so the texts recorded are the ones the engine passes down
  * after its own rewrites, which stock Spark parses by construction.
  */
class TraceExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    if (sys.props.get("perfbench.trace").contains("1"))
      ext.injectParser((_, delegate) => new RecordingParser(delegate))
}

class RecordingParser(delegate: ParserInterface) extends ParserInterface {
  private def record(text: String): Unit = if (Trace.enabled) Trace.texts.add(text)

  override def parsePlan(sqlText: String): LogicalPlan = {
    record(sqlText); delegate.parsePlan(sqlText)
  }
  override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan = {
    record(sqlText); delegate.parsePlanWithParameters(sqlText, ctx)
  }
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) = delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String) = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
}
