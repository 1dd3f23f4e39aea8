package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are nanoseconds on the
  * harness clock; `parent` is the index of the enclosing span in the same
  * op, or -1 for the op's root span. */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

/** Counters of one op, filled by the listeners and by the harness. */
final class OpCounters {
  var jobs, stages, tasks, exchanges = 0L
  var taskBusyMs, taskWaitMs, shuffleRead, shuffleWrite, spill, peakExecMem = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var gcMs = 0L
  var pagesRead, rowsRead, rowsIn, rowsOut = 0L
  var commits, replaysSkipped, failedBatches = 0L
  var shapedBytesWritten = 0L
  var jobWallMs = 0L
}

/** Spans and counters of a traced pass, kept in memory and written out when
  * the run ends. A traced op registers a SparkListener (jobs, stages, tasks)
  * and a QueryExecutionListener (Catalyst phases and final plans of every
  * Dataset action the program runs, including the eager jobs of query
  * builders and the sinks' writes); the harness wraps its calls into each
  * layer with [[span]]. When tracing is off nothing is registered and
  * [[span]] only runs its body. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  @volatile private var op = -1
  val spans = ArrayBuffer[Span]()
  val counters = scala.collection.mutable.LinkedHashMap[Int, OpCounters]()
  private var stack = List.empty[Int]
  // harness clock (nanoTime) = wall clock (ms, Spark event times) + offset
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromMs(ms: Long): Long = ms * 1000000L + offsetNs

  private val stageSubmitted = scala.collection.mutable.HashMap[Int, Long]()
  private val jobStarted = scala.collection.mutable.HashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (op >= 0) {
      val c = cur
      c.jobs += 1
      jobStarted(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (op >= 0) {
      jobStarted.remove(e.jobId).foreach { t0 =>
        cur.jobWallMs += e.time - t0
        spans.synchronized {
          spans += Span("exec.job", fromMs(t0), fromMs(e.time), -1, op)
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (op >= 0) {
        cur.stages += 1
        stageSubmitted(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (op >= 0) {
      val c = cur
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskBusyMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
      stageSubmitted.get(e.stageId).foreach { s =>
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (op >= 0) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (op >= 0) record(qe)
  }

  private def cur: OpCounters = counters(op)

  /** Catalyst phase spans and final-plan counters of one query execution. */
  def record(qe: QueryExecution): Unit = if (op >= 0) {
    val c = cur
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach { s =>
        p match {
          case "analysis" => c.analysisMs += s.durationMs
          case "optimization" => c.optimizationMs += s.durationMs
          case _ => c.planningMs += s.durationMs
        }
        spans.synchronized {
          spans += Span(s"catalyst.$p", fromMs(s.startTimeMs), fromMs(s.endTimeMs), -1, op)
        }
      }
    }
    val plan = Tracer.finalPlan(qe.executedPlan)
    c.exchanges += Tracer.nodes(plan).count {
      case _: ShuffleExchangeLike => true
      case _ => false
    }
    Tracer.nodes(plan).foreach {
      case b: BatchScanExec if b.scan.getClass.getName == "graft.sources.PageScan" =>
        c.pagesRead += b.inputPartitions.size
        b.metrics.get("numOutputRows").foreach(m => c.rowsRead += m.value)
      case _ =>
    }
  }

  def startOp(id: Int): Unit = if (on) {
    op = id
    counters(id) = new OpCounters
    stack = Nil
  }

  /** Close the op: deliver every pending listener event, then detach. */
  def endOp(gcMs: Long): Unit = if (on) {
    org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
    cur.gcMs += gcMs
    op = -1
  }

  def counter: OpCounters = if (on && op >= 0) cur else Tracer.Discard

  def span[A](name: String)(body: => A): A =
    if (!on || op < 0) body
    else {
      val idx = spans.synchronized {
        spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
        spans.size - 1
      }
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans.synchronized { spans(idx) = spans(idx).copy(end = System.nanoTime()) }
      }
    }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Written to when tracing is off; never read. */
  val Discard = new OpCounters

  /** The plan that actually ran: AQE's final plan when adaptive. */
  def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Every node of a physical plan, looking inside AQE query stages and
    * skipping reused exchanges (they do not run twice). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: ReusedExchangeExec => Seq.empty
    case s: QueryStageExec => nodes(s.plan)
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
