package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: an operation's root span or a layer call inside it.
  * Spans of one operation share `op`; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What Spark reported for the jobs of one span (its job group). */
final class SparkAgg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, taskWaitMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spillDisk, spillMemory, inputBytes, inputRows, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var graftRuleNs, graftRuleRuns, graftRuleEffective = 0L
  /** (launch, finish) wall-clock ms of every task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Collects listener events per job group. Job groups are the benchmark's
  * span ids, set on the driver thread around each span, so every job,
  * stage, task and SQL execution is charged to the span that started it.
  */
final class SpanListener extends SparkListener {
  private val JobGroup = "spark.jobGroup.id"
  val byGroup = mutable.HashMap.empty[String, SparkAgg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val execGroup = mutable.HashMap.empty[Long, String]
  /** Per stage: task durations, for the straggler ratio. */
  val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def agg(g: String) = byGroup.getOrElseUpdate(g, new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroup))).getOrElse("")
    val a = agg(g)
    a.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    val a = agg(stageGroup.getOrElse(id, ""))
    a.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    val info = e.taskInfo
    a.tasks += 1
    a.taskSpans += ((info.launchTime, info.finishTime))
    stageSubmitted.get(e.stageId).foreach(s =>
      a.taskWaitMs += math.max(0L, info.launchTime - s))
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      (info.finishTime - info.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillDisk += m.diskBytesSpilled
      a.spillMemory += m.memoryBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execGroup(s.executionId) = s.jobGroupId.getOrElse("")
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      pendingQe.foreach(qe => charge(execGroup.getOrElse(end.executionId, ""), qe))
      pendingQe = None
    }
    case _ => ()
  }

  /** QueryExecutionListener callbacks arrive on the same listener-bus
    * thread just before this listener sees the matching execution-end
    * event (the session registers its bus when it starts, before any
    * SpanListener), so each query's planning tracker is held here and
    * charged to that execution's job group. */
  private var pendingQe: Option[QueryExecution] = None
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      SpanListener.this.synchronized { pendingQe = Some(qe) }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      SpanListener.this.synchronized { pendingQe = Some(qe) }
  }

  private def charge(group: String, qe: QueryExecution): Unit = {
      val a = agg(group)
      val t = qe.tracker
      def phase(p: String) = t.phases.get(p).map(_.durationMs).getOrElse(0L)
      a.analysisMs += phase("analysis")
      a.optimizationMs += phase("optimization")
      a.planningMs += phase("planning")
      t.rules.foreach { case (rule, sum) =>
        if (rule.startsWith("graft.")) {
          a.graftRuleNs += sum.totalTimeNs
          a.graftRuleRuns += sum.numInvocations
          a.graftRuleEffective += sum.numEffectiveInvocations
        }
      }
  }

  /** Blocks until every event posted before this call has been handled:
    * runs a one-task job in its own group and waits for its end event,
    * which the bus delivers after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val tag = s"pb-barrier-${System.nanoTime()}"
    val prev = sc.getLocalProperty(JobGroup)
    sc.setJobGroup(tag, "barrier")
    sc.parallelize(Seq(1), 1).count()
    if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    val deadline = System.currentTimeMillis() + 30000
    while (!synchronized(byGroup.get(tag).exists(_.tasks > 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    synchronized(byGroup.remove(tag))
  }

  def reset(): Unit = synchronized {
    byGroup.clear(); stageTasks.clear(); pendingQe = None
  }
}

/** Span recorder. Disabled, it only runs the body; enabled, it sets the
  * job group to the span id for the body's duration and keeps the span in
  * memory until the run writes the trace. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val stack = mutable.Stack.empty[(Long, Long)] // (span id, op id)

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val (parent, op) = stack.headOption.getOrElse((0L, id))
      stack.push((id, op))
      sc.setJobGroup(s"pb-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some((p, _)) => sc.setJobGroup(s"pb-$p", "")
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, op, name, layer, t0, t1)
      }
    }
}
