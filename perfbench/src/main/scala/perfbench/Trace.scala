package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into the program, made by the harness. `op` groups the
  * spans of one benchmark operation (one build, one readback, one query
  * execution); `parent` is the span that caused it (0 for an operation's
  * root span). Times are epoch milliseconds, the clock Spark's listener
  * events use, so spans and listener records share one axis. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Listener records, one per job, stage, task and Catalyst query
  * execution, keyed to the benchmark operation that caused them. */
final case class JobRec(id: Int, op: Long, startMs: Long, endMs: Long, stages: Seq[Int])
final case class StageRec(id: Int, op: Long, submitMs: Long, doneMs: Long, tasks: Int,
                          runMs: Long, cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long, peakMem: Long)
final case class TaskRec(stage: Int, op: Long, id: Long, launchMs: Long, finishMs: Long,
                         runMs: Long)
final case class PhaseRec(func: String, startMs: Long, analysisMs: Long,
                          optimizationMs: Long, planningMs: Long, objectsListed: Long,
                          intervals: Seq[(Long, Long)])

/** One SQL execution: Spark's own interval from the start of executing a
  * planned query (adaptive planning, code generation, jobs, commit) to its
  * end. */
final case class ExecRec(id: Long, startMs: Long, endMs: Long)

/** In-memory trace: spans from the harness, records from a SparkListener
  * and a QueryExecutionListener. Nothing is written until the run ends.
  * Recording is switched on and off per pass, so one run can time the
  * same operations with and without the listeners attached. */
final class Trace(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val executions = new ConcurrentLinkedQueue[ExecRec]()
  @volatile private var attached = false

  def nextId(): Long = ids.incrementAndGet()

  /** Runs `body` as span `name` under `parent` of operation `op`. */
  def span(op: Long, parent: Long, name: String)(body: => Unit): Span = {
    val t0 = Trace.nowMs()
    body
    val s = Span(nextId(), parent, op, name, t0, Trace.nowMs())
    spans.add(s)
    s
  }

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Trace.OpKey))).map(_.toLong).getOrElse(-1L)

  /** Jobs submitted from this thread from now on carry operation `op`. */
  def setCurrentOp(op: Long): Unit =
    spark.sparkContext.setLocalProperty(Trace.OpKey, op.toString)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      e.stageIds.foreach(s => stageOp.put(s, op))
      jobs.put(e.jobId, JobRec(e.jobId, op, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(endMs = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val op = Option(stageOp.get(i.stageId)).map(_.longValue).getOrElse(-1L)
      if (m != null)
        stages.add(StageRec(i.stageId, op, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
          m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.peakExecutionMemory))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L)
      val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
      tasks.add(TaskRec(e.stageId, op, e.taskInfo.taskId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, run))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        Option(execStart.remove(x.executionId))
          .foreach(t0 => executions.add(ExecRec(x.executionId, t0, x.time)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
      record(func, qe)
  }

  /** Catalyst phases of one query execution. The callback fires
    * asynchronously, so the execution is placed on the time axis by its
    * own phase start time, and joined to an operation by that time. */
  private def record(func: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    val listed = Trace.sumMetric(qe.executedPlan, "objectsListed")
    phases.add(PhaseRec(func, start, ms("analysis"), ms("optimization"),
      ms("planning"), listed, ph.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq))
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  def jobRecs: Seq[JobRec] = jobs.values().asScala.toSeq

  /** The trace as JSON lines: one object per span and listener record. */
  def lines: Iterator[String] =
    spans.asScala.iterator.map(s => Json(Map("kind" -> "span", "id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs))) ++
      jobRecs.iterator.map(j => Json(Map("kind" -> "job", "id" -> j.id, "op" -> j.op,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages))) ++
      stages.asScala.iterator.map(s => Json(Map("kind" -> "stage", "id" -> s.id,
        "op" -> s.op, "submit_ms" -> s.submitMs, "done_ms" -> s.doneMs,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "peak_mem" -> s.peakMem))) ++
      tasks.asScala.iterator.map(t => Json(Map("kind" -> "task", "id" -> t.id,
        "stage" -> t.stage, "op" -> t.op, "launch_ms" -> t.launchMs,
        "finish_ms" -> t.finishMs, "run_ms" -> t.runMs))) ++
      phases.asScala.iterator.map(p => Json(Map("kind" -> "query_execution",
        "func" -> p.func, "start_ms" -> p.startMs,
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
        "planning_ms" -> p.planningMs))) ++
      executions.asScala.iterator.map(x => Json(Map("kind" -> "sql_execution", "id" -> x.id,
        "start_ms" -> x.startMs, "end_ms" -> x.endMs)))
}

object Trace {
  val OpKey = "perfbench.op"
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Sum of one SQL metric over a physical plan, adaptive stages included. */
  def sumMetric(plan: SparkPlan, name: String): Long = {
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children ++ o.subqueries
    }
    def go(p: SparkPlan): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L) + kids(p).map(go).sum
    try go(plan) catch { case scala.util.control.NonFatal(_) => 0L }
  }
}
