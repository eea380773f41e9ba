package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects job, stage and query-execution records for the traced window.
  * Attached only while tracing; every callback runs on the listener bus
  * thread and only appends to in-memory maps. Jobs are attributed to
  * operations through the `spark.jobGroup.id` local property, query
  * executions through the identity of the operation's analyzed plan. */
class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Analyzed plan of each operation's DataFrame, by identity. */
  private val opPlans = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[LogicalPlan, String]())
  val plans = new ConcurrentHashMap[String, PlanRec]()

  def expect(plan: LogicalPlan, opId: String): Unit = opPlans.put(plan, opId)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, Job(e.jobId, group, e.time, e.stageIds))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  private def stage(id: Int, attempt: Int): Stage =
    stages.computeIfAbsent((id, attempt),
      _ => Stage(id, attempt, stageJob.getOrDefault(id, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    i.submissionTime.foreach(t => s.submitted = t)
    s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
    s.numTasks = i.numTasks
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    s.synchronized {
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    s.synchronized {
      if (e.reason != Success) s.failedAttempts += 1
      s.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.scanBytes += m.inputMetrics.bytesRead
        s.scanRecords += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val opId = qe.logical.collectFirst {
      case p if opPlans.containsKey(p) => opPlans.get(p)
    }
    opId.foreach { id =>
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      val nodes = flatten(qe.executedPlan)
      val exchanges = nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      val fallbacks = nodes.map(_.expressions
        .map(_.collect { case f: CodegenFallback => f }.size).sum).sum
      plans.put(id, PlanRec(phases, exchanges, fallbacks))
    }
  }
}

object Tracer {
  case class Job(id: Int, group: String, start: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }

  case class Stage(id: Int, attempt: Int, jobId: Int) {
    var submitted: Long = -1L
    var completed: Long = -1L
    var numTasks: Int = 0
    var firstLaunch: Long = Long.MaxValue
    var failedAttempts: Int = 0
    val durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
    var runMs, cpuNs, gcMs, scanBytes, scanRecords: Long = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakExec: Long = 0L
  }

  case class PlanRec(phases: Map[String, Long], exchanges: Int, fallbacks: Int)

  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages and subqueries; reused exchanges are not re-counted. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other =>
      other +: (other.children.flatMap(flatten) ++ other.subqueries.flatMap(flatten))
  }

  def jobJson(j: Job): Map[String, Any] = Map(
    "id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
    "stages" -> j.stageIds)

  def stageJson(s: Stage): Map[String, Any] = s.synchronized {
    val sorted = s.durations.sorted
    val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    Map(
      "id" -> s.id, "attempt" -> s.attempt, "job" -> s.jobId,
      "submitted" -> s.submitted, "completed" -> s.completed,
      "tasks" -> s.numTasks,
      "first_launch" -> (if (s.firstLaunch == Long.MaxValue) -1L else s.firstLaunch),
      "failed_attempts" -> s.failedAttempts,
      "task_max_ms" -> (if (sorted.isEmpty) 0L else sorted.last),
      "task_median_ms" -> median,
      "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
      "scan_bytes" -> s.scanBytes, "scan_records" -> s.scanRecords,
      "shuffle_write_bytes" -> s.shuffleWrite,
      "shuffle_read_bytes" -> s.shuffleRead,
      "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spill,
      "peak_exec_bytes" -> s.peakExec)
  }

  def planJson(p: PlanRec): Map[String, Any] = Map(
    "phases" -> p.phases, "exchanges" -> p.exchanges, "fallbacks" -> p.fallbacks)

  def jobsIn(t: Tracer): Seq[Job] = t.jobs.values.asScala.toSeq.sortBy(_.id)
  def stagesIn(t: Tracer): Seq[Stage] =
    t.stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt))
}
