package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, name: String, startMs: Long, endMs: Long)

/** What the traced run learned about one operation from outside the
  * program: Spark's job, stage and task events and the query's planning
  * tracker and executed plan. */
final case class OpTrace(
    name: String,
    phasesMs: Map[String, Double],
    scanMetrics: Map[String, Long],
    inputPartitions: Int,
    runMs: Long,
    cpuMs: Double,
    gcMs: Long,
    afterJobsMs: Double)

object Tracer {
  /** Local property that ties a job to the operation that ran it. */
  val OpKey = "perfbench.op"

  /** Every node of an executed plan, through adaptive wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Listener for the traced run. It keeps spans in memory for the operation
  * → job → stage tree plus planning phases; [[take]] hands over one
  * operation's events once the listener bus has drained. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobOp = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobEndMs = mutable.Map.empty[String, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[String, mutable.ArrayBuffer[StageInfo]]
  private val queries = mutable.ArrayBuffer.empty[QueryExecution]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("none")
    jobOp(e.jobId) = op
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val op = jobOp.getOrElse(e.jobId, "none")
    spans += Span(s"job-${e.jobId}", op, "job", jobStartMs.getOrElse(e.jobId, e.time), e.time)
    jobEndMs(op) = math.max(jobEndMs.getOrElse(op, 0L), e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val job = stageJob.getOrElse(info.stageId, -1)
    val op = jobOp.getOrElse(job, "none")
    stages.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += info
    spans += Span(s"stage-${info.stageId}.${info.attemptNumber()}", s"job-$job", info.name,
      info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { queries += qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Drop what was collected for anything but a traced operation. */
  def discard(): Unit = synchronized {
    queries.clear(); stages.clear(); jobEndMs.clear()
  }

  def addSpan(s: Span): Unit = synchronized { spans += s }
  def allSpans: List[Span] = synchronized(spans.toList)

  /** One operation's trace; call after the listener bus has drained.
    * `endMs` is when the operation returned: the time after its last job
    * ended is the driver-side tail (for a write, the commit). */
  def take(opId: String, name: String, endMs: Long): OpTrace = synchronized {
    val qes = queries.toList
    queries.clear()
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    qes.foreach { qe =>
      qe.tracker.phases.foreach { case (phase, s) =>
        phases(phase) += s.durationMs.toDouble
        spans += Span(s"$opId-$phase", opId, s"plan.$phase", s.startTimeMs, s.endTimeMs)
      }
    }
    val scans = qes.flatMap(qe => nodes(qe.executedPlan)).collect { case b: BatchScanExec => b }
    val scanMetrics = scans.flatMap(_.metrics.toSeq.map { case (k, m) => k -> m.value })
      .groupMapReduce(_._1)(_._2)(_ + _)
    val infos = stages.remove(opId).toSeq.flatten
    val tm = infos.flatMap(i => Option(i.taskMetrics))
    OpTrace(
      name = name,
      phasesMs = phases.toMap,
      scanMetrics = scanMetrics,
      inputPartitions = scans.map(_.inputPartitions.size).sum,
      runMs = tm.map(_.executorRunTime).sum,
      cpuMs = tm.map(_.executorCpuTime).sum / 1e6,
      gcMs = tm.map(_.jvmGCTime).sum,
      afterJobsMs = jobEndMs.remove(opId).map(e => (endMs - e).toDouble).getOrElse(0.0))
  }
}
