package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records jobs, stages, tasks and executed plans for the traced run.
  *
  * Jobs and stages carry the job group the harness sets around each
  * query phase ("<exec id>/build" or "<exec id>/exec"); tasks are tied
  * to a group through their stage. Plan events carry no job group, so
  * they take the harness's current phase tag; the harness drains the
  * listener bus before it moves the tag on. Everything stays in memory
  * until the run writes it out. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var tag: String = "setup"

  private val groupKey = "spark.jobGroup.id"
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val tasks = new ConcurrentLinkedQueue[String]()
  private val plans = new ConcurrentLinkedQueue[String]()
  private val jobStart =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(groupKey))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, (e.time, group(e.properties), e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, g, ids) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, "none", Nil))
    jobs.add(Json.obj("id" -> e.jobId, "group" -> g, "start" -> t0,
      "end" -> e.time, "stages" -> ids))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, group(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Json.obj("id" -> s.stageId,
      "group" -> stageGroup.getOrDefault(s.stageId, "none"),
      "start" -> s.submissionTime.getOrElse(0L),
      "end" -> s.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i == null || m == null) return
    val sr = m.shuffleReadMetrics
    tasks.add(Json.obj(
      "group" -> stageGroup.getOrDefault(e.stageId, "none"),
      "stage" -> e.stageId,
      "launch" -> i.launchTime, "finish" -> i.finishTime,
      "gettingResult" -> i.gettingResultTime,
      "run" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "deser" -> m.executorDeserializeTime,
      "resultSer" -> m.resultSerializationTime,
      "resultSize" -> m.resultSize, "gc" -> m.jvmGCTime,
      "spillDisk" -> m.diskBytesSpilled,
      "peakExec" -> m.peakExecutionMemory,
      "inBytes" -> m.inputMetrics.bytesRead,
      "inRows" -> m.inputMetrics.recordsRead,
      "outBytes" -> m.outputMetrics.bytesWritten,
      "outRows" -> m.outputMetrics.recordsWritten,
      "shRead" -> (sr.remoteBytesRead + sr.localBytesRead),
      "fetchWait" -> sr.fetchWaitTime,
      "shWrite" -> m.shuffleWriteMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val nodes = Tracer.walk(qe.executedPlan)
    val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
    plans.add(Json.obj("group" -> tag, "planning_ms" -> planningMs,
      "nodes" -> nodes.count(Tracer.counted),
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      "scans" -> nodes.count(Tracer.isScan),
      "codegen" -> nodes.count(_.isInstanceOf[WholeStageCodegenExec])))
  }

  def toJson: Seq[(String, Any)] = Seq(
    "jobs" -> Json.Raw(jobs.asScala.mkString("[", ",", "]")),
    "stages" -> Json.Raw(stages.asScala.mkString("[", ",", "]")),
    "tasks" -> Json.Raw(tasks.asScala.mkString("[", ",", "]")),
    "plans" -> Json.Raw(plans.asScala.mkString("[", ",", "]")))
}

object Tracer {
  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
  })

  /** Wrapper nodes that add no operator of their own. */
  def counted(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: InputAdapter => false
    case _ => true
  }

  def isScan(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec | _: BatchScanExec => true
    case l: LeafExecNode => l.nodeName.contains("Scan")
    case _ => false
  }
}
