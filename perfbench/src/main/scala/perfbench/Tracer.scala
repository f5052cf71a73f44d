package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects spans and counters for the traced pass through Spark's public
  * listener APIs only: a SparkListener for jobs, stages and tasks and a
  * QueryExecutionListener for Catalyst phases and final plans.
  *
  * Attribution: the thread running the queries tags every job it starts with
  * `pb:<query index>:<phase>` (SparkContext job tags, which Spark copies
  * to broadcast and subquery threads and to SQL execution events). A
  * job's stages and tasks inherit its tag; a QueryExecution inherits the
  * tag of its SQL execution, whose id equals `QueryExecution.id`.
  *
  * Events arrive on Spark's listener thread, so every structure here is
  * guarded by `this`.
  */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Tracer._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val executions = mutable.LinkedHashMap.empty[Long, Execution]
  /** Per stage id, the persisted RDDs (cache or checkpoint) it touched. */
  val persisted = mutable.Map.empty[Int, Seq[Int]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execTag = mutable.Map.empty[Long, String]

  private def tagOf(tags: Iterable[String]): String =
    tags.find(_.startsWith(TagPrefix)).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSeq).getOrElse(Nil)
    jobs(e.jobId) = Job(e.jobId, tagOf(tags), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val job = stageJob.get(i.stageId)
      val st = Stage(i.stageId, i.attemptNumber(), job.getOrElse(-1),
        job.flatMap(jobs.get).map(_.tag).getOrElse(""),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, i.rddInfos.flatMap(_.scope.map(_.id)).sorted.mkString(","),
        i.failureReason.isDefined)
      stages((i.stageId << 8) | (i.attemptNumber() & 0xff)) = st
      persisted(i.stageId) = i.rddInfos.filter(_.storageLevel.isValid)
        .map(_.id).toSeq
      job.flatMap(jobs.get).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totalsFor(stageJob.get(e.stageId).flatMap(jobs.get)
      .map(_.tag).getOrElse(""))
    t.tasks += 1
    if (!e.taskInfo.successful) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.taskMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.diskBytesSpilled
      t.bytesRead += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
      t.bytesWritten += m.outputMetrics.bytesWritten
      t.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execTag(s.executionId) = tagOf(s.jobTags)
      case x: SparkListenerSQLExecutionEnd =>
        endedExecutions += 1
      case _ => ()
    }
  }

  var endedExecutions = 0L

  val taskTotals = mutable.LinkedHashMap.empty[String, TaskTotals]
  private def totalsFor(tag: String): TaskTotals =
    taskTotals.getOrElseUpdate(tag, new TaskTotals)

  private def record(qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    // the final (post-AQE) plan, subqueries included
    val exchanges = collectWithSubqueries(qe.executedPlan) {
      case x: Exchange => x }.size
    synchronized {
      executions(qe.id) = Execution(qe.id, execTag.getOrElse(qe.id, ""),
        ms("analysis"), ms("optimization"), ms("planning"), exchanges, failed)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe, failed = true)

  /** Blocks until every SQL execution that ended has reached the
    * QueryExecutionListener and every started job has ended, or `maxMs`.
    */
  def drain(maxMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def settled = synchronized {
      jobs.values.forall(_.end > 0) && executions.size >= endedExecutions
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

object Tracer {
  val TagPrefix = "pb:"
  def tag(query: Int, phase: String): String = s"$TagPrefix$query:$phase"

  final case class Job(id: Int, tag: String, start: Long) {
    var end = 0L
    var stages = 0
  }
  final case class Stage(id: Int, attempt: Int, job: Int, tag: String,
      start: Long, end: Long, tasks: Int, scopes: String, failed: Boolean)
  final case class Execution(id: Long, tag: String, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, exchanges: Int,
      failed: Boolean)
  final class TaskTotals {
    var tasks, failedTasks = 0L
    var taskMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var bytesRead, recordsRead, bytesWritten, recordsWritten = 0L
  }

  def attach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  def detach(spark: SparkSession, t: Tracer): Unit = {
    spark.listenerManager.unregister(t)
    spark.sparkContext.removeSparkListener(t)
  }
}
