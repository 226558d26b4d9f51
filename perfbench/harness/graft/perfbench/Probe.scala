package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** The benchmark's own listener: Spark's job, stage and task counters for
  * one traced pass. Jobs carry the query id and phase the client thread
  * set as local properties ([[Harness.QidKey]], [[Harness.PhaseKey]]);
  * stages belong to the job that submitted them; task counters are summed
  * per stage attempt. The last plan Spark posts for each SQL execution is
  * its final (adaptive) plan; jobs name their execution. Event times are
  * epoch ms, like [[Harness.nowMs]]. */
final class Probe extends SparkListener {
  import Probe._
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val plans = mutable.Map.empty[Long, SparkPlanInfo]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = new JobRec(e.jobId,
      prop(Harness.QidKey).map(_.toLong).getOrElse(-1L),
      prop(Harness.PhaseKey).getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time.toDouble)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId,
      i.attemptNumber(), stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      s.waitMs += math.max(0.0, e.taskInfo.launchTime - s.submit)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.memorySpill += m.memoryBytesSpilled
        s.diskSpill += m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        s.gcMs += m.jvmGCTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { plans(s.executionId) = s.sparkPlanInfo }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { plans(u.executionId) = u.sparkPlanInfo }
    case _ =>
  }

  def snapshot(): (Seq[JobRec], Seq[StageRec], Map[Long, PlanCounts]) = synchronized {
    (jobs.values.toSeq, stages.values.toSeq,
      plans.map { case (id, p) => id -> PlanCounts(p) }.toMap)
  }
}

object Probe {
  final class JobRec(val id: Int, val qid: Long, val phase: String,
      val execution: Long, val start: Double) {
    var end = 0.0
  }

  final class StageRec(val id: Int, val attempt: Int, val job: Int,
      val submit: Double) {
    var end = 0.0
    var tasks = 0
    var waitMs, runMs = 0.0
    var cpuNs, inputBytes, inputRecords, shuffleWriteBytes, shuffleWriteNs,
      shuffleReadBytes, fetchWaitMs, memorySpill, diskSpill, peakExecMem,
      gcMs = 0L
  }

  /** Shuffle exchanges, broadcast joins and skew-split joins in a plan,
    * subqueries and query stages included. */
  final case class PlanCounts(exchanges: Int, broadcastJoins: Int, skewSplits: Int)

  object PlanCounts {
    def apply(p: SparkPlanInfo): PlanCounts = {
      val nodes = Iterator.iterate(Seq(p))(_.flatMap(_.children))
        .takeWhile(_.nonEmpty).flatten.map(_.nodeName).toSeq
      PlanCounts(nodes.count(_ == "Exchange"),
        nodes.count(n => n.startsWith("BroadcastHashJoin") ||
          n.startsWith("BroadcastNestedLoopJoin")),
        nodes.count(_.contains("skew=true")))
    }
  }
}
