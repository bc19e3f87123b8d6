package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** What one body's Spark actions ran: its jobs, its completed stages and
  * the physical plans its actions executed. The one Spark listener in this
  * codebase (ToolingGuardSpec enforces it): the job and plan guards and
  * the dev probes all read their counts here. */
final class QueryProfile private (
    val jobs: Seq[QueryProfile.Job],
    val stages: Seq[QueryProfile.Stage],
    val plans: Seq[QueryProfile.Plan])

object QueryProfile {
  /** `callSite` is the action's short call site ("collect at Foo.scala:12"),
    * which Spark names the job's result stage after. */
  final case class Job(id: Int, callSite: String, durationMs: Long)

  /** A completed stage attempt: spill summed over its tasks, and the
    * largest peak execution memory of any one task. */
  final case class Stage(name: String, durationMs: Long, tasks: Int, taskTimeMs: Long,
                         memorySpilled: Long, diskSpilled: Long, peakTaskMemory: Long)

  /** An executed plan and the name of the action that ran it (`collect`,
    * `localCheckpoint`, …). */
  final case class Plan(funcName: String, plan: SparkPlan)

  /** Runs `body` and profiles it. The listener bus is drained before the
    * listeners are added, so earlier events stay out, and before the
    * profile is read, so every event of `body` is in; both listeners are
    * removed however `body` ends. They see the whole SparkContext: work
    * other threads run meanwhile is counted too. */
  def apply[A](spark: SparkSession)(body: => A): (A, QueryProfile) = {
    val sc = spark.sparkContext
    val recorder = new Recorder
    ListenerBridge.drain(sc)
    sc.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    try { val a = body; ListenerBridge.drain(sc); (a, recorder.profile) }
    finally { sc.removeSparkListener(recorder); spark.listenerManager.unregister(recorder) }
  }

  private final class Recorder extends SparkListener with QueryExecutionListener {
    private val jobs = mutable.ArrayBuffer[Job]()
    private val stages = mutable.ArrayBuffer[Stage]()
    private val plans = mutable.ArrayBuffer[Plan]()
    private val started = mutable.HashMap[Int, (String, Long)]()
    private val peaks = mutable.HashMap[(Int, Int), Long]() // per stage attempt

    def profile: QueryProfile = synchronized(new QueryProfile(jobs.toList, stages.toList, plans.toList))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage is created after its parents: the highest id
      started(e.jobId) = (e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?"), e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (callSite, t) => jobs += Job(e.jobId, callSite, e.time - t) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) {
        val key = (e.stageId, e.stageAttemptId)
        peaks(key) = math.max(peaks.getOrElse(key, 0L), e.taskMetrics.peakExecutionMemory)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += Stage(si.name,
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L),
        si.numTasks, m.executorRunTime, m.memoryBytesSpilled, m.diskBytesSpilled,
        peaks.remove((si.stageId, si.attemptNumber())).getOrElse(0L))
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { plans += Plan(funcName, qe.executedPlan) }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
