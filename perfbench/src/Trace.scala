package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in Spark accounting for a traced run. Nothing inside the
  * program is touched: a `SparkListener` counts jobs, stages, tasks, task
  * and GC time, shuffle, spill and result bytes; a
  * `QueryExecutionListener` reads each finished query's
  * `QueryExecution.tracker` phase times and the executed plan's file-scan
  * SQL metrics (rows out of the scan, files read). [[around]] returns
  * what the traced work moved. */
final class Trace(spark: SparkSession) {
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit =
    counters.computeIfAbsent(k, _ => new LongAdder).add(v)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_ms", m.executorRunTime)
        add("spark.gc_ms", m.jvmGCTime)
        add("spark.shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.result_bytes", m.resultSize)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs))
      }
      scans(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def scans(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec =>
      s.metrics.get("numOutputRows").foreach(m => add("scan.rows", m.value))
      s.metrics.get("numFiles").foreach(m => add("scan.files", m.value))
    case other =>
      other.children.foreach(scans)
      other.subqueries.foreach(scans)
  }

  /** Every counter after the listener bus has drained. */
  private def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.sum().toDouble }.toMap
  }

  /** Runs `f` with the listeners installed, and only then: untraced work
    * between traced work pays nothing. Returns `f`'s result and the
    * engine counters it moved. */
  def around[T](f: => T): (T, Map[String, Double]) = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    val before = snapshot()
    try {
      val r = f
      (r, Trace.diff(snapshot(), before))
    } finally {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
    }
  }
}

object Trace {
  val engineKeys: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.result_bytes",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "scan.rows", "scan.files")

  def add(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    engineKeys.map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    engineKeys.map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap

  /** The per-workload engine metrics, each divided by `per` (passes for
    * the batch workloads, operations for serve). */
  def engineMetrics(d: Map[String, Double], per: Double): Seq[Metric] = {
    val n = math.max(per, 1.0)
    Seq(
      Metric("spark.jobs", d("spark.jobs") / n, "count"),
      Metric("spark.stages", d("spark.stages") / n, "count"),
      Metric("spark.tasks", d("spark.tasks") / n, "count"),
      Metric("spark.task_s", d("spark.task_ms") / 1000.0 / n, "s"),
      Metric("spark.gc_s", d("spark.gc_ms") / 1000.0 / n, "s"),
      Metric("spark.shuffle_read_bytes", d("spark.shuffle_read_bytes") / n, "bytes"),
      Metric("spark.shuffle_write_bytes", d("spark.shuffle_write_bytes") / n, "bytes"),
      Metric("spark.spill_bytes", d("spark.spill_bytes") / n, "bytes"),
      Metric("spark.result_bytes", d("spark.result_bytes") / n, "bytes"),
      Metric("catalyst.analysis_ms", d("catalyst.analysis_ms") / n, "ms"),
      Metric("catalyst.optimization_ms", d("catalyst.optimization_ms") / n, "ms"),
      Metric("catalyst.planning_ms", d("catalyst.planning_ms") / n, "ms"))
  }
}
