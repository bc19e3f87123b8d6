package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Dev tool (r17 optimization round): attribute one query's wall time to
  * Spark jobs and stages. Runs the query once warm, then once instrumented,
  * printing every job (callsite, duration) and every stage (name, duration,
  * task count, task-time sum) sorted by cost — the empirical "where does the
  * time go" step the optimization guide (§1.1) puts before any change.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.OptProbe <query> [<query>...]
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(32)

    final case class Job(id: Int, callSite: String, var start: Long = 0L,
                         var end: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stages = mutable.ArrayBuffer[(String, Long, Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        jobs.synchronized {
          jobs(js.jobId) = Job(js.jobId, cs, start = js.time)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (s <- si.submissionTime; e <- si.completionTime)
          yield e - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.name, dur, si.numTasks,
            si.taskMetrics.executorRunTime))
        }
      }
    }

    args.foreach { n =>
      val fn = SparkEntry.queries(n)
      val w = Harness.timeNoop(fn(spark, dir)) // warm: JIT + codegen
      jobs.clear(); stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t = Harness.timeNoop(fn(spark, dir))
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== $n warm $w%.2fs instrumented $t%.2fs " +
        f"jobs ${jobs.size} stages ${stages.size} =====")
      val byCs = jobs.values.toSeq.groupBy(_.callSite).map { case (cs, js) =>
        (cs, js.map(j => j.end - j.start).sum, js.size)
      }.toSeq.sortBy(-_._2)
      byCs.foreach { case (cs, ms, cnt) =>
        println(f"[job] $ms%6dms x$cnt%-3d $cs")
      }
      val byStage = stages.groupBy(_._1).map { case (name, ss) =>
        (name, ss.map(_._2).sum, ss.map(_._3).sum, ss.map(_._4).sum, ss.size)
      }.toSeq.sortBy(-_._2)
      byStage.take(30).foreach { case (name, dur, tasks, taskMs, cnt) =>
        println(f"[stage] $dur%6dms x$cnt%-3d tasks=$tasks%-4d taskTime=${taskMs}%6dms  $name")
      }
    }
    spark.stop()
  }
}
