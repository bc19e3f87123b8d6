package graft

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

    args.foreach { n =>
      val fn = SparkEntry.queries(n)
      val w = Harness.timeNoop(fn(spark, dir)) // warm: JIT + codegen
      val (t, profile) = QueryProfile(spark)(Harness.timeNoop(fn(spark, dir)))
      println(f"\n===== $n warm $w%.2fs instrumented $t%.2fs " +
        f"jobs ${profile.jobs.size} stages ${profile.stages.size} =====")
      val byCs = profile.jobs.groupBy(_.callSite).map { case (cs, js) =>
        (cs, js.map(_.durationMs).sum, js.size)
      }.toSeq.sortBy(-_._2)
      byCs.foreach { case (cs, ms, cnt) =>
        println(f"[job] $ms%6dms x$cnt%-3d $cs")
      }
      val byStage = profile.stages.groupBy(_.name).map { case (name, ss) =>
        (name, ss.map(_.durationMs).sum, ss.map(_.tasks).sum, ss.map(_.taskTimeMs).sum, ss.size)
      }.toSeq.sortBy(-_._2)
      byStage.take(30).foreach { case (name, dur, tasks, taskMs, cnt) =>
        println(f"[stage] $dur%6dms x$cnt%-3d tasks=$tasks%-4d taskTime=${taskMs}%6dms  $name")
      }
    }
    spark.stop()
  }
}
