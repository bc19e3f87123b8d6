package graft

/** Dev tool (r17): dump `explain("formatted")` for named registry queries
  * (every registry query when none is named) to
  * <outDir>/<query>_<suffix>.txt — the before/after plan evidence the
  * optimization round commits alongside each change.
  * Usage: runMain graft.PlanDump <outDir> <suffix> [<query>...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1 — plans are captured at the
  * bench's scale factor), SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [<query>...]")
    val outDir = new java.io.File(args(0)); outDir.mkdirs()
    val suffix = args(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(32)
    Harness.select(args.drop(2).toSeq, SparkEntry.queries.keys.toSeq.sorted,
      "registry queries").foreach { n =>
      val f = new java.io.File(outDir, s"${n}_$suffix.txt")
      try {
        val plan = SparkEntry.queries(n)(spark, dir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(f)
        try { w.println(s"== $n ($suffix, $dir) =="); w.println(plan) }
        finally w.close()
        println(s"[plandump] wrote $f")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }
}
