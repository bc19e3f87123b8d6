package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool (r17): dump `explain("formatted")` for named registry queries
  * (every registry query when none is named) to
  * <outDir>/<query>_<suffix>.txt — the before/after plan evidence the
  * optimization round commits alongside each change. Dumps are
  * [[normalize]]d: two dumps of the same plans are byte-identical.
  * Usage: runMain graft.PlanDump <outDir> <suffix> [<query>...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1 — plans are captured at the
  * bench's scale factor), SPARK_GRAFT_CPUS.
  */
object PlanDump {

  private val Masks: Seq[(scala.util.matching.Regex, String)] = Seq(
    "#\\d+".r -> "#n",
    "plan_id=\\d+".r -> "plan_id=n",
    "RDD\\[\\d+\\]".r -> "RDD[n]",
    "Broadcast\\(\\d+\\)".r -> "Broadcast(n)",
    "(lambda \\w+)_\\d+".r -> "$1_N",
    "\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+".r -> "\\$Lambda\\$n",
    "(\\[+(?:[BCDFIJSZ]|L[\\w.$]+;))@\\p{XDigit}+".r -> "$1@h",
    "(graft_p7_index_layout)\\d+".r -> "$1n",
    "(at \\w+\\.scala):\\d+".r -> "$1:n")

  /** `plan` with the tokens that differ per planning masked: expression,
    * `plan_id`, RDD and broadcast ids, Catalyst's JVM-global lambda
    * variable counter (`lambda x_164`), JVM identity hashes (lambdas,
    * arrays), p7's fresh temp directory and the source line of an RDD's
    * call site (`at localCheckpoint at StageCut.scala:54`), which moves
    * with any edit above it. */
  def normalize(plan: String): String =
    Masks.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

  /** The normalized formatted plan of registry query `name` over `dir`. */
  def plan(spark: SparkSession, dir: String, name: String): String =
    normalize(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode))

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
        val text = plan(spark, dir, n)
        val w = new java.io.PrintWriter(f)
        try { w.println(s"== $n ($suffix, $dir) =="); w.println(text) }
        finally w.close()
        println(s"[plandump] wrote $f")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }
}
