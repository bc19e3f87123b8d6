package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: same-boot A/B of the control-tag wrap (r15 verdict ask #6) —
  * times each named registry row WITH the in-band corpus-tag crossJoin
  * (what the registry runs) and WITHOUT (the base query), interleaved
  * ABAB so boot drift hits both arms. Prints one JSON line per query in
  * the committed-remeasure format ({query, commit, boot_anchor,
  * readings[]}); redirect into BENCH_r{N}_remeasure.json.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.TagAb <query> [...] */
object TagAb {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val commit = sys.env.getOrElse("GIT_COMMIT", "unknown")
    val spark = Harness.session(32)
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      Harness.timeNoop(fn(spark, dir))
    // boot anchor: q1_agg median-of-3 after one warm run
    time(SparkEntry.queries("q1_agg"))
    val anchor = (1 to 3).map(_ => time(SparkEntry.queries("q1_agg")))
      .sorted.apply(1)
    args.foreach { n =>
      // one throwing query must not drop the remaining A/B rows, and a
      // zero base median must not emit Infinity/NaN (invalid JSON) —
      // r16 advice
      try {
        require(SparkEntry.baseQueries.contains(n), s"unknown query $n")
        val tagged = SparkEntry.queries(n)
        val base = SparkEntry.baseQueries(n)
        time(tagged); time(base) // warm both plans
        val readings = (1 to 3).flatMap { _ =>
          Seq("tagged" -> time(tagged), "base" -> time(base))
        }
        val rj = readings.map { case (k, v) =>
          f"""{"arm":"$k","sec":$v%.3f}""" }.mkString("[", ",", "]")
        val medT = readings.collect { case ("tagged", v) => v }.sorted.apply(1)
        val medB = readings.collect { case ("base", v) => v }.sorted.apply(1)
        val ratio = if (medB > 0) medT / medB else -1.0
        println(f"""{"query":"$n","commit":"$commit","boot_anchor":$anchor%.3f,"readings":$rj,"median_tagged":$medT%.3f,"median_base":$medB%.3f,"tag_overhead_ratio":$ratio%.3f}""")
      } catch { case e: Throwable =>
        System.err.println(s"[tagab] $n FAILED: $e")
        println(s"""{"query":"$n","commit":"$commit","error":"${e.getClass.getSimpleName}"}""")
      }
    }
    spark.stop()
  }
}
