package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

/** [[QueryProfile]]'s counts are complete when it returns, and it leaves no
  * listener behind whether its body returns or throws. */
class QueryProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a two-stage aggregate reports its one job, two stages and one plan as soon as the call returns") {
    // without AQE the aggregate is one job. Listeners get events
    // asynchronously: over 30 rounds, a profile that did not drain the bus
    // misses a plan or counts the action just before it.
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try for (round <- 1 to 30) {
      spark.range(10).collect()
      val (rows, profile) = QueryProfile(spark) {
        spark.range(0, 1000, 1, 4).groupBy((col("id") % 3).as("k")).count().collect()
      }
      assert(rows.map(_.getLong(1)).sum == 1000L)
      assert(profile.jobs.map(_.callSite.takeWhile(_ != ' ')) == Seq("collect"), s"round $round")
      assert(profile.stages.size == 2, s"round $round: ${profile.stages}")
      assert(profile.plans.map(_.funcName) == Seq("collect"), s"round $round")
    } finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }

  test("an eager and a lazy localCheckpoint each report the plan they cut") {
    for (eager <- Seq(true, false)) {
      val df = spark.range(0, 100, 1, 4).select((col("id") * 7).as("cut_probe"))
      val (cut, profile) = QueryProfile(spark)(df.localCheckpoint(eager))
      val cuts = profile.plans.filter(_.funcName == "localCheckpoint")
      assert(cuts.size == 1, s"eager=$eager: ${profile.plans.map(_.funcName)}")
      assert(cuts.head.plan.toString.contains("cut_probe"), cuts.head.plan)
      assert(cut.count() == 100L)
    }
  }

  test("once the call returns its listeners are gone") {
    val before = ListenerBridge.listeners(spark)
    val (during, _) = QueryProfile(spark)(ListenerBridge.listeners(spark))
    assert(during.size == before.size + 2, "the profile's two listeners were not registered")
    assert(ListenerBridge.listeners(spark) == before)
  }

  test("a throwing body's exception reaches the caller and its listeners are removed") {
    val before = ListenerBridge.listeners(spark)
    val boom = new IllegalStateException("boom")
    assert(intercept[IllegalStateException] {
      QueryProfile(spark) { spark.range(10).collect(); throw boom }
    } eq boom)
    assert(ListenerBridge.listeners(spark) == before)
  }
}
