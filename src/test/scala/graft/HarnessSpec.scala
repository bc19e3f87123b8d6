package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tool harness: the noop timer is the one honest timed action, the
  * selector keeps universe order and names unknown entries, and the JSON
  * helpers survive any string a path or SQL text can hold. */
class HarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("timeNoop runs a projection-final UDF once per row; count() prunes it") {
    val calls = spark.sparkContext.longAccumulator("harness_udf_calls")
    val counted = udf((x: Long) => { calls.add(1); x * 2 })
    val df = spark.range(0, 100, 1, 4).select(counted(col("id")).as("y"))
    assert(df.count() == 100)
    assert(calls.value == 0, "count() should prune the unreferenced UDF")
    val secs = Harness.timeNoop(df)
    assert(calls.value == 100)
    assert(secs >= 0)
  }

  test("select keeps universe order and returns everything for empty args") {
    val universe = Seq("c", "a", "b", "d")
    assert(Harness.select(Nil, universe, "things") == universe)
    assert(Harness.select(Seq("d", "a"), universe, "things") == Seq("a", "d"))
    assert(Harness.select(Seq("b", "b"), universe, "things") == Seq("b"))
  }

  test("select fails on an unknown name, naming it") {
    val e = intercept[IllegalArgumentException] {
      Harness.select(Seq("a", "typo_q"), Seq("a", "b"), "registry queries")
    }
    assert(e.getMessage.contains("typo_q"))
    assert(e.getMessage.contains("registry queries"))
  }

  test("jsonStr: an sf path with quote, backslash, tab, control and " +
    "non-BMP chars round-trips through Jackson unchanged") {
    val path = "/data/sf\"0.1\\x\ty\u0001z😀/é"
    val line = Harness.jsonObj(Seq(
      "sf" -> Harness.jsonStr(path), "n" -> "3", "m" -> """{"a":1.500}"""))
    val node = new ObjectMapper().readTree(line)
    assert(node.get("sf").asText == path)
    assert(node.get("n").asInt == 3)
    assert(node.get("m").get("a").asDouble == 1.5)
    assert(Harness.jsonStr("q1_agg") == "\"q1_agg\"")
  }
}
