package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The previous-artifact parse behind SPARK_GRAFT_PREV_BENCH: a committed
  * artifact may be one pretty-printed JSON document or slim + full JSON
  * lines, and only the full object carries the per-query map. Also pins
  * that every index-backed row Bench prepares times the registry row's own
  * body. */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("every prepared probe returns its registry row: same columns, rows and order") {
    val dir = "/root/testdata/sf0.001"
    assert(Bench.preparedFactories.nonEmpty)
    for ((name, prepare) <- Bench.preparedFactories) {
      val probe = prepare(spark, dir)()
      val row = SparkEntry.baseQueries(name)(spark, dir)
      assert(probe.columns.toSeq == row.columns.toSeq, s"$name: columns differ")
      val (got, want) = (probe.collect().toSeq, row.collect().toSeq)
      assert(want.nonEmpty, s"$name: the registry row is empty")
      assert(got == want, s"$name: rows or order differ:\n$got\n----\n$want")
    }
  }

  test("parsePrev reads a pretty-printed artifact") {
    val text =
      """{
        |  "metric": "total",
        |  "value": 3.5,
        |  "queries": {
        |    "q1_agg": 1.25,
        |    "t17_components": 2.25
        |  },
        |  "sf": "/root/testdata/sf0.1"
        |}
        |""".stripMargin
    assert(Bench.parsePrev(text) ==
      Some(Map("q1_agg" -> 1.25, "t17_components" -> 2.25)))
  }

  test("parsePrev uses the full line of a slim + full JSON-lines file") {
    val slim = """{"metric":"total","value":3.500,"anchors":{"q1_agg":{"first":1.0,"last":1.1}}}"""
    val full = """{"metric":"total","value":3.500,"queries":{"q1_agg":1.250,"t17_components":2.250}}"""
    assert(Bench.parsePrev(s"$slim\n$full\n") ==
      Some(Map("q1_agg" -> 1.25, "t17_components" -> 2.25)))
    // the old stdout shape (slim, full, slim) keeps the full line's map too
    assert(Bench.parsePrev(s"$slim\n$full\n$slim\n") ==
      Some(Map("q1_agg" -> 1.25, "t17_components" -> 2.25)))
  }

  test("parsePrev returns None on garbage and on objects without a map") {
    assert(Bench.parsePrev("").isEmpty)
    assert(Bench.parsePrev("not json\n{\"queries\": [1, 2]}\n\"queries\"").isEmpty)
    assert(Bench.parsePrev("""{"metric":"total","queries":"none"}""").isEmpty)
  }
}
