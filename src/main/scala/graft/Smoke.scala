package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(10, false)
    spark.stop()
  }
}
