package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness every tool `main` goes through: the local session, the
  * noop-sink timer, the name selector and the JSON string helpers. Nothing
  * else in `src/main` builds a session or times a noop write
  * (`ToolingGuardSpec` enforces it). */
object Harness {

  /** Local session with `SPARK_GRAFT_CPUS` cores if set, else `defaultCpus`;
    * shuffle partitions match the core count, UTC, UI off, log level WARN.
    * AQE is Spark's default and is not set here. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds to build `df` and materialize every output column through the
    * noop sink. count() is not an honest action for projection-final
    * queries: Catalyst prunes unreferenced projections, so e.g. t29's
    * rebuilt-text pipeline timed 0.9s under count() vs ~13s real at x64 —
    * count() measured the scan, not the operator. */
  def timeNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The named entries of `universe`, in universe order; all of it when
    * `args` is empty. An unknown name fails loudly: a typo silently
    * selecting nothing (and exiting 0) reads as success. */
  def select(args: Seq[String], universe: Seq[String],
             what: String): Seq[String] = {
    val unknown = args.filterNot(universe.contains)
    require(unknown.isEmpty, s"unknown $what: ${unknown.mkString(", ")}")
    if (args.isEmpty) universe else universe.filter(args.contains)
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in a path or in builder-authored SQL would
    * otherwise make the consumer's JSON parse fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON object from keys and already-rendered JSON values. */
  def jsonObj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}")
}
