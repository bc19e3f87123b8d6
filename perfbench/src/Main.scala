package perfbench

import org.apache.spark.sql.SparkSession

case class Metric(name: String, value: Double, unit: String)

/** What the untraced, or the traced, units of a run add up to.
  * `throughput` is work per second, `p50Ms` the median latency of one
  * operation (`serve` read, `curate` pass) and `tailMs` its tail. */
case class Phase(throughput: Double, p50Ms: Double, tailMs: Double,
                 attempted: Long, failed: Long, layers: Seq[Metric],
                 notes: Seq[String])

/** One workload: inputs from the seed, a repeatable set-up, a measuring
  * loop that also checks outputs. With a trace, `setup` and `measure`
  * time each layer call and read the trace's counters. */
trait Workload {
  /** Generates the seeded inputs; returns a one-line description. */
  def generate(): String
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  /** One set-up; returns per-layer metrics when traced. */
  def setup(trace: Option[Trace]): Seq[Metric]
  /** Checks what the last set-up built: (attempted, failed, notes). */
  def checkSetup(): (Long, Long, Seq[String])
  /** Untimed warm-up between set-up and measuring (JIT, codegen). */
  def warmup(): Unit
  /** How long one measured unit of work takes on the reference box (4
    * vCPUs): a `serve` cycle of 20 operations, a `curate` pass. */
  def unitS: Double
  /** Measures [[Main.units]]`(seconds, unitS)` units of work. With a trace,
    * every other unit runs traced (layer by layer, listeners on), so the
    * untraced and the traced units share the JVM's warm-up: returns
    * (untraced, traced). */
  def measure(seconds: Double, trace: Option[Trace]): (Phase, Option[Phase])
}

case class Ctx(spark: SparkSession, seed: Long, work: String, cores: Int) {
  def path(name: String): String = s"$work/$name"
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toArray
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Main {
  /** Whole units of `unitS` seconds per run: as many in every run, about
    * `seconds` long on the reference box, at least 2. A count that
    * followed the clock would give faster runs more, and more warmed-up,
    * units. */
  def units(seconds: Double, unitS: Double): Int = math.max(2, math.round(seconds / unitS).toInt)

  /** Every per-layer metric, in the order `BENCHMARK.json` lists them. A
    * workload that never calls a layer reports 0 for it. */
  val layerUnits: Seq[(String, String)] = Seq(
    "DocParser.s" -> "s", "DocParser.fallback_share" -> "share",
    "TypedMetadata.s" -> "s", "Chunker.s" -> "s", "Chunker.chunks_per_doc" -> "count",
    "Embedder.s" -> "s", "Embedder.vectors" -> "count",
    "IndexStore.s" -> "s", "IndexStore.bytes" -> "bytes", "IndexStore.files" -> "count",
    "IndexStore.bytes_per_input_byte" -> "ratio",
    "dense.p50_ms" -> "ms", "rerank.p50_ms" -> "ms", "hybrid.p50_ms" -> "ms",
    "docs.p50_ms" -> "ms", "mmr.p50_ms" -> "ms", "multivector.p50_ms" -> "ms",
    "list.p50_ms" -> "ms", "write.p50_ms" -> "ms",
    "dense.time_share" -> "share", "rerank.time_share" -> "share",
    "hybrid.time_share" -> "share", "docs.time_share" -> "share",
    "mmr.time_share" -> "share", "multivector.time_share" -> "share",
    "list.time_share" -> "share", "write.time_share" -> "share",
    "serve.index_files" -> "count",
    "catalyst.plan_ms_per_op" -> "ms", "MetadataFilter.compile_us" -> "us",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "scan.rows_per_result" -> "ratio", "scan.files_per_op" -> "count",
    "spark.result_bytes_per_op" -> "bytes", "serve.recall_at_10" -> "share",
    "exactKeep.s" -> "s", "exactKeep.rows_out" -> "count",
    "minhashLsh.s" -> "s", "minhashLsh.rows_out" -> "count",
    "repetition.s" -> "s", "repetition.rows_out" -> "count",
    "decontaminate.s" -> "s", "decontaminate.rows_out" -> "count",
    "paragraphDedup.s" -> "s", "paragraphDedup.rows_out" -> "count",
    "shuffleShards.s" -> "s", "shuffleShards.rows_out" -> "count",
    "minhashLsh.candidate_pairs" -> "count", "minhashLsh.pair_precision" -> "share",
    "curate.dup_recall" -> "share",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.result_bytes" -> "bytes",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "overhead.setup_s" -> "s", "overhead.peak_rss_mb" -> "MB",
    "overhead.throughput_per_s" -> "1/s", "overhead.latency_p50_ms" -> "ms",
    "overhead.latency_tail_ms" -> "ms")

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Generated rows as a frame, one slice per core. */
  def frame(ctx: Ctx, rows: Seq[org.apache.spark.sql.Row],
            schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores), schema)

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(correct: Boolean, attempted: Long, failed: Long,
                   ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString(", ") + "}}"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    if (workload == "gencheck") { sys.exit(GenCheck.run(seed)) }
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, seed, work, cores)
    val w: Workload = workload match {
      case "serve"  => new Serve(ctx)
      case "curate" => new Curate(ctx)
      case other    => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    try {
      val (desc, genS) = time(w.generate())
      println(s"workload $workload seed $seed local[$cores]: $desc")
      println(f"input_generation_s = $genS%.3f s (not in setup_s)")
      var attempted = 0L
      var failed = 0L
      var notes = Seq.empty[String]
      def checked(r: (Long, Long, Seq[String])): Unit = {
        attempted += r._1; failed += r._2; notes ++= r._3
      }
      val setups = (1 to w.setupReps).map { _ =>
        val s = time(w.setup(None))._2
        checked(w.checkSetup())
        s
      }
      println(s"setup runs: ${setups.map(s => f"$s%.3f").mkString(" ")} s")
      println(f"warm-up: ${time(w.warmup())._2}%.3f s (not measured)")
      val tr = if (trace) Some(new Trace(spark)) else None
      val rss0 = peakRssMb()
      val tracedSetup = tr.map(t => time(t.around(w.setup(tr))._1))
      if (trace) checked(w.checkSetup())
      val (plain, traced) = w.measure(seconds, tr)
      val e2e = Seq(
        Metric("setup_s", Stats.median(setups), "s"),
        Metric("peak_rss_mb", peakRssMb(), "MB"),
        Metric("throughput_per_s", plain.throughput, "1/s"),
        Metric("latency_p50_ms", plain.p50Ms, "ms"),
        Metric("latency_tail_ms", plain.tailMs, "ms"))
      (plain +: traced.toSeq).foreach { p =>
        attempted += p.attempted; failed += p.failed; notes ++= p.notes
      }
      val reported: Seq[Metric] = (tracedSetup, traced) match {
        case (Some((setupLayers, tracedSetupS)), Some(t)) =>
          val overhead = Seq(
            Metric("overhead.setup_s", tracedSetupS - Stats.median(setups), "s"),
            Metric("overhead.peak_rss_mb", peakRssMb() - rss0, "MB"),
            Metric("overhead.throughput_per_s", t.throughput - plain.throughput, "1/s"),
            Metric("overhead.latency_p50_ms", t.p50Ms - plain.p50Ms, "ms"),
            Metric("overhead.latency_tail_ms", t.tailMs - plain.tailMs, "ms"))
          val all = setupLayers ++ t.layers ++ overhead
          val twice = all.groupBy(_.name).collect { case (n, ms) if ms.size > 1 => n }
          require(twice.isEmpty, s"per-layer metrics reported twice: $twice")
          val got = all.map(m => m.name -> m).toMap
          val extra = got.keySet -- layerUnits.map(_._1)
          require(extra.isEmpty, s"per-layer metrics missing from the list: $extra")
          layerUnits.map { case (n, u) => got.get(n).map(_.copy(unit = u)).getOrElse(Metric(n, 0.0, u)) }
        case _ => e2e
      }
      e2e.foreach(m => println(f"${m.name}%-32s = ${m.value}%.4f ${m.unit}"))
      if (trace) reported.foreach(m => println(f"${m.name}%-32s = ${m.value}%.4f ${m.unit}"))
      notes.foreach(n => println(s"note: $n"))
      val failShare = if (attempted > 0) failed.toDouble / attempted else 1.0
      val correct = failed == 0 && attempted > 0
      println(f"fail_share = $failShare%.6f ($failed of $attempted)")
      println(s"check: ${if (correct) "PASS" else "FAIL"}")
      println(json(correct, attempted, failed, reported))
      spark.stop()
      if (!correct) sys.exit(1)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
  }
}
