package perfbench


import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Corpus, Dedup}

/** `curate`: batch curation of a seeded short-doc corpus, whole-corpus
  * passes back to back: exactKeep → minhashLshKeepList → the
  * repetitionMetrics gate → decontaminate → paragraphDedup →
  * shuffleShards, written out as parquet. */
class Curate(ctx: Ctx) extends Workload {
  val nDocs: Int = 1000
  val unitS: Double = 3.5
  val ngram: Int = 13
  val shards: Int = 8
  private val spark = ctx.spark
  private var corpus: Gen.CurateCorpus = _
  private var pass = 0
  /** The exactKeep output of the last traced pass. */
  private var deduped: DataFrame = _

  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  def generate(): String = {
    corpus = Gen.curate(ctx.seed, nDocs)
    val bytes = corpus.docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    f"${corpus.docs.size} docs, ${bytes / 1e6}%.1f MB; planted ${corpus.exactGroups.size} " +
      s"exact-duplicate groups (${corpus.exactGroups.map(_.size - 1).sum} copies), " +
      s"${corpus.nearPairs.size} near duplicates, ${corpus.contaminated.size} contaminated " +
      s"by ${corpus.evalDocs.size} eval docs, ${corpus.spam.size} spam; " +
      s"digest ${corpus.digest.take(16)}"
  }

  /** The staged corpus and eval set every pass reads. */
  private var docs: DataFrame = _
  private var evalSet: DataFrame = _

  private def ids(df: DataFrame, c: String): DataFrame = df.select(col(c).as("doc_id"))

  /** The stages, each a function of the previous stage's surviving docs. */
  private val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
    "exactKeep" -> (d => d.join(ids(Dedup.exactKeep(d, "doc_id", "text"), "keep_id"), "doc_id")),
    "minhashLsh" -> (d => d.join(ids(Dedup.minhashLshKeepList(d, "doc_id", "text")
      .filter(col("id") === col("keep_id")), "id"), "doc_id")),
    "repetition" -> (d => d.join(ids(Corpus.repetitionMetrics(d, "doc_id", "text")
      .filter(col("keep")), "id"), "doc_id")),
    "decontaminate" -> (d => d.join(ids(Corpus.decontaminate(d, evalSet, "doc_id", "text", ngram),
      "id"), Seq("doc_id"), "left_anti")),
    "paragraphDedup" -> (d => Dedup.paragraphDedup(d, "doc_id", "text", c => split(c, "\n"))
      .filter(col("n_kept") > 0).select(col("id").as("doc_id"), col("kept_text").as("text"))),
    "shuffleShards" -> (d => Corpus.shuffleShards(d, "doc_id", shards, s"seed${ctx.seed}")))

  private def run(in: DataFrame, out: String): Unit =
    stages.foldLeft(in) { case (d, (_, f)) => f(d) }.write.parquet(out)

  /** The same stages, each one's output materialized and timed before the
    * next reads it. */
  private def runTraced(in: DataFrame, out: String): Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    var d = in
    stages.foreach { case (name, f) =>
      val (next, s) =
        if (name == "shuffleShards") { val (_, s) = Main.time(f(d).write.parquet(out)); (spark.read.parquet(out), s) }
        else Main.time(f(d).localCheckpoint())
      m += s"$name.s" -> s
      m += s"$name.rows_out" -> next.count().toDouble
      if (name == "exactKeep") deduped = next
      d = next
    }
    m.result()
  }

  /** MinHash candidate pairs among the exactKeep survivors, and the share
    * a direct word 5-shingle Jaccard >= 0.5 confirms. */
  private def candidatePairs(): Map[String, Double] = {
    val pairs = Dedup.minhashLshPairs(deduped, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val text = corpus.docs.toMap
    val ok = pairs.count { case (a, b) => jaccard(text(a), text(b)) >= 0.5 }
    Map("minhashLsh.candidate_pairs" -> pairs.length.toDouble,
      "minhashLsh.pair_precision" -> (if (pairs.isEmpty) 0.0 else ok.toDouble / pairs.length))
  }

  private def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(5).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x intersect y).size.toDouble / (x union y).size
  }

  /** Staging is short (about 0.3 s), so more repetitions steady its median. */
  val setupReps: Int = 7
  /** The reported pass tail: a run makes about 4 passes, too few for a
    * high percentile, so the tail is their p75 rather than the slowest. */
  val tailPct: Double = 75.0

  /** Stages the corpus and the eval set in Spark's block store. No
    * program code runs here: `setup_s` on `curate` times Spark's staging
    * of the generated rows, which no change to the program moves. */
  def setup(trace: Option[Trace]): Seq[Metric] = {
    def stage(rows: Seq[(Long, String)]) =
      Main.frame(ctx, rows.map { case (i, t) => Row(i, t) }, schema).localCheckpoint()
    docs = stage(corpus.docs)
    evalSet = stage(corpus.evalDocs)
    Nil
  }

  def checkSetup(): (Long, Long, Seq[String]) = {
    val (n, e) = (docs.count(), evalSet.count())
    val ok = n == corpus.docs.size && e == corpus.evalDocs.size
    (1L, if (ok) 0L else 1L, if (ok) Nil else Seq(s"curate: staged $n docs and $e eval docs"))
  }

  /** Two full passes: the first one compiles, the second lets the JIT
    * catch up, so the measured passes start near their steady pace. */
  def warmup(): Unit = (1 to 2).foreach { i =>
    val out = ctx.path(s"warm-$i")
    run(docs, out)
    IndexBuild.delete(out)
  }

  /** (attempted, failed, near-duplicate recall, notes) for one output. */
  private def check(out: String): (Long, Long, Double, Seq[String]) = {
    val rows = spark.read.parquet(out).select("doc_id", "shard", "seq").collect()
    val kept = rows.map(_.getLong(0)).toSet
    val notes = Seq.newBuilder[String]
    var failed = 0L
    def fail(msg: String): Unit = { failed += 1; notes += s"curate: $msg" }
    if (kept.size != rows.length || rows.isEmpty) fail("output ids are not unique or output is empty")
    if (rows.map(r => (r.getLong(1), r.getInt(2))).distinct.length != rows.length)
      fail("two docs share a (shard, seq) slot")
    corpus.exactGroups.foreach { g =>
      if (g.count(kept) > 1) fail(s"exact-duplicate group ${g.head} kept ${g.count(kept)} copies")
    }
    corpus.contaminated.foreach(id => if (kept(id)) fail(s"contaminated doc $id kept"))
    corpus.spam.foreach(id => if (kept(id)) fail(s"repetitive doc $id kept"))
    val recall = corpus.nearPairs.count { case (a, b) => !(kept(a) && kept(b)) }.toDouble /
      math.max(corpus.nearPairs.size, 1)
    (2L + corpus.exactGroups.size + corpus.contaminated.size + corpus.spam.size, failed,
      recall, notes.result().take(5))
  }

  def measure(seconds: Double, trace: Option[Trace]): (Phase, Option[Phase]) = {
    // (pass seconds, layer metrics, near-duplicate recall), per kind of pass
    val passes = Map(false -> Seq.newBuilder[(Double, Map[String, Double], Double)],
      true -> Seq.newBuilder[(Double, Map[String, Double], Double)])
    var engine = Map.empty[String, Double]
    var attempted = 0L; var failed = 0L
    val notes = Seq.newBuilder[String]
    var n = 0
    while (n < Main.units(seconds, unitS)) {
      pass += 1; n += 1
      val out = ctx.path(s"pass-$pass")
      val t = trace.filter(_ => n % 2 == 0)
      val (l, s) = t match {
        case None => Main.time { run(docs, out); Map.empty[String, Double] }
        case Some(tr) =>
          val (r, d) = tr.around(Main.time(runTraced(docs, out)))
          engine = Trace.add(engine, d)
          (r._1 ++ candidatePairs(), r._2)
      }
      val (a, f, recall, ns) = check(out)
      attempted += a; failed += f; notes ++= ns
      passes(t.isDefined) += ((s, l, recall))
      IndexBuild.delete(out)
    }
    def phase(traced: Boolean): Phase = {
      val ps = passes(traced).result()
      val times = ps.map(_._1)
      val recall = Stats.median(ps.map(_._3))
      val tag = if (traced) "traced" else "untraced"
      val layers = if (!traced) Nil else
        ps.head._2.keys.toSeq.sorted.map(k => Metric(k, Stats.median(ps.map(_._2(k))), "")) ++
          Seq(Metric("curate.dup_recall", recall, "")) ++ Trace.engineMetrics(engine, ps.size)
      Phase(Stats.median(times.map(nDocs / _)), Stats.median(times) * 1000,
        Stats.pct(times, tailPct) * 1000, 0L, 0L, layers, Seq(
          f"$tag: curate_docs_per_s = ${Stats.median(times.map(nDocs / _))}%.1f 1/s " +
            s"(median of ${ps.size} passes: ${times.map(x => f"$x%.2f").mkString(" ")} s)",
          f"$tag: curate_pass_p50_ms = ${Stats.median(times) * 1000}%.1f ms, " +
            f"curate_pass_p${tailPct}%.0f_ms = ${Stats.pct(times, tailPct) * 1000}%.1f ms (n=${ps.size} passes)",
          f"$tag: curate_dup_recall = $recall%.4f (${corpus.nearPairs.size} planted near duplicates)"))
    }
    (phase(false).copy(attempted = attempted, failed = failed,
      notes = notes.result().distinct.take(5) ++ phase(false).notes),
      trace.map(_ => phase(true)))
  }
}
