package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftService
import graft.GraftService.{ChunkTable, RetrieveRequest}
import graft.filters.MetadataFilter
import graft.operators.{Chunker, HashEmbedder, Listing}
import graft.sources.IndexStore
import graft.streaming.IngestPipeline

/** `serve`: a closed loop with one client over a partitioned chunk index
  * and a documents table. 95% reads of seven kinds, 5% writes of 16 docs
  * each; about half of the reads repeat an earlier (query, scope) pair.
  * Every read plans from the index path and ends in `collect()`; its
  * latency runs from building the request's frame to the last row. */
class Serve(ctx: Ctx) extends Workload {
  val nDocs: Int = 200
  val k: Int = 10
  val writeDocs: Int = 16
  /** Operations per 20-op cycle; each cycle runs them in a seeded order,
    * so every run sees the same mix: 95% reads, 5% writes. The split of
    * the reads among the kinds is an assumption, not a measured trace:
    * plain dense retrieval, the default request, gets the largest share,
    * listing the next, and each other kind one or two. */
  val cycle: Seq[(String, Int)] = Seq("dense" -> 7, "rerank" -> 2, "hybrid" -> 1,
    "docs" -> 2, "mmr" -> 2, "multivector" -> 2, "list" -> 3, "write" -> 1)
  val readKinds: Seq[String] = cycle.map(_._1).filter(_ != "write")

  private val spark = ctx.spark
  private var fileRows: Seq[Row] = Nil
  private var docRows: Seq[Row] = Nil
  private val embedder = IndexBuild.cfg.embedder.asInstanceOf[HashEmbedder]

  /** What the benchmark knows about each document, from the generator. */
  case class DocInfo(app: String, folder: String, createdAt: Long, topic: Int,
                     meta: Gen.FileDocMeta)
  /** A chunk of the collected index. */
  case class MChunk(doc: Long, chunk: Int, app: String, emb: Array[Float])

  private val docs = mutable.LinkedHashMap[Long, DocInfo]()
  private val mirror = ArrayBuffer[MChunk]()
  private var mirrorFresh = false
  private var generation = 0
  private var nextId = 0L
  private var writes = 0
  private val ops = Gen.rng(ctx.seed, 5)
  private val history = ArrayBuffer[Gen.Read]()
  private val schedule = mutable.Queue[String]()
  private var indexSchema: StructType = _
  private var docsSchema: StructType = _
  private var inputBytes = 0L
  private var planted = Set.empty[Long]

  private def indexPath = ctx.path(s"index-$generation")
  private def docsPath = ctx.path(s"documents-$generation")

  private def info(f: Gen.FileDoc) = DocInfo(f.appId, f.folder, f.createdAt, f.topic,
    Gen.FileDocMeta(f.category, f.year, f.priority))
  private def info(t: Gen.TextDoc) = DocInfo(t.appId, t.folder, t.createdAt, t.topic,
    Gen.FileDocMeta(t.category, t.year, t.priority))

  private val docSchema = StructType(Seq(
    StructField("document_id", LongType, nullable = false),
    StructField("filename", StringType), StructField("app_id", StringType),
    StructField("folder_path", StringType), StructField("end_user_id", StringType),
    StructField("created_at", LongType)))

  def generate(): String = {
    val fs = Gen.files(ctx.seed, nDocs)
    inputBytes = fs.map(_.bytes.length.toLong).sum
    planted = fs.filter(_.planted.nonEmpty).map(_.id).toSet
    fileRows = IndexBuild.fileRows(fs)
    docRows = fs.map(f => Row(f.id, f.filename, f.appId, f.folder, f.endUser, f.createdAt))
    fs.foreach(f => docs(f.id) = info(f))
    nextId = nDocs.toLong
    f"$nDocs docs, ${inputBytes / 1e6}%.1f MB (${planted.size} empty/undecodable) in the " +
      "index set-up; closed loop, 1 client; " +
      s"ops per 20: ${cycle.map { case (n, c) => s"$n=$c" }.mkString(" ")}; " +
      s"digest ${Gen.digest(fs.iterator.map(_.digestBytes)).take(16)}"
  }

  val setupReps: Int = 3
  val unitS: Double = 6.5

  /** Ingests the corpus into a fresh index and documents table; the
    * docs appended by earlier writes are dropped with the old index. */
  def setup(trace: Option[Trace]): Seq[Metric] = {
    val old = generation
    generation += 1
    val files = Main.frame(ctx, fileRows, IndexBuild.fileSchema)
    val layers = trace match {
      case None =>
        IndexBuild.ingest(files, indexPath, ctx.path(s"status-$generation"))
        Nil
      case Some(_) =>
        val l = IndexBuild.ingestTraced(files, indexPath, ctx.path(s"status-$generation"))
        l.toSeq.map { case (n, v) => Metric(n, v, "") } :+
          Metric("IndexStore.bytes_per_input_byte", l("IndexStore.bytes") / inputBytes, "")
    }
    Main.frame(ctx, docRows, docSchema).write.parquet(docsPath)
    // the serving tables' schemas, as a catalog would hold them: reads list
    // the files on every request but do not infer the schema
    indexSchema = spark.read.parquet(indexPath).schema
    docsSchema = spark.read.parquet(docsPath).schema
    Seq("index", "documents", "status").foreach(d => IndexBuild.delete(ctx.path(s"$d-$old")))
    docs.filterInPlace((id, _) => id < nDocs)
    mirrorFresh = false
    layers
  }

  def checkSetup(): (Long, Long, Seq[String]) =
    IndexBuild.check(spark, nDocs, planted, indexPath, ctx.path(s"status-$generation"), generation)

  /** One read of each kind and one write, outside the measured stream. */
  def warmup(): Unit = {
    val r = Gen.rng(ctx.seed, 6)
    readKinds.zipWithIndex.foreach { case (kd, i) => execute(Gen.read(r, kd, i, 0)) }
    write()
  }

  /** Adds the index's chunks with `document_id >= from` to the mirror. */
  private def collectMirror(from: Long): Unit =
    spark.read.parquet(indexPath).filter(col("document_id") >= from)
      .select("document_id", "chunk_number", "app_id", "embedding").collect()
      .foreach(r => mirror += MChunk(r.getLong(0), r.getInt(1), r.getString(2),
        r.getSeq[Float](3).toArray))

  private def pickKind(): String = {
    if (schedule.isEmpty) schedule ++= ops.shuffle(cycle.flatMap { case (n, c) => Seq.fill(c)(n) })
    schedule.dequeue()
  }

  private val readsOfKind = mutable.Map[String, Int]().withDefaultValue(0)

  /** Every other read of a kind repeats an earlier (query, scope) pair of
    * its kind, so each kind's fresh reads visit the tenants in the same
    * order in every run. */
  private def nextRead(kind: String): Gen.Read = {
    readsOfKind(kind) += 1
    val same = history.filter(_.kind == kind)
    if (same.nonEmpty && readsOfKind(kind) % 2 == 0) same(ops.nextInt(same.size))
    else { val r = Gen.read(ops, kind, readKinds.indexOf(kind), same.size); history += r; r }
  }

  private def request(r: Gen.Read) =
    RetrieveRequest(r.query, k = k, filters = r.filter.map(_.json), appId = Some(r.appId))

  private val resultCols = Seq("document_id", "chunk_number", "app_id", "content", "score")

  /** Runs one read to `collect()`. */
  private def execute(r: Gen.Read): Array[Row] = {
    val index = spark.read.schema(indexSchema).parquet(indexPath)
    val req = request(r)
    val table = ChunkTable(index)
    r.kind match {
      case "dense"  => GraftService.retrieveChunks(req, table).select(resultCols.map(col): _*).collect()
      case "rerank" => GraftService.retrieveChunks(req.copy(useReranking = true), table)
        .select(resultCols.map(col): _*).collect()
      case "hybrid" => GraftService.retrieveChunksHybrid(req, table).select(resultCols.map(col): _*).collect()
      case "docs"   => GraftService.retrieveDocs(req, table).collect()
      case "mmr"    => GraftService.retrieveChunksDiverse(req, table)
        .select((resultCols :+ "mmr_rank").map(col): _*).collect()
      case "multivector" => GraftService.retrieveChunksMultivector(req,
        ChunkTable(index.filter(col("mv").isNotNull)), "mv", IndexBuild.mvEmbedder)
        .select(resultCols.map(col): _*).collect()
      case "list" =>
        val where = col("app_id") === r.appId &&
          r.folderPrefix.map(p => col("folder_path").startsWith(p)).getOrElse(lit(true))
        Listing.page(spark.read.schema(docsSchema).parquet(docsPath), where,
          Seq(Listing.Sort("created_at", desc = true)), "document_id", r.skip.toLong, 20)
          .rows.collect()
    }
  }

  private def inScope(r: Gen.Read, doc: Long): Boolean =
    docs.get(doc).exists(d => d.app == r.appId && r.filter.forall(_.pred(d.meta)))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Checks a read's rows; returns a failure description, or None.
    * Dense reads must equal the exact top-k over the collected index. */
  private def check(r: Gen.Read, rows: Array[Row], recall: ArrayBuffer[Double],
                    probe: Option[Long]): Option[String] = r.kind match {
    case "list" =>
      val want = docs.toSeq.filter { case (_, d) => d.app == r.appId &&
        r.folderPrefix.forall(d.folder.startsWith) }
        .sortBy { case (id, d) => (-d.createdAt, id) }.slice(r.skip, r.skip + 20).map(_._1)
      val got = rows.map(_.getAs[Long]("document_id")).toSeq
      if (got == want) None else Some(s"list page $got != $want")
    case kind =>
      val ids = rows.map(_.getAs[Long]("document_id"))
      if (ids.exists(!inScope(r, _))) Some(s"$kind returned a row outside its scope")
      else if (kind != "docs" && rows.length > k) Some(s"$kind returned ${rows.length} > $k rows")
      else if (kind != "dense") None
      else {
        val q = embedder.embedText(r.query)
        val scored = mirror.iterator.filter(c => inScope(r, c.doc))
          .map(c => (c, cosine(c.emb, q))).toSeq.sortBy(-_._2)
        val want = scored.take(k).map(_._2)
        val exact = scored.map { case (c, s) => (c.doc, c.chunk) -> s }.toMap
        val got = rows.map(x => (x.getAs[Long]("document_id"), x.getAs[Int]("chunk_number"),
          x.getAs[Double]("score")))
        val sameScores = got.length == want.length &&
          got.map(_._3).zip(want).forall { case (a, b) => math.abs(a - b) < 1e-4 }
        val rowsExact = got.forall { case (d, c, s) => exact.get((d, c)).exists(e => math.abs(e - s) < 1e-4) }
        if (!sameScores || !rowsExact) Some(s"dense top-$k differs from the exact top-$k")
        else probe match {
          case Some(id) =>
            if (got.headOption.exists(_._1 == id)) None
            else Some(s"written doc $id is not the top hit of its own chunk")
          case None =>
            val rel = scored.count { case (c, _) => docs(c.doc).topic == r.topic }
            if (rel > 0) recall += got.count { case (d, _, _) => docs(d).topic == r.topic }
              .toDouble / math.min(k, rel)
            None
        }
      }
  }

  private val writeSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("filename", StringType),
    StructField("text", StringType), StructField("metadata_json", StringType),
    StructField("app_id", StringType), StructField("end_user_id", StringType),
    StructField("folder_path", StringType)))

  /** 16 new plain-text docs: processBatch, then an append to the index
    * and to the documents table. Returns the docs. */
  private def write(): Seq[Gen.TextDoc] = {
    writes += 1
    val ws = Gen.textDocs(ctx.seed, writeDocs, nextId, 100L + writes)
    nextId += writeDocs
    ws.foreach(d => docs(d.id) = info(d))
    val rows = spark.createDataFrame(ws.map(d => Row(d.id, s"doc${d.id}.txt", d.text,
      d.metaJson, d.appId, d.endUser, d.folder)).asJava, writeSchema)
    val chunks = IngestPipeline.processBatch(rows.select("doc_id", "text"), IndexBuild.cfg)
    IndexStore.writePartitioned(IndexBuild.indexRows(chunks, IndexBuild.meta(rows), withMv = false),
      indexPath, "app_id", SaveMode.Append)
    spark.createDataFrame(ws.map(d => Row(d.id, s"doc${d.id}.txt", d.appId, d.folder, d.endUser,
      d.createdAt)).asJava, docSchema).write.mode(SaveMode.Append).parquet(docsPath)
    ws
  }

  /** The reported read tail: the highest whole percentile that leaves at
    * least 10 of `n` reads beyond it, p73 for a run's 38 reads (p99 would
    * need 1,000), and never below the median. */
  def tailPct(n: Int): Double = math.max(50.0, math.floor(100.0 * (1.0 - 10.0 / math.max(n, 1))))

  /** What the untraced, or the traced, operations of a run add up to. */
  private class Acc {
    val lat = mutable.Map[String, ArrayBuffer[Double]]()
    val compileUs = ArrayBuffer[Double]()
    val recall = ArrayBuffer[Double]()
    var engine = Map.empty[String, Double]
    var resultRows = 0L
    var attempted = 0L
    var failed = 0L
    val notes = ArrayBuffer[String]()
  }

  def measure(seconds: Double, trace: Option[Trace]): (Phase, Option[Phase]) = {
    if (!mirrorFresh) { mirror.clear(); collectMirror(0L); mirrorFresh = true }
    val (plain, traced) = (new Acc, new Acc)
    var probe: Option[Gen.TextDoc] = None
    val perKind = mutable.Map[String, Int]().withDefaultValue(0)
    var cycles = 0
    // whole cycles only, and as many in every run, so every run measures
    // the same mix
    val toRun = Main.units(seconds, unitS)
    while (!(probe.isEmpty && schedule.isEmpty && cycles == toRun)) {
      if (probe.isEmpty && schedule.isEmpty) cycles += 1
      // the read that checks a write is a dense read, kept apart from the
      // mix's reads: timed, but in no read percentile and not in ops/s
      val kind = if (probe.isDefined) "probe" else pickKind()
      // every other operation of each kind runs traced; probes never do
      perKind(kind) += 1
      val t = trace.filter(_ => kind != "probe" && perKind(kind) % 2 == 0)
      val acc = if (t.isDefined) traced else plain
      val read = probe match {
        // the first chunk of a just-written doc, as a query: that doc must
        // be the top hit of the very next read
        case Some(d) => Some(Gen.Read("dense", Chunker.splitText(d.text,
          IndexBuild.cfg.chunkSize, IndexBuild.cfg.overlap).head, d.topic, d.appId, None, None, 0))
        case None if kind != "write" => Some(nextRead(kind))
        case None => None
      }
      if (t.isDefined) read.flatMap(_.filter).foreach { f =>
        acc.compileUs += Main.time(MetadataFilter.compile(f.json,
          MetadataFilter.Ctx(col("metadata"), col("metadata_types"))))._2 * 1e6
      }
      def run(): (Either[String, Either[Array[Row], Seq[Gen.TextDoc]]], Double) = {
        val t0 = System.nanoTime()
        val out =
          try Right(read match {
            case Some(r) => Left(execute(r))
            case None    => Right(write())
          }) catch { case e: Exception => Left(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        (out, (System.nanoTime() - t0) / 1e6)
      }
      val (outcome, ms) = t match {
        case Some(tr) => val (r, d) = tr.around(run()); acc.engine = Trace.add(acc.engine, d); r
        case None     => run()
      }
      acc.attempted += 1
      acc.lat.getOrElseUpdate(kind, ArrayBuffer[Double]()) += ms
      val problem = outcome match {
        case Left(err) => Some(err)
        case Right(Left(rows)) =>
          acc.resultRows += rows.length
          val p = check(read.get, rows, acc.recall, probe.map(_.id))
          probe = None
          p
        case Right(Right(ws)) =>
          val before = mirror.size
          collectMirror(ws.head.id)
          probe = Some(ws.head)
          val indexed = mirror.iterator.drop(before).map(_.doc).toSet
          val missing = ws.map(_.id).filterNot(indexed)
          if (missing.isEmpty) None else Some(s"written docs $missing are not in the index")
      }
      problem.foreach { p => acc.failed += 1; if (acc.notes.size < 5) acc.notes += s"serve: $p" }
    }
    (phase(plain, traced = false), trace.map(_ => phase(traced, traced = true)))
  }

  private def phase(acc: Acc, traced: Boolean): Phase = {
    def lat(kind: String): Seq[Double] = acc.lat.getOrElse(kind, Nil).toSeq
    val reads = readKinds.flatMap(lat)
    val writesMs = lat("write")
    val nOps = reads.size + writesMs.size
    val spentMs = (reads ++ writesMs).sum
    // each kind's share of the mix's operation time: the ops/s figure is
    // their sum, so a slow kind's weight in it shows here
    val share = cycle.map { case (kd, _) => kd -> lat(kd).sum / spentMs }
    val probes = lat("probe")
    val tail = tailPct(reads.size)
    val meanRecall = if (acc.recall.isEmpty) 0.0 else acc.recall.sum / acc.recall.size
    val tag = if (traced) "traced" else "untraced"
    val notes = acc.notes.toSeq ++ Seq(
      f"$tag: serve_read_p50_ms = ${Stats.median(reads)}%.3f ms, " +
        f"serve_read_p${tail}%.0f_ms = ${Stats.pct(reads, tail)}%.3f ms (n=${reads.size} reads)",
      s"$tag: per-kind p50 ms: " + cycle.map { case (kd, _) =>
        f"$kd=${Stats.median(lat(kd))}%.0f(n=${lat(kd).size})" }.mkString(" "),
      s"$tag: per-kind share of operation time: " + share.map { case (kd, x) =>
        f"$kd=${x * 100}%.0f%%" }.mkString(" "),
      f"$tag: serve_write_p50_ms = ${Stats.median(writesMs)}%.3f ms (n=${writesMs.size})",
      f"$tag: serve_ops_per_s = ${nOps * 1000 / spentMs}%.3f 1/s (n=$nOps ops in ${spentMs / 1000}%.2f s)",
      f"$tag: serve_recall_at_10 = $meanRecall%.4f (n=${acc.recall.size} dense reads)") ++
      (if (probes.isEmpty) Nil
       else Seq(f"$tag: write-check read p50 = ${Stats.median(probes)}%.3f ms (n=${probes.size}, in no figure above)"))
    val layers = if (!traced) Nil else {
      val (_, files) = IndexBuild.dirSize(indexPath)
      val e = acc.engine
      cycle.map { case (kd, _) => Metric(s"$kd.p50_ms", Stats.median(lat(kd)), "") } ++
        share.map { case (kd, x) => Metric(s"$kd.time_share", x, "") } ++
        Seq(
          Metric("catalyst.plan_ms_per_op",
            (e("catalyst.analysis_ms") + e("catalyst.optimization_ms") + e("catalyst.planning_ms")) / nOps, ""),
          Metric("MetadataFilter.compile_us", Stats.median(acc.compileUs.toSeq), ""),
          Metric("spark.jobs_per_op", e("spark.jobs") / nOps, ""),
          Metric("spark.tasks_per_op", e("spark.tasks") / nOps, ""),
          Metric("scan.rows_per_result", e("scan.rows") / math.max(acc.resultRows, 1L), ""),
          Metric("scan.files_per_op", e("scan.files") / nOps, ""),
          Metric("spark.result_bytes_per_op", e("spark.result_bytes") / nOps, ""),
          Metric("serve.recall_at_10", meanRecall, ""),
          Metric("serve.index_files", files.toDouble, "")) ++
        Trace.engineMetrics(e, nOps)
    }
    Phase(nOps * 1000 / spentMs, Stats.median(reads), Stats.pct(reads, tail),
      acc.attempted, acc.failed, layers, notes)
  }
}
