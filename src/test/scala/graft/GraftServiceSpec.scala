package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftService._
import graft.operators.HashEmbedder

/** End-to-end retrieve over a Morphik-shaped chunk table: scope + DSL
  * filters push before scoring; min_score, rerank oversampling, padding and
  * doc-level grouping compose; results are deterministic. */
class GraftServiceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  lazy val emb = HashEmbedder(64)

  /** 3 docs x 3 chunks across two apps/folders with typed metadata. */
  lazy val chunkTable: ChunkTable = {
    val rows = for {
      d <- 1 to 3
      n <- 0 until 3
    } yield {
      val content = d match {
        case 1 => s"spark query engine chunk $n"
        case 2 => s"cooking pasta recipe part $n"
        case 3 => s"spark cluster tuning note $n"
      }
      (d.toLong, n, content,
        Map("year" -> (2020 + d).toString, "dept" -> (if (d == 2) "food" else "eng")),
        Map("year" -> "number", "dept" -> "string"),
        if (d == 3) "app2" else "app1",
        s"user$d",
        if (d == 1) "/proj/spark" else if (d == 3) "/proj/spark/deep" else "/other")
    }
    val df = rows.toDF("document_id", "chunk_number", "content",
      "metadata", "metadata_types", "app_id", "end_user_id", "folder_path")
    ChunkTable(emb.embed(df, "content", "embedding"))
  }

  test("scope filters restrict the corpus before scoring") {
    val req = RetrieveRequest("spark query engine chunk 0", k = 10,
      appId = Some("app1"))
    val got = retrieveChunks(req, chunkTable)
    assert(got.select("document_id").distinct().as[Long].collect().toSet == Set(1L, 2L))
    // unscoped finds doc 3 too
    val all = retrieveChunks(req.copy(appId = None), chunkTable)
    assert(all.select("document_id").distinct().count() == 3)
  }

  test("metadata DSL + folder depth scoping compose") {
    val req = RetrieveRequest("spark", k = 10,
      filters = Some("""{"dept": "eng", "year": {"$gte": 2021}}"""),
      folderPath = Some("/proj/spark"), folderDepth = -1)
    val got = retrieveChunks(req, chunkTable)
      .select("document_id").distinct().as[Long].collect().toSet
    assert(got == Set(1L, 3L)) // doc 2 is dept=food and /other
    val exact = retrieveChunks(req.copy(folderDepth = 0), chunkTable)
      .select("document_id").distinct().as[Long].collect().toSet
    assert(exact == Set(1L)) // depth 0 = exact path only
  }

  test("top-1 retrieval finds the verbatim chunk; min_score filters") {
    val req = RetrieveRequest("cooking pasta recipe part 1", k = 1)
    val top = retrieveChunks(req, chunkTable)
      .select("document_id", "chunk_number").as[(Long, Int)].head()
    assert(top == (2L, 1))
    val none = retrieveChunks(req.copy(minScore = 1.01), chunkTable)
    assert(none.count() == 0)
  }

  test("rerank path oversamples then truncates to k with overlap scoring") {
    val req = RetrieveRequest("spark cluster tuning note 2", k = 2,
      useReranking = true)
    val got = retrieveChunks(req, chunkTable)
    assert(got.count() == 2)
    val top = got.orderBy(col("score").desc)
      .select("document_id").as[Long].head()
    assert(top == 3L)
  }

  test("padding attaches neighbors with score 0") {
    val req = RetrieveRequest("spark query engine chunk 1", k = 1, padding = 1)
    val got = retrieveChunks(req, chunkTable)
      .select("document_id", "chunk_number", "is_padding")
      .as[(Long, Int, Boolean)].collect().toSet
    assert(got == Set((1L, 1, false), (1L, 0, true), (1L, 2, true)))
  }

  test("doc-level grouping takes max chunk score; context assembly ranks") {
    val req = RetrieveRequest("spark query engine", k = 6)
    val docs = retrieveDocs(req, chunkTable)
    assert(docs.columns.toSet == Set("document_id", "score", "chunk_hits"))
    val ctx = assembleContext(
      retrieveChunks(req.copy(k = 3), chunkTable),
      "content", "document_id", "chunk_number")
      .select("context", "n_chunks").as[(String, Long)].head()
    assert(ctx._2 == 3)
    assert(ctx._1.split("\n\n").length == 3)
  }

  test("folderScope dispatcher: exact / -1 descendants / bounded depth / null / multi") {
    import graft.filters.ScopeFilters
    val df = Seq(
      (1L, "/proj"), (2L, "/proj/spark"), (3L, "/proj/spark/deep"),
      (4L, "/other"), (5L, null.asInstanceOf[String]), (6L, "")
    ).toDF("id", "folder_path")
    def ids(paths: Seq[Option[String]], depth: Option[Int]): Set[Long] =
      df.filter(ScopeFilters.folderScope(col("folder_path"), paths, depth))
        .select("id").as[Long].collect().toSet
    assert(ids(Seq(Some("/proj")), None) == Set(1L))                 // exact
    assert(ids(Seq(Some("/proj")), Some(0)) == Set(1L))              // 0 = exact
    assert(ids(Seq(Some("/proj")), Some(-1)) == Set(1L, 2L, 3L))     // all descendants
    assert(ids(Seq(Some("/proj")), Some(1)) == Set(1L, 2L))          // one level deeper
    assert(ids(Seq(None), None) == Set(5L, 6L))                      // unfiled: null == ''
    assert(ids(Seq(Some("/proj/spark"), Some("/other")), Some(-1)) == Set(2L, 3L, 4L))
    assert(ids(Seq.empty, None) == Set(1L, 2L, 3L, 4L, 5L, 6L))      // no scope = all
  }

  test("multivector (colpali) branch: MaxSim retrieval through the same scope compiler") {
    import java.nio.charset.StandardCharsets
    import java.security.MessageDigest
    // deterministic per-token multivector (one 4-d vector per token)
    case class TokenMvEmbedder() extends graft.operators.MultiVectorEmbedder {
      val dim = 4
      private def one(tok: String): Array[Float] = {
        val h = MessageDigest.getInstance("MD5")
          .digest(tok.getBytes(StandardCharsets.UTF_8))
        val v = Array.tabulate(dim)(i => (h(i) & 0xff).toFloat + 1f)
        val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        v.map(_ / n)
      }
      def embedTextMulti(s: String): Array[Array[Float]] =
        s.toLowerCase.split("\\s+").filter(_.nonEmpty).map(one)
      def embedMulti(df: org.apache.spark.sql.DataFrame, textCol: String,
                     outCol: String): org.apache.spark.sql.DataFrame =
        sys.error("query-side-only test embedder")
      def embedImageMulti(bytes: Array[Byte]): Array[Array[Float]] =
        sys.error("text-only test embedder")
    }
    val emb = TokenMvEmbedder()
    val rows = Seq(
      ("d1", 0, "alpha beta", "app1"),
      ("d2", 0, "gamma delta", "app1"),
      ("d3", 0, "alpha beta", "app2")) // right content, wrong tenant
      .map { case (d, n, content, app) =>
        (d, n, content, emb.embedTextMulti(content).map(_.toSeq).toSeq,
          Map.empty[String, String], Map.empty[String, String], app, "u1", "/f")
      }
    val chunks = rows.toDF("document_id", "chunk_number", "content", "mv",
      "metadata", "metadata_types", "app_id", "end_user_id", "folder_path")
    val hits = GraftService.retrieveChunksMultivector(
      RetrieveRequest("alpha beta", k = 2, appId = Some("app1")),
      ChunkTable(chunks), "mv", emb)
      .select("document_id", "score").as[(String, Double)].collect().toSeq
    assert(hits.map(_._1) == Seq("d1", "d2")) // d3 scoped out; d1 exact match first
    // exact multivector match: every query token finds itself -> score = n_tokens
    assert(math.abs(hits.head._2 - 2.0) < 1e-5)
  }

  test("diverse retrieve: MMR defers same-doc near-copies, ranks are dense") {
    // doc 1's three chunks are near-copies of each other under the hash
    // embedder (shared prefix); pure relevance would cluster them at the
    // top — at a diversity-leaning λ MMR must interleave another doc into
    // the top 3 (at λ=0.5 this fixture's penalty exactly offsets its rel
    // gap; the knob exists precisely to set that trade)
    val req = RetrieveRequest("spark query engine chunk 0", k = 3,
      appId = Some("app1"))
    val got = retrieveChunksDiverse(req, chunkTable, lambda = 0.3)
      .select("document_id", "mmr_rank").as[(Long, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 2L, 3L), "dense 1-based mmr ranks")
    assert(got.head._1 == 1L, "pure-relevance winner still leads")
    assert(got.map(_._1).distinct.size > 1,
      s"MMR failed to diversify away from doc 1's near-copies: $got")
    // pure-relevance contrast: the plain dense branch top-3 is all doc 1
    val plain = retrieveChunks(req, chunkTable)
      .limit(3).select("document_id").as[Long].collect().toSeq
    assert(plain == Seq(1L, 1L, 1L), "contrast baseline changed - re-plant")
  }

  test("hybrid retrieve leaves no cached relations behind (serving leak guard)") {
    // a long-lived server calls retrieveChunksHybrid per request; any
    // persist() inside the flow would pin an InMemoryRelation per call for
    // the session lifetime (Dataset cache entries are never GC-cleaned)
    spark.sharedState.cacheManager.clearCache()
    // earlier suites' localCheckpoints may legitimately pin RDDs in the
    // shared session — the serving call must add NOTHING, so compare counts
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    retrieveChunksHybrid(RetrieveRequest("spark query engine", k = 3,
      appId = Some("app1")), chunkTable).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "hybrid serving call left a cached relation pinned")
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore,
      "hybrid serving call left a persisted RDD pinned")
  }

  /** Runs `call` to its last row; returns the Spark jobs it started, the
    * partition-less windows (single-task sorts of their whole input) in
    * the physical plans it executed and in the frame it returned, and the
    * pushed filters of the file scans it executed. */
  private def jobsAndGlobalWindows(call: => DataFrame): (Seq[String], Seq[String], Seq[String]) = {
    val (out, profile) = QueryProfile(spark) { val df = call; df.collect(); df }
    val plans = profile.plans.map(_.plan)
    val physical = plans.flatMap(p => collectWithSubqueries(p) {
      case w: WindowExecBase if w.partitionSpec.isEmpty => w.nodeName
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
    })
    val logicalWindows = out.queryExecution.optimizedPlan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty => "Window"
    }
    val pushed = plans.flatMap(p => collectWithSubqueries(p) {
      case scan: FileSourceScanExec => scan.metadata.getOrElse("PushedFilters", "")
    })
    (profile.jobs.map(_.callSite), physical ++ logicalWindows, pushed)
  }

  test("job-count guard: a hybrid read runs <= 4 jobs, an mmr read 1, no global window") {
    // a parquet-backed table, as a served index is: over the in-memory
    // fixture the optimizer folds some plans into local evaluation
    val dir = java.nio.file.Files.createTempDirectory("graft_serve").toString + "/chunks"
    chunkTable.df.write.parquet(dir)
    val table = ChunkTable(spark.read.parquet(dir))
    val req = RetrieveRequest("spark query engine chunk 0", k = 5, appId = Some("app1"))
    retrieveChunksHybrid(req, table).collect() // warm the embedder and codegen
    val (hybridJobs, hybridWindows, _) = jobsAndGlobalWindows(retrieveChunksHybrid(req, table))
    assert(hybridJobs.size <= 4, s"hybrid read ran ${hybridJobs.size} jobs: $hybridJobs")
    assert(hybridWindows.isEmpty, s"hybrid plan holds a partition-less window: $hybridWindows")
    val (mmrJobs, mmrWindows, _) = jobsAndGlobalWindows(retrieveChunksDiverse(req, table))
    assert(mmrJobs.size == 1, s"mmr read ran ${mmrJobs.size} jobs: $mmrJobs")
    assert(mmrWindows.isEmpty, s"mmr plan holds a partition-less window: $mmrWindows")
    // the guard sees the old plan shape: the full-outer-join RRF plan runs
    // more jobs and ranks in partition-less windows
    val (refJobs, refWindows, _) =
      jobsAndGlobalWindows(HybridReference.retrieveChunksHybrid(req, table))
    assert(refJobs.size > 4 && refWindows.nonEmpty,
      s"guard is blind to the old plan: ${refJobs.size} jobs, windows $refWindows")
  }

  test("job-count guard: a dense, rerank, docs or multivector read runs its pinned jobs") {
    // pinned at the counts each arm ran before the arms shared one
    // candidate cut: dense 1, rerank 1, docs 1, multivector 1 — the
    // candidates' heap scan is the only job; the rerank cut, the doc-level
    // aggregate and the final order run inside it. A padded read adds one
    // job: the neighbour rows' scan, keyed by a pushed document_id IN-list
    // (the join plan padding ran before took 5 jobs per read).
    val mvEmb = graft.operators.HashMultiVectorEmbedder(dim = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_serve_arms").toString + "/chunks"
    // every chunk flagged an image, so the multivector arm's padding pads
    mvEmb.embedMulti(chunkTable.df, "content", "mv")
      .withColumn("metadata", map_concat(col("metadata"), map(lit("is_image"), lit("true"))))
      .write.parquet(dir)
    val table = ChunkTable(spark.read.parquet(dir))
    val req = RetrieveRequest("spark query engine chunk 0", k = 5, appId = Some("app1"))
    val padded = req.copy(padding = 1)
    val arms = Seq[(String, Int, () => DataFrame)](
      ("dense", 1, () => retrieveChunks(req, table)),
      ("rerank", 1, () => retrieveChunks(req.copy(useReranking = true), table)),
      ("docs", 1, () => retrieveDocs(req, table)),
      ("multivector", 1, () => retrieveChunksMultivector(req, table, "mv", mvEmb)),
      ("padded dense", 2, () => retrieveChunks(padded, table)),
      ("padded dense+rerank", 2, () => retrieveChunks(padded.copy(useReranking = true), table)),
      ("padded multivector", 2, () => retrieveChunksMultivector(padded, table, "mv", mvEmb)))
    arms.foreach { case (_, _, read) => read().collect() } // warm the embedders and codegen
    arms.foreach { case (arm, pinned, read) =>
      val (jobs, windows, pushed) = jobsAndGlobalWindows(read())
      assert(jobs.size == pinned, s"$arm read ran ${jobs.size} jobs, pinned at $pinned: $jobs")
      assert(windows.isEmpty, s"$arm plan holds a partition-less window: $windows")
      if (arm.startsWith("padded")) {
        assert(read().filter(col("is_padding")).count() > 0, s"$arm read padded nothing")
        assert(pushed.exists(_.contains("In(document_id,")),
          s"$arm read's neighbour scan pushed no document_id IN-list: $pushed")
      }
    }
  }

  test("a reranked read scans only the columns its caller keeps") {
    // the rerank must stay visible to Catalyst's column pruning: an opaque
    // stage over the candidates makes the scan read every column, the
    // multivectors included
    val mvEmb = graft.operators.HashMultiVectorEmbedder(dim = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_serve_prune").toString + "/chunks"
    mvEmb.embedMulti(chunkTable.df, "content", "mv").write.parquet(dir)
    val table = ChunkTable(spark.read.parquet(dir))
    val req = RetrieveRequest("spark query engine chunk 0", k = 3, appId = Some("app1"),
      useReranking = true)
    val out = retrieveChunks(req, table).select("document_id", "chunk_number", "content", "score")
    assert(out.collect().nonEmpty)
    val read = collect(out.queryExecution.executedPlan) {
      case scan: FileSourceScanExec => scan.requiredSchema.fieldNames.toSet
    }
    assert(read == Seq(Set("document_id", "chunk_number", "content", "app_id", "embedding")),
      s"reranked read's scan columns: $read")
  }

  test("request gate: negative k or padding is refused on every arm; k = 0 reads empty") {
    val mvEmb = graft.operators.HashMultiVectorEmbedder(dim = 16)
    val table = ChunkTable(mvEmb.embedMulti(chunkTable.df, "content", "mv"))
    val arms = Seq[(String, RetrieveRequest => DataFrame)](
      ("dense", retrieveChunks(_, table)),
      ("docs", retrieveDocs(_, table)),
      ("multivector", retrieveChunksMultivector(_, table, "mv", mvEmb)),
      ("hybrid", retrieveChunksHybrid(_, table)),
      ("mmr", retrieveChunksDiverse(_, table)))
    val req = RetrieveRequest("spark query engine", k = 3)
    arms.foreach { case (arm, read) =>
      Seq("k" -> req.copy(k = -1), "padding" -> req.copy(padding = -2)).foreach {
        case (field, bad) =>
          val e = intercept[IllegalArgumentException](read(bad).collect())
          assert(e.getMessage.contains(s"$field must be non-negative"), s"$arm: ${e.getMessage}")
      }
      val empty = read(req.copy(k = 0))
      assert(empty.collect().isEmpty, s"$arm read rows at k = 0")
      assert(empty.columns.toSeq == read(req).columns.toSeq, s"$arm changed its columns at k = 0")
    }
  }

  test("equal-score chunks of one document tie-break by chunk_number at the cut") {
    // doc 1's chunks 0 and 1 are identical, so they score exactly alike;
    // chunk 1 is listed first in the table's one partition, and a k = 1
    // cut must still keep chunk 0: the final order's tie-break, not row order
    val rows = Seq((1L, 1, "alpha beta"), (1L, 0, "alpha beta"), (2L, 0, "gamma delta"))
      .map { case (d, n, c) => (d, n, c, emb.embedText(c).toSeq) }
    val chunks = ChunkTable(
      rows.toDF("document_id", "chunk_number", "content", "embedding").coalesce(1))
    assert(chunks.df.rdd.getNumPartitions == 1 &&
      chunks.df.select("chunk_number").as[Int].collect().head == 1, "fixture lost its row order")
    val req = RetrieveRequest("alpha beta", k = 1)
    def top(got: DataFrame) = got.select("document_id", "chunk_number").as[(Long, Int)].collect().toSeq
    assert(top(retrieveChunks(req, chunks)) == Seq((1L, 0)), "dense cut")
    assert(top(retrieveChunks(req.copy(useReranking = true), chunks)) == Seq((1L, 0)), "rerank cut")
    assert(top(retrieveChunksDiverse(req, chunks)) == Seq((1L, 0)), "mmr candidates")
  }

  test("hybrid arm degrades to dense-only when no query term matches the corpus") {
    val req = RetrieveRequest("zzzzz qqqqq", k = 3, appId = Some("app1"))
    val got = retrieveChunksHybrid(req, chunkTable)
      .select("document_id", "keyword_rank", "rrf")
      .as[(Long, Option[Long], Double)].collect().toSeq
    assert(got.nonEmpty, "dense arm alone still returns results")
    assert(got.forall(_._2.isEmpty), "keyword arm contributed nothing")
    assert(got.forall(_._3 > 0.0), "rrf carries the dense contribution")
  }

  test("mixed image+text corpus: multivector retrieve surfaces both kinds, deterministically") {
    // `test_mixed_content_queries` + `test_query_variations_and_consistency`
    // (reference integration suite): a store holding image chunks (data
    // URIs) and text chunks answers one query with BOTH kinds, and repeated
    // runs return identical results.
    val emb = graft.operators.HashMultiVectorEmbedder(dim = 16)
    val rows = Seq(
      (1L, 0, "data:image/png;base64,imgchunkone", Map("is_image" -> "true")),
      (1L, 1, "signal quality improvement notes", Map.empty[String, String]),
      (2L, 0, "data:image/png;base64,imgchunktwo", Map("is_image" -> "true")),
      (2L, 1, "time domain compensation text", Map.empty[String, String]))
      .toDF("document_id", "chunk_number", "content", "metadata")
    val chunks = ChunkTable(emb.embedMulti(rows, "content", "mv"))
    def run() = retrieveChunksMultivector(
      RetrieveRequest("signal quality improvement", k = 4), chunks, "mv", emb)
      .select("document_id", "chunk_number", "score")
      .as[(Long, Int, Double)].collect().toSeq
    val got = run()
    assert(got.size == 4, "all chunks scored and returned at k=4")
    val kinds = got.map { case (d, n, _) => (d, n) }.toSet
    assert(kinds.contains((1L, 1)) && kinds.contains((1L, 0)),
      "both text and image chunks surface")
    assert(got == run(), "repeated identical query returns identical results")
    // and the RANKING is real, not just surface composition: at k=1 the
    // verbatim-matching text chunk must win the competitive top-k
    val top = retrieveChunksMultivector(
      RetrieveRequest("signal quality improvement", k = 1), chunks, "mv", emb)
      .select("document_id", "chunk_number").as[(Long, Int)].collect().toSeq
    assert(top == Seq((1L, 1)), "verbatim text chunk outranks the rest")
  }

  test("hybrid arm fuses dense + keyword through the same scope compiler") {
    // "spark" appears in docs 1 and 3; doc 3 is app2. Scoped to app1, the
    // keyword arm can only surface doc 1 chunks; the dense arm agrees on
    // the verbatim chunk -> a both-arms chunk outranks single-arm ones.
    val req = RetrieveRequest("spark query engine chunk 0", k = 5,
      appId = Some("app1"))
    val got = retrieveChunksHybrid(req, chunkTable)
      .select("document_id", "chunk_number", "score", "dense_rank", "keyword_rank")
      .as[(Long, Int, Double, Option[Long], Option[Long])].collect().toSeq
    assert(got.nonEmpty && got.forall(_._1 != 3L), "app2 doc never leaks in")
    val top = got.head
    assert(top._1 == 1L && top._2 == 0, "verbatim chunk wins the fusion")
    assert(top._4.nonEmpty && top._5.nonEmpty, "top hit present in BOTH arms")
    assert(got.map(_._3).sliding(2).forall(p => p.head >= p.last), "rrf desc")
    // a pure-keyword query term absent from embeddings still contributes:
    // all doc-1 chunks contain "spark" -> keyword arm ranks them
    assert(got.count(_._1 == 1L) >= 3)
  }

  test("image query: request gates mirror the reference (mutual exclusion, 10MB, arm)") {
    val img = graft.queries.VectorQueries.grayPng(8, 8, 100)
    val emb = graft.operators.HashMultiVectorEmbedder(dim = 16)
    val rows = Seq((1L, 0, "alpha", Map.empty[String, String]))
      .toDF("document_id", "chunk_number", "content", "metadata")
    val chunks = ChunkTable(emb.embedMulti(rows, "content", "mv"))
    // both query text and image -> reject (request.py:175-179)
    val both = intercept[IllegalArgumentException] {
      retrieveChunksMultivector(
        RetrieveRequest("text too", queryImage = Some(img)), chunks, "mv", emb)
    }
    assert(both.getMessage.contains("not both"))
    // over the 10MB gate -> reject (document_service.py:241-246)
    val big = intercept[IllegalArgumentException] {
      retrieveChunksMultivector(
        RetrieveRequest("", queryImage = Some(new Array[Byte](MaxQueryImageBytes + 1))),
        chunks, "mv", emb)
    }
    assert(big.getMessage.contains("10MB"))
    // image queries need the multivector arm (document_service.py:234-238)
    val dense = intercept[IllegalArgumentException] {
      retrieveChunks(RetrieveRequest("", queryImage = Some(img)), chunkTable)
    }
    assert(dense.getMessage.contains("multivector"))
    // reranking is text-paired -> rejected with an image query
    val rr = intercept[IllegalArgumentException] {
      retrieveChunksMultivector(
        RetrieveRequest("", queryImage = Some(img), useReranking = true),
        chunks, "mv", emb)
    }
    assert(rr.getMessage.contains("rerank"))
  }

  test("image query retrieves end-to-end and responds to pixel content") {
    val emb = graft.operators.HashMultiVectorEmbedder(dim = 16)
    // chunk multivectors ARE image patch embeddings of two distinct images
    val imgA = graft.queries.VectorQueries.grayPng(16, 16, 40)
    val imgB = graft.queries.VectorQueries.grayPng(16, 16, 200)
    val rows = Seq(
      (1L, 0, "data:image/png;base64,a", imgA),
      (2L, 0, "data:image/png;base64,b", imgB))
      .map { case (d, n, c, img) =>
        (d, n, c, emb.embedImageMulti(img).map(_.toSeq).toSeq) }
      .toDF("document_id", "chunk_number", "content", "mv")
    val chunks = ChunkTable(rows)
    def top(img: Array[Byte]) = retrieveChunksMultivector(
      RetrieveRequest("", k = 1, queryImage = Some(img)), chunks, "mv", emb)
      .select("document_id").as[Long].collect().toSeq
    // querying BY each image finds itself (16 identical patch vectors ->
    // MaxSim is maximal against its own patches)
    assert(top(imgA) == Seq(1L) && top(imgB) == Seq(2L),
      "image query must rank its own image first")
    // determinism: same bytes, same multivector
    val mv1 = emb.embedImageMulti(imgA).map(_.toSeq).toSeq
    assert(mv1 == emb.embedImageMulti(imgA).map(_.toSeq).toSeq)
    assert(mv1.size == 16 && mv1.forall(_.size == 16), "4x4 patches x dim")
    // undecodable bytes degrade to a single raw-bytes-hash vector
    val junk = emb.embedImageMulti(Array[Byte](1, 2, 3))
    assert(junk.length == 1 && junk.head.length == 16)
  }

  test("lumaCells: non-uniform 2x2-block image gives the hand-computed 2x2 grid") {
    // 4x4 image of four uniform 2x2 quadrants -> area averages are exact
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def fill(x0: Int, y0: Int, v: Int): Unit =
      for (y <- y0 until y0 + 2; x <- x0 until x0 + 2)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
    fill(0, 0, 10); fill(2, 0, 60); fill(0, 2, 110); fill(2, 2, 250)
    val cells = graft.operators.ImageCodec.lumaCells(img, cols = 2, rows = 2)
    assert(cells.toSeq == Seq(10L, 60L, 110L, 250L),
      s"row-major quadrant means: ${cells.toSeq}")
  }
}
