package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Incremental-crawl arm of the CCNet paragraph dedup (t33's streaming
  * shape, the t24 band-index pattern at paragraph granularity): new shards
  * dedup against the accumulated paragraph-ownership table, which grows by
  * each shard's novel first-occurrences. The gate is REBUILD EQUIVALENCE:
  * the streamed per-shard results, concatenated, must be value-identical
  * to one batch paragraphDedup over the whole corpus. */
class StreamingParagraphDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def paras = (c: org.apache.spark.sql.Column) =>
    Dedup.tokenWindowParagraphs(c, 3)

  // Paragraph structure chosen to exercise every ownership case across the
  // shard boundary: P1 repeats within doc 1, P2 repeats across docs within
  // shard 1, both P1 and P2 recur in shard 2 (index-owned removal), doc 4
  // brings novel-then-repeated content, doc 5 is entirely index-owned.
  private val p1 = "alpha beta gamma"
  private val p2 = "delta epsilon zeta"
  private val p3 = "eta theta iota"
  private val p4 = "kappa lambda mu"
  private val docs = Seq(
    1L -> s"$p1 $p2 $p1",        // shard 1: P1 owned (1,0), P2 owned (1,1), P1 repeat dropped
    2L -> s"$p2 $p3",            // shard 1: P2 index... within-batch dup, P3 owned (2,1)
    3L -> s"$p4 $p1",            // shard 2: P4 novel, P1 owned by shard 1
    4L -> s"$p4 $p4",            // shard 2: P4 already owned by doc 3 (earlier id, same batch run order)
    5L -> s"$p2 $p3")            // shard 2: everything index-owned -> empty

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("shard-by-shard dedup against the accumulated index == one batch rerun") {
    val shard1 = df(docs.filter(_._1 <= 2))
    val shard2 = df(docs.filter(_._1 > 2))
    // bootstrap: empty index (no historical corpus)
    val empty = Dedup.paragraphIndex(df(Nil), "doc_id", "text", paras)
    val out1 = Dedup.paragraphDedupAgainst(shard1, empty, "doc_id", "text", paras)
    val idx1 = empty.unionByName(
      Dedup.paragraphIndexDelta(shard1, empty, "doc_id", "text", paras))
      .localCheckpoint() // cut the lineage like a real state table would
    val out2 = Dedup.paragraphDedupAgainst(shard2, idx1, "doc_id", "text", paras)

    val streamed = out1.unionByName(out2)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val batch = Dedup.paragraphDedup(df(docs), "doc_id", "text", paras)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"stream-accumulated result diverged from batch rerun:\n$streamed\nvs\n$batch")
    // and the accumulated index after both shards == a fresh full-corpus index
    val idx2 = idx1.unionByName(
      Dedup.paragraphIndexDelta(shard2, idx1, "doc_id", "text", paras))
    val fullIdx = Dedup.paragraphIndex(df(docs), "doc_id", "text", paras)
    assert(idx2.orderBy("h").collect().toSeq ==
      fullIdx.orderBy("h").collect().toSeq,
      "accumulated ownership table must equal the batch-built index")
  }

  test("foreachBatch drive: MemoryStream shards accumulate state and match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var index = Dedup.paragraphIndex(df(Nil), "doc_id", "text", paras)
      .localCheckpoint()
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint()
        results ++= Dedup.paragraphDedupAgainst(b, index, "doc_id", "text", paras)
          .orderBy("id").collect().map(_.toSeq)
        index = index.unionByName(
          Dedup.paragraphIndexDelta(b, index, "doc_id", "text", paras))
          .localCheckpoint()
        ()
      }.start()
    try {
      input.addData(docs.filter(_._1 <= 2): _*)
      q.processAllAvailable()
      input.addData(docs.filter(_._1 > 2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchRun = Dedup.paragraphDedup(df(docs), "doc_id", "text", paras)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(results.sortBy(_.head.asInstanceOf[Long].toString).toSeq == batchRun,
      s"foreachBatch-accumulated results diverged:\n$results\nvs\n$batchRun")
  }

  test("paragraphShardStep == (paragraphDedupAgainst, paragraphIndexDelta)") {
    val shard1 = df(docs.filter(_._1 <= 2))
    val shard2 = df(docs.filter(_._1 > 2))
    val empty = Dedup.paragraphIndex(df(Nil), "doc_id", "text", paras)
    val idx1 = empty.unionByName(
      Dedup.paragraphIndexDelta(shard1, empty, "doc_id", "text", paras))
      .localCheckpoint()
    // the non-empty-index step is the interesting one: ownership-of-novel
    // must equal ownership-anti-index even when the shard repeats
    // index-owned paragraphs (docs 3-5 repeat P1/P2/P3 owned by shard 1)
    for ((shard, idx) <- Seq((shard1, empty), (shard2, idx1))) {
      val (deduped, delta) = Dedup.paragraphShardStep(
        shard, idx, "doc_id", "text", paras)
      val wantDedup = Dedup.paragraphDedupAgainst(shard, idx, "doc_id", "text", paras)
        .orderBy("id").collect().map(_.toSeq).toSeq
      val wantDelta = Dedup.paragraphIndexDelta(shard, idx, "doc_id", "text", paras)
        .orderBy("h").collect().map(_.toSeq).toSeq
      assert(deduped.orderBy("id").collect().map(_.toSeq).toSeq == wantDedup,
        "shard-step deduped output diverged from paragraphDedupAgainst")
      assert(delta.orderBy("h").collect().map(_.toSeq).toSeq == wantDelta,
        "shard-step delta diverged from paragraphIndexDelta")
    }
  }
}
