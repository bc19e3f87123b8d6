package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming context-window construction — the incremental arm of
  * [[graft.operators.Corpus.contextWindows]]: documents arrive in
  * micro-batches and each shard's fixed-length training blocks are
  * emitted AS THEY COMPLETE, without re-tokenizing the shard. The keyed
  * state per shard is exactly the open partial block — the block counter
  * plus at most `blockTokens − 1` carried tokens — never the shard's
  * token history, so state size is bounded by the block length at any
  * corpus size.
  *
  * Same construction as the batch arm, token for token: normalize →
  * whitespace tokens → one EOS per doc → concatenate in doc-id order →
  * slice at exact `blockTokens`. Arrival contract as
  * [[StreamingEwma]]: per-shard non-decreasing doc_id across
  * micro-batches, each batch's group sorted in the handler. Under that
  * contract the streamed emissions equal the batch operator's COMPLETED
  * blocks over everything ingested so far — each shard's open tail block
  * lives in state until its tokens arrive (the batch arm, seeing a
  * closed corpus, emits it as the short tail) — the rebuild equivalence
  * StreamingContextWindowsSpec gates across mid-block batch seams.
  *
  * Emits (Append mode): `shard`, `block_id`, `n_tokens` (always ==
  * blockTokens here), `tok_md5`. */
object StreamingContextWindows {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  def contextWindows(docs: DataFrame, idCol: String, shardCol: String,
                     textCol: String, blockTokens: Int,
                     eos: String = "</s>"): DataFrame = {
    require(blockTokens >= 1, s"contextWindows needs blockTokens>=1 (got $blockTokens)")
    val spark = docs.sparkSession
    import spark.implicits._
    val typed = docs.select(
      col(shardCol).cast("long"), col(idCol).cast("long"),
      col(textCol).cast("string"))
      .as[(Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String), (Long, Long, Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, rows: Iterator[(Long, Long, String)],
         state: GroupState[(Long, String)]) =>
          var (nBlocks, pending) = state.getOption.getOrElse((0L, ""))
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          if (pending.nonEmpty) buf ++= pending.split(" ")
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, String)]
          var idx = 0
          rows.toVector.sortBy(_._2).foreach { case (_, _, text) =>
            buf ++= graft.functions.text.words(text)
            buf += eos
            while (buf.length - idx >= blockTokens) {
              out += ((shard, nBlocks, blockTokens.toLong,
                md5Hex(buf.slice(idx, idx + blockTokens).mkString(" "))))
              idx += blockTokens
              nBlocks += 1
            }
          }
          state.update((nBlocks, buf.drop(idx).mkString(" ")))
          out.iterator
      }
      .toDF("shard", "block_id", "n_tokens", "tok_md5")
  }
}
