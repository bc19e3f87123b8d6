package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.DoubleType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.functions.text

/** Q6 rerank model contract (`flag_reranker.py:30-60`): score (query,
  * passage) pairs, update chunk scores, sort desc. The model stage is an
  * interface so CI stays deterministic while production plugs a
  * cross-encoder. */
trait RerankModel extends Serializable {
  /** Relevance scores for (query, passage_i), in passage order. */
  def scoreBatch(query: String, passages: Seq[String]): Seq[Double]
}

/** Deterministic CI stand-in for a cross-encoder (the r1/s5 oracles'
  * formula): |distinct passage tokens ∩ distinct query tokens| / |distinct
  * query tokens| over [[text.words]]. An empty query or a null passage
  * scores 0.0. */
case class TokenOverlapModel() extends RerankModel {
  def scoreBatch(query: String, passages: Seq[String]): Seq[Double] = {
    val q = text.words(query).toSet
    passages.map(p => if (q.isEmpty || p == null) 0.0
      else q.count(text.words(p).toSet).toDouble / q.size)
  }
}

/** HTTP cross-encoder client speaking the public rerank wire shape
  * (Cohere/Jina-style): request `{"model","query","documents":[...]}`,
  * response `{"results":[{"index":i,"relevance_score":s}]}`. Retries and
  * per-partition client reuse as in the embedding client. */
case class HttpReranker(endpoint: String, model: String = "reranker",
                        batchSize: Int = 32, numRetries: Int = 3,
                        timeoutSec: Int = 60) extends RerankModel {

  private def requestBody(query: String, passages: Seq[String]): String = {
    val docs = passages.map(p =>
      "\"" + HttpWire.jsonEscape(if (p == null) "" else p) + "\"").mkString(",")
    s"""{"model":"${HttpWire.jsonEscape(model)}","query":"${
      HttpWire.jsonEscape(query)}","documents":[$docs]}"""
  }

  override def scoreBatch(query: String, passages: Seq[String]): Seq[Double] = {
    val client = HttpWire.newClient(timeoutSec)
    passages.grouped(batchSize).flatMap { batch =>
      val body = HttpWire.postWithRetry(client, endpoint,
        requestBody(query, batch), numRetries, timeoutSec)
      val out = new Array[Double](batch.length)
      JsonMethods.parse(body) \ "results" match {
        case JArray(items) =>
          require(items.length == batch.length,
            s"rerank response has ${items.length} scores for ${batch.length} docs")
          items.foreach { item =>
            val idx = item \ "index" match {
              case JInt(i) => i.toInt; case JLong(l) => l.toInt
              case other   => sys.error(s"bad rerank index: $other")
            }
            val score = item \ "relevance_score" match {
              case JDouble(d) => d; case JInt(i) => i.toDouble
              case JLong(l)   => l.toDouble; case JDecimal(d) => d.toDouble
              case other      => sys.error(s"bad relevance_score: $other")
            }
            out(idx) = score
          }
        case other => sys.error(s"rerank response missing 'results': $other")
      }
      out
    }.toSeq
  }
}

object ModelRerank {
  /** The one rerank (`FlagReranker.rerank`): attach the model's
    * `rerank_score`, keep the top k by (score desc, id asc, tiebreak…);
    * `tiebreak` completes a total order where `idCol` alone doesn't. The
    * score is a UDF calling `scoreBatch` with each row's passage: Catalyst
    * sees through a UDF, so the scan under it reads only the columns the
    * caller keeps. (A batched `mapPartitions` stage made the scan read every
    * column; a batch over a window cost more than that saved.) */
  def rerank(candidates: DataFrame, idCol: String, passageCol: String,
             queryText: String, k: Int, model: RerankModel,
             tiebreak: Seq[String] = Nil): DataFrame = {
    val score = udf(new UDF1[String, Double] {
      def call(p: String): Double = model.scoreBatch(queryText, Seq(p)).head
    }, DoubleType)
    candidates.withColumn("rerank_score", score(col(passageCol)))
      .orderBy(col("rerank_score").desc +: col(idCol).asc +: tiebreak.map(col(_).asc): _*)
      .limit(k)
  }
}
