package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-stage contract (SURVEY §2.3 E1-E4).
  *
  * Real deployments plug an external model behind [[Embedder.embed]] — the
  * reference batches HTTP calls to LiteLLM / ColPali endpoints
  * (`litellm_embedding.py:113-141`, `colpali_embedding_model.py:66-218`).
  * The Spark shape is identical either way: `mapPartitions`, one partition =
  * one request stream, order preserved by carrying the row through. Keeping
  * the model call OUT of the plan (behind this interface) keeps everything
  * downstream deterministic and oracle-testable.
  */
trait Embedder extends Serializable {
  def dim: Int
  /** Adds `outCol: array<float>` computed from `textCol`. */
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame
  /** Query-side single-text embedding (`embed_query`,
    * `litellm_embedding.py:97-111`) — runs on the driver, so the serving
    * planner can score against any embedder implementation. */
  def embedText(s: String): Array[Float]
}

/** Deterministic seeded hash-embedder (the test/CI stand-in, SURVEY §7.1
  * stage 5): feature-hash tokens into `dim` buckets with a md5-derived sign,
  * then L2-normalize. Fully reproducible across runs/partitionings. */
case class HashEmbedder(dim: Int = 64, seed: Int = 42,
                        normalize: Boolean = true) extends Embedder {

  /** `normalize = false` keeps exact integer bucket counts (as floats) —
    * the oracle-testable form; `true` L2-normalizes for cosine retrieval. */
  def embedText(s: String): Array[Float] = {
    val v = new Array[Float](dim)
    val md = MessageDigest.getInstance("MD5")
    graft.functions.text.words(s).foreach { tok =>
      val h = md.digest(s"$seed:$tok".getBytes(StandardCharsets.UTF_8))
      val idx = ((h(0) & 0xff) << 8 | (h(1) & 0xff)) % dim
      val sign = if ((h(2) & 1) == 0) 1f else -1f
      v(idx) += sign
    }
    if (!normalize) return v
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) v.map(x => (x / norm).toFloat) else v
  }

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val schema = df.schema.add(outCol, ArrayType(FloatType), nullable = false)
    val d = dim; val sd = seed; val nm = normalize
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(textCol)
    graft.Tables.scaled(df).mapPartitions { rows =>
      val self = HashEmbedder(d, sd, nm)
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ self.embedText(r.getString(idx)).toSeq)
      }
    }(enc)
  }
}

/** Fixture embedder: every text embeds to one fixed vector (the dense
  * sibling of [[FixedMultiVectorEmbedder]]). Lets an oracle-gated query
  * drive the full serving dispatcher with a corpus-side probe vector the
  * DuckDB replay can read straight from the embeddings table — the model
  * call is out-of-plan by the [[Embedder]] contract either way. */
case class FixedEmbedder(vec: Seq[Float]) extends Embedder {
  def dim: Int = vec.length
  def embedText(s: String): Array[Float] = vec.toArray
  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, typedLit(vec))
}
