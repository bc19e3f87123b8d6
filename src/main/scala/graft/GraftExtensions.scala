package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{TextHashExpressions, VectorExpressions}

/** Spark-native extension point: registers every graft custom Catalyst
  * expression as a SQL function, so the library's operators are first-class
  * in `spark.sql(...)` / SQL notebooks, not only behind the Scala Column
  * API. Activate per-cluster with
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * or per-session with `SparkSession.builder().withExtensions(new
  * GraftExtensions)`. This is the one SQL registration path: injection
  * applies to every session built from the config — the deployment shape
  * a shared 1000-executor cluster uses.
  *
  * Registered surface (all codegen'd or tight-loop expressions, SURVEY
  * §2.9): cosine_sim, dot_product, binary_quantize, hamming,
  * max_sim_binary (`multi_vector_store.py:287-312` semantics),
  * max_sim_float (`fast_multivector_store.py:504-607` rescoring),
  * minhash_signature, simhash48, winnow_fingerprints, hilbert_index,
  * jl_project.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** A literal-int argument (hash-family sizing params must be constants —
    * they shape the signature schema, so a column-dependent value would be
    * unplannable). */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be an integer literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(array<float>, array<float>) - cosine similarity in [-1,1]"),
      (args: Seq[Expression]) => { arity("cosine_sim", args, 2)
        VectorExpressions.CosineSimilarity(args(0), args(1)) }),
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(array<float>, array<float>) - inner product"),
      (args: Seq[Expression]) => { arity("dot_product", args, 2)
        VectorExpressions.DotProduct(args(0), args(1)) }),
    (FunctionIdentifier("binary_quantize"),
      info("binary_quantize", "binary_quantize(array<float>) - MSB-packed sign bits (32x compression)"),
      (args: Seq[Expression]) => { arity("binary_quantize", args, 1)
        VectorExpressions.BinaryQuantize(args(0)) }),
    (FunctionIdentifier("hamming"),
      info("hamming", "hamming(binary, binary) - XOR popcount distance"),
      (args: Seq[Expression]) => { arity("hamming", args, 2)
        VectorExpressions.HammingDistance(args(0), args(1)) }),
    (FunctionIdentifier("max_sim_binary"),
      info("max_sim_binary", "max_sim_binary(array<binary> doc, array<binary> query) - summed per-query-vector best Hamming similarity"),
      (args: Seq[Expression]) => { arity("max_sim_binary", args, 2)
        VectorExpressions.MaxSimBinary(args(0), args(1)) }),
    (FunctionIdentifier("max_sim_float"),
      info("max_sim_float", "max_sim_float(array<array<float>> doc, array<array<float>> query) - ColPali MaxSim"),
      (args: Seq[Expression]) => { arity("max_sim_float", args, 2)
        VectorExpressions.MaxSimFloat(args(0), args(1)) }),
    (FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(normalized_text, k, shingle_size) - k-lane MinHash signature as array<bigint>"),
      (args: Seq[Expression]) => { arity("minhash_signature", args, 3)
        TextHashExpressions.MinHashSignature(args(0),
          litInt(args(1), "minhash_signature", "k"),
          litInt(args(2), "minhash_signature", "shingle_size")) }),
    (FunctionIdentifier("simhash48"),
      info("simhash48", "simhash48(normalized_text) - 48-bit SimHash fingerprint as bigint"),
      (args: Seq[Expression]) => { arity("simhash48", args, 1)
        TextHashExpressions.SimHash48(args(0)) }),
    (FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(text, k, w) - MOSS winnowing fingerprints as array<bigint> of pos*2^31+hash"),
      (args: Seq[Expression]) => { arity("winnow_fingerprints", args, 3)
        graft.functions.WinnowExpressions.WinnowFingerprints(args(0),
          litInt(args(1), "winnow_fingerprints", "k"),
          litInt(args(2), "winnow_fingerprints", "w")) }),
    (FunctionIdentifier("hilbert_index"),
      info("hilbert_index",
        "hilbert_index(x, y, bits) - Hilbert-curve index of two non-negative bits-bit keys"),
      (args: Seq[Expression]) => { arity("hilbert_index", args, 3)
        graft.functions.LayoutExpressions.HilbertIndex(args(0), args(1),
          litInt(args(2), "hilbert_index", "bits")) }),
    (FunctionIdentifier("cdc_chunks"),
      info("cdc_chunks",
        "cdc_chunks(text, k, divisor, max_len) - content-defined chunking: rolling-hash boundary spans as array<string>"),
      (args: Seq[Expression]) => { arity("cdc_chunks", args, 4)
        graft.functions.CdcExpressions.CdcChunks(args(0),
          litInt(args(1), "cdc_chunks", "k"),
          litInt(args(2), "cdc_chunks", "divisor").toLong,
          litInt(args(3), "cdc_chunks", "max_len")) }),
    (FunctionIdentifier("jl_project"),
      info("jl_project",
        "jl_project(array<float>, out_dims, in_dims) - fixed-point +/-1 Johnson-Lindenstrauss projection as array<bigint>; in_dims pins the single input dimensionality (ragged inputs fail loudly)"),
      (args: Seq[Expression]) => { arity("jl_project", args, 3)
        VectorExpressions.JlProject(args(0),
          litInt(args(1), "jl_project", "out_dims"),
          litInt(args(2), "jl_project", "in_dims")) })
  )
}
