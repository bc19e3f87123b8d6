package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.broadcast.Broadcast

/** Native Catalyst expressions for the vector path (SURVEY §2.9).
  *
  * These are the hot inner loops of retrieval: cosine scoring
  * (`pgvector_store.py:444-507`), binary quantization + Hamming
  * (`fast_ops.py:163-246`, `morphik_rust/src/binary_ops.rs`), and MaxSim
  * (`multi_vector_store.py:287-312` binary; ColPali float rescoring in
  * `fast_multivector_store.py:504-607`). Implemented as Expressions (not
  * UDFs) so they stay inside whole-stage codegen / avoid
  * serialization: at 100 TB the scoring loop runs per-row per-chunk, and a
  * boxed UDF would dominate the profile.
  *
  * All are pure, deterministic, and null-strict (BinaryExpression /
  * UnaryExpression eval returns null on null input).
  */
object VectorExpressions {

  /** cosine_sim(Array[Float], Array[Float]) -> Double. Accumulates in double
    * left-to-right (bit-compatible with the DuckDB DOUBLE[] oracle). */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"
    // declared input types make the SQL surface safe: an array<double>
    // literal is cast to array<float> at analysis instead of getFloat()
    // striding over 8-byte slots and returning garbage
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val d = ctx.freshName("denom")
        val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = (double) $a.getFloat($i);
          double $yi = (double) $b.getFloat($i);
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        double $d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        ${ev.value} = ($d == 0.0) ? 0.0 : $dot / $d;
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** dot_product(Array[Float], Array[Float]) -> Double. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_product"
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        }
        ${ev.value} = $dot;
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** binary_quantize(Array[Float]) -> Binary. Bit i set iff v(i) > 0 (exact
    * zero maps to 0 — `fast_ops.py:163-175`); packed MSB-first like
    * np.packbits, 32x compression (128-d float32 -> 16 B). */
  case class BinaryQuantize(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "binary_quantize"
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      val out = new Array[Byte]((n + 7) / 8)
      var i = 0
      while (i < n) {
        if (x.getFloat(i) > 0f) out(i >> 3) = (out(i >> 3) | (0x80 >> (i & 7))).toByte
        i += 1
      }
      out
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val out = ctx.freshName("out")
        s"""
        int $n = $a.numElements();
        byte[] $out = new byte[($n + 7) / 8];
        for (int $i = 0; $i < $n; $i++) {
          if ($a.getFloat($i) > 0f) $out[$i >> 3] |= (byte)(0x80 >> ($i & 7));
        }
        ${ev.value} = $out;
        """
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** hamming(Binary, Binary) -> Int: XOR + popcount (`fast_ops.py:231-246`). */
  case class HammingDistance(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "hamming"
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[Array[Byte]]; val y = b.asInstanceOf[Array[Byte]]
      val n = math.min(x.length, y.length)
      var acc = 0; var i = 0
      while (i < n) { acc += java.lang.Integer.bitCount((x(i) ^ y(i)) & 0xff); i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
        int $n = java.lang.Math.min($a.length, $b.length);
        int $acc = 0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += java.lang.Integer.bitCount(($a[$i] ^ $b[$i]) & 0xff);
        }
        ${ev.value} = $acc;
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** max_sim_binary(Array[Binary] doc, Array[Binary] query) -> Double.
    * Per query vector: max over doc vectors of `1 - popcount(xor)/bitlen`;
    * summed (the in-DB `max_sim` SQL fn, `multi_vector_store.py:287-312`). */
  case class MaxSimBinary(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback with ImplicitCastInputTypes {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "max_sim_binary"
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(BinaryType), ArrayType(BinaryType))

    override def nullSafeEval(d: Any, q: Any): Any = {
      val doc = d.asInstanceOf[ArrayData]; val qry = q.asInstanceOf[ArrayData]
      val nd = doc.numElements(); val nq = qry.numElements()
      if (nd == 0 || nq == 0) return 0.0
      var total = 0.0; var qi = 0
      while (qi < nq) {
        val qv = qry.getBinary(qi)
        // null/empty query vector: nothing to match, contributes 0 (a 0/0
        // division would otherwise poison the total with NaN/-MaxValue)
        if (qv != null && qv.length > 0) {
          val bitlen = qv.length * 8.0
          var best = Double.MinValue; var di = 0
          while (di < nd) {
            val dv = doc.getBinary(di)
            // null/empty doc vector is no match (NOT a perfect one: an
            // unguarded min-length loop scores it acc=0 -> sim=1.0)
            val sim =
              if (dv == null || dv.length == 0) 0.0
              else {
                val n = math.min(qv.length, dv.length)
                var acc = 0; var i = 0
                while (i < n) { acc += java.lang.Integer.bitCount((qv(i) ^ dv(i)) & 0xff); i += 1 }
                1.0 - acc / bitlen
              }
            if (sim > best) best = sim
            di += 1
          }
          total += best
        }
        qi += 1
      }
      total
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** nearest_centroid(Array[Float]) -> struct(d: double, i: long): index of
    * the L2-nearest centroid in a BROADCAST codebook plus its squared
    * distance, ties to the lowest index (the Lloyd/SemDeDup assignment rule,
    * matching the oracle's `ORDER BY d, cid`).
    *
    * The codebook is NOT part of the expression tree: the plan carries only
    * a broadcast handle, so plan size, Janino method size, and task-binary
    * size are all O(1) in k — the SemDeDup operating point is k ∝ n (Abbas
    * et al. 2023 run k=50k), where a literal-per-centroid plan stops
    * compiling. Executors fetch the codebook once via the broadcast
    * mechanism (the same shipping model as [[graft.operators.PqIndex]]'s
    * ADC LUT, which can stay a literal only because it is m·k entries, not
    * k·dim). Distance accumulates left-to-right in doubles — bit-compatible
    * with the DuckDB `list_sum(list_transform(...))` oracle fold — and the
    * argmin is a single O(k·dim) compiled scan per row. */
  case class NearestCentroid(child: Expression,
                             centroids: Broadcast[Array[Array[Double]]])
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = StructType(Seq(
      StructField("d", DoubleType, nullable = false),
      StructField("i", LongType, nullable = false)))
    override def prettyName: String = "nearest_centroid"
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val cbs = centroids.value
      var bestD = 0.0; var bestI = 0L; var first = true
      var c = 0
      while (c < cbs.length) {
        val cent = cbs(c)
        val n = math.min(x.numElements(), cent.length)
        var s = 0.0; var j = 0
        while (j < n) {
          val diff = x.getFloat(j).toDouble - cent(j)
          s += diff * diff; j += 1
        }
        if (first || s < bestD) { first = false; bestD = s; bestI = c.toLong }
        c += 1
      }
      new GenericInternalRow(Array[Any](bestD, bestI))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("centroidsBc", centroids,
        classOf[Broadcast[Array[Array[Double]]]].getName)
      // resolved once per generated-class instance (per task), cached in a
      // field — the row loop never touches the broadcast machinery
      val cbs = ctx.addMutableState("double[][]", "centroidCodebook",
        v => s"$v = (double[][]) $bcRef.value();")
      nullSafeCodeGen(ctx, ev, v => {
        val c = ctx.freshName("c"); val j = ctx.freshName("j")
        val n = ctx.freshName("n"); val s = ctx.freshName("s")
        val diff = ctx.freshName("diff"); val cent = ctx.freshName("cent")
        val bestD = ctx.freshName("bestD"); val bestI = ctx.freshName("bestI")
        val first = ctx.freshName("first")
        s"""
        double $bestD = 0.0; long $bestI = 0L; boolean $first = true;
        for (int $c = 0; $c < $cbs.length; $c++) {
          double[] $cent = $cbs[$c];
          int $n = java.lang.Math.min($v.numElements(), $cent.length);
          double $s = 0.0;
          for (int $j = 0; $j < $n; $j++) {
            double $diff = (double) $v.getFloat($j) - $cent[$j];
            $s += $diff * $diff;
          }
          if ($first || $s < $bestD) { $first = false; $bestD = $s; $bestI = (long) $c; }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[]{$bestD, $bestI});
        """
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** probe_centroids(Array[Float]) -> Array[Long]: indices of the `p`
    * L2-nearest centroids in a BROADCAST codebook, ordered by
    * (distance asc, index asc) — the multi-probe generalization of
    * [[NearestCentroid]] (FAISS's IVF nprobe, applied to the CORPUS side:
    * a point belongs to its p nearest inverted lists, so two points whose
    * true neighborhood straddles a Voronoi boundary still meet in some
    * shared list). Same shipping model as NearestCentroid: the codebook is
    * a broadcast handle, plan size O(1) in k, one O(k·dim) compiled scan
    * per row with a p-slot insertion (p is small — 2..8), distance
    * accumulated left-to-right in doubles so the (d, i) order is
    * bit-compatible with the oracle's `row_number() OVER (ORDER BY d, cid)
    * <= p` window. */
  case class ProbeCentroids(child: Expression,
                            centroids: Broadcast[Array[Array[Double]]],
                            p: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    require(p >= 1, s"probe_centroids needs p >= 1 (got $p)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "probe_centroids"
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))

    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val cbs = centroids.value
      val m = math.min(p, cbs.length)
      val bd = new Array[Double](m); val bi = new Array[Long](m)
      var filled = 0; var c = 0
      while (c < cbs.length) {
        val cent = cbs(c)
        val n = math.min(x.numElements(), cent.length)
        var s = 0.0; var j = 0
        while (j < n) {
          val diff = x.getFloat(j).toDouble - cent(j)
          s += diff * diff; j += 1
        }
        // strict < keeps the earlier (lower) index in front on exact ties —
        // the oracle's (d, cid) window order
        var pos = filled
        while (pos > 0 && s < bd(pos - 1)) pos -= 1
        if (pos < m) {
          var q = math.min(filled, m - 1)
          while (q > pos) { bd(q) = bd(q - 1); bi(q) = bi(q - 1); q -= 1 }
          bd(pos) = s; bi(pos) = c.toLong
          if (filled < m) filled += 1
        }
        c += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(if (filled == m) bi else bi.take(filled))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("centroidsBc", centroids,
        classOf[Broadcast[Array[Array[Double]]]].getName)
      val cbs = ctx.addMutableState("double[][]", "probeCodebook",
        v => s"$v = (double[][]) $bcRef.value();")
      nullSafeCodeGen(ctx, ev, v => {
        val c = ctx.freshName("c"); val j = ctx.freshName("j")
        val n = ctx.freshName("n"); val s = ctx.freshName("s")
        val diff = ctx.freshName("diff"); val cent = ctx.freshName("cent")
        val bd = ctx.freshName("bd"); val bi = ctx.freshName("bi")
        val m = ctx.freshName("m"); val filled = ctx.freshName("filled")
        val pos = ctx.freshName("pos"); val q = ctx.freshName("q")
        val out = ctx.freshName("out")
        s"""
        int $m = java.lang.Math.min($p, $cbs.length);
        double[] $bd = new double[$m]; long[] $bi = new long[$m];
        int $filled = 0;
        for (int $c = 0; $c < $cbs.length; $c++) {
          double[] $cent = $cbs[$c];
          int $n = java.lang.Math.min($v.numElements(), $cent.length);
          double $s = 0.0;
          for (int $j = 0; $j < $n; $j++) {
            double $diff = (double) $v.getFloat($j) - $cent[$j];
            $s += $diff * $diff;
          }
          int $pos = $filled;
          while ($pos > 0 && $s < $bd[$pos - 1]) $pos--;
          if ($pos < $m) {
            for (int $q = java.lang.Math.min($filled, $m - 1); $q > $pos; $q--) {
              $bd[$q] = $bd[$q - 1]; $bi[$q] = $bi[$q - 1];
            }
            $bd[$pos] = $s; $bi[$pos] = (long) $c;
            if ($filled < $m) $filled++;
          }
        }
        long[] $out = new long[$filled];
        System.arraycopy($bi, 0, $out, 0, $filled);
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray($out);
        """
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** max_sim_float(Array[Array[Float]] doc, Array[Array[Float]] query) ->
    * Double. ColPali scoring: sum over query vectors of max dot product
    * (`fast_multivector_store.py:504-607` exact rescoring). */
  case class MaxSimFloat(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback with ImplicitCastInputTypes {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "max_sim_float"
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(ArrayType(FloatType)), ArrayType(ArrayType(FloatType)))

    override def nullSafeEval(d: Any, q: Any): Any = {
      val doc = d.asInstanceOf[ArrayData]; val qry = q.asInstanceOf[ArrayData]
      val nd = doc.numElements(); val nq = qry.numElements()
      if (nd == 0 || nq == 0) return 0.0
      // Materialize doc vectors once per row (reused across query vectors).
      val docVecs = new Array[Array[Float]](nd)
      var di = 0
      while (di < nd) {
        val a = doc.getArray(di) // null element -> zero-vector, not an NPE
        docVecs(di) = if (a == null) Array.emptyFloatArray else a.toFloatArray()
        di += 1
      }
      var total = 0.0; var qi = 0
      while (qi < nq) {
        val qa = qry.getArray(qi)
        val qv = if (qa == null) Array.emptyFloatArray else qa.toFloatArray()
        var best = Double.MinValue
        di = 0
        while (di < nd) {
          val dv = docVecs(di)
          val n = math.min(qv.length, dv.length)
          var dot = 0.0; var i = 0
          while (i < n) { dot += qv(i).toDouble * dv(i).toDouble; i += 1 }
          if (dot > best) best = dot
          di += 1
        }
        total += best; qi += 1
      }
      total
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Lazily-built ±1 sign matrix for [[JlProject]], keyed by (seed, out,
    * in): entry (j, i) is the parity of the first hex digit of
    * md5("seed:j:i") — 0 → +1, 1 → −1 — the derandomized Achlioptas draw
    * any engine can replay from the same md5. Bounded by construction
    * (out·in bytes; 16·768 = 12 KB at production dims — the PQ-LUT class),
    * cached per JVM so the kernel never re-hashes. Stored as the parity
    * byte itself (0 = +, 1 = −). */
  private val jlSignCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Array[Byte]]()
  /** Cache bound: each (seed, out, in) pins out·in bytes; distinct keys
    * come from distinct EXPRESSION INSTANCES (in is validated per
    * instance, never per row), so growth tracks the number of distinct
    * jl_project configurations in the application — small by construction.
    * The bound is a backstop against a pathological seed-per-query caller,
    * not a working-set eviction (entries are immutable and equal for equal
    * keys, so clearing is always safe). */
  private val jlSignCacheMax = 64
  def jlSigns(seed: String, out: Int, in: Int): Array[Byte] = {
    if (jlSignCache.size > jlSignCacheMax) jlSignCache.clear()
    jlSignCache.computeIfAbsent((seed, out, in), _ => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val a = new Array[Byte](out * in)
      var j = 0
      while (j < out) {
        var i = 0
        while (i < in) {
          md.reset()
          val d = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
          a(j * in + i) = ((d(0) >> 4) & 1).toByte
          i += 1
        }
        j += 1
      }
      a
    })
  }

  /** The [[JlProject]] inner loop as a static kernel (the
    * [[graft.functions.LayoutExpressions]] pattern): quantize once
    * (floor(x·10⁶) — floor, not cast: both engines' one agreed float→int
    * op), then out_dims exact integer sign-sums. `expectedIn` pins the
    * single input dimensionality the projection is defined over: a ragged
    * vector would otherwise silently draw a DIFFERENT sign matrix (outputs
    * incomparable across rows), so a mismatch fails loudly instead. */
  def jlProjectKernel(x: ArrayData, out: Int, expectedIn: Int,
                      seed: String): ArrayData = {
    val in = x.numElements()
    if (in != expectedIn) throw new IllegalArgumentException(
      s"jl_project: input vector has $in dims, expected $expectedIn — " +
        "ragged vectors would project with different sign matrices; fix " +
        "the input or construct jl_project with the right inDims")
    val s = jlSigns(seed, out, in)
    val q = new Array[Long](in)
    var i = 0
    while (i < in) {
      q(i) = math.floor(x.getFloat(i).toDouble * 1e6).toLong
      i += 1
    }
    val y = new Array[Long](out)
    var j = 0
    while (j < out) {
      val off = j * in
      var acc = 0L
      var i2 = 0
      while (i2 < in) {
        acc += (if (s(off + i2) == 0) q(i2) else -q(i2))
        i2 += 1
      }
      y(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(y)
  }

  /** jl_project(Array[Float]) -> Array[Long]: Johnson–Lindenstrauss signed
    * random projection (Achlioptas 2003's ±1 database-friendly draw) in
    * FIXED POINT — components floor-scale to 10⁻⁶ integer units and each
    * output is an exact integer Σ ±qᵢ, so the projection replays
    * bit-for-bit in any engine (design rule 13; a float matrix-multiply
    * drifts with accumulation order). The dimensionality-reduction front
    * end for clustering / LSH / near-dup at 100 TB: a 768-d corpus
    * projects to `outDims` preserving pairwise distances within the JL
    * bound, and every downstream op touches outDims/768 of the data.
    * Deterministic: the sign matrix derives from md5(seed:j:i). */
  case class JlProject(child: Expression, outDims: Int, inDims: Int,
                       seed: String = "jl")
      extends UnaryExpression with ImplicitCastInputTypes {
    require(outDims >= 1 && outDims <= 4096,
      s"jl_project needs outDims in [1,4096] (got $outDims)")
    require(inDims >= 1 && inDims <= 65536,
      s"jl_project needs inDims in [1,65536] (got $inDims)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "jl_project"
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))

    override def nullSafeEval(v: Any): Any =
      jlProjectKernel(v.asInstanceOf[ArrayData], outDims, inDims, seed)

    // seed travels as a referenced object, never spliced into the
    // generated Java source — a quote/backslash in a caller-chosen seed
    // must not be able to break (or worse, steer) codegen compilation
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val seedRef = ctx.addReferenceObj("jlSeed", seed, "java.lang.String")
      nullSafeCodeGen(ctx, ev, a => s"""
        ${ev.value} = graft.functions.VectorExpressions.jlProjectKernel($a, $outDims, $inDims, $seedRef);
        """)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Static kernel behind [[PqEncode]]: per subspace i, the 0-based index
    * of the L2-nearest codebook centroid, distances accumulated
    * left-to-right in doubles, FIRST index on ties — value-identical to
    * the r16 HOF formulation `array_position(dists, array_min(dists)) - 1`
    * over `aggregate(zip_with(sub, cent, (a,b) -> (a-b)*(a-b)), 0.0, +)`
    * (a strict-less scan keeps the earliest minimum, which is exactly the
    * first position of the min value). The HOF version re-evaluated the
    * sub-vector slice (and the full-vector double cast behind it) once per
    * CENTROID per subspace in the interpreter — the documented
    * higher-order-function pathology, m·k = 128 re-slices per row. */
  def pqEncodeKernel(v: ArrayData, cb: Array[Array[Array[Double]]],
                     isFloat: Boolean): ArrayData = {
    val m = cb.length
    val codes = new Array[Int](m)
    var i = 0
    while (i < m) {
      val cents = cb(i)
      val dsub = cents(0).length
      val base = i * dsub
      var bestD = 0.0; var bestC = 0; var first = true
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var s = 0.0; var j = 0
        while (j < dsub) {
          val a = if (isFloat) v.getFloat(base + j).toDouble
                  else v.getDouble(base + j)
          val d = a - cent(j)
          s += d * d; j += 1
        }
        if (first || s < bestD) { first = false; bestD = s; bestC = c }
        c += 1
      }
      codes(i) = bestC
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(codes)
  }

  /** pq_encode(vec) -> Array[Int]: PQ code per subspace against a codebook
    * shipped as a referenced object (plan size O(1) in m·k·dsub). Accepts
    * float or double input arrays — the cast-to-double happens inside the
    * compiled loop, mirroring the old `transform(vec, x -> double(x))`. */
  case class PqEncode(child: Expression,
                      codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pq_encode"
    // Fail fast at analysis on anything but array<float>/array<double>
    // (r17 advisor finding: the kernel reads raw 8-byte slots, so an
    // array<int>/array<long> child — which the old HOF silently cast —
    // would read garbage; callers must cast explicitly).
    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"pq_encode needs array<float> or array<double> input, got ${t.catalogString}")
      }
    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def nullSafeEval(v: Any): Any =
      pqEncodeKernel(v.asInstanceOf[ArrayData], codebooks, isFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
      nullSafeCodeGen(ctx, ev, a => s"""
        ${ev.value} = graft.functions.VectorExpressions.pqEncodeKernel($a, $cbRef, $isFloat);
        """)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Static kernel behind [[PqAdcScore]]: Σ_i lut[i·k + code_i], summed
    * left-to-right from 0.0 — value-identical to the r16
    * `aggregate(zip_with(code, sequence, (c,i) -> element_at(lut, ...)),
    * 0.0, +)` interpreted formulation. */
  def pqAdcKernel(codes: ArrayData, lut: Array[Double], k: Int): Double = {
    val m = codes.numElements()
    var s = 0.0; var i = 0
    while (i < m) { s += lut(i * k + codes.getInt(i)); i += 1 }
    s
  }

  /** pq_adc_score(pq_code) -> Double: ADC lookup-table score of a code
    * array against a query LUT shipped as a referenced object. */
  case class PqAdcScore(child: Expression, lut: Array[Double], k: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "pq_adc_score"
    override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))

    override def nullSafeEval(v: Any): Any =
      pqAdcKernel(v.asInstanceOf[ArrayData], lut, k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lutRef = ctx.addReferenceObj("pqLut", lut, "double[]")
      nullSafeCodeGen(ctx, ev, a => s"""
        ${ev.value} = graft.functions.VectorExpressions.pqAdcKernel($a, $lutRef, $k);
        """)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }
}

/** Column-API wrappers + SQL registration for the vector expressions. */
object vec {
  import VectorExpressions._

  def cosine_sim(a: Column, b: Column): Column = toCol(CosineSimilarity(toExpr(a), toExpr(b)))
  def dot_product(a: Column, b: Column): Column = toCol(DotProduct(toExpr(a), toExpr(b)))
  def binary_quantize(a: Column): Column = toCol(BinaryQuantize(toExpr(a)))
  def hamming(a: Column, b: Column): Column = toCol(HammingDistance(toExpr(a), toExpr(b)))
  def max_sim_binary(doc: Column, query: Column): Column = toCol(MaxSimBinary(toExpr(doc), toExpr(query)))
  def max_sim_float(doc: Column, query: Column): Column = toCol(MaxSimFloat(toExpr(doc), toExpr(query)))
  def nearest_centroid(v: Column, centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): Column =
    toCol(NearestCentroid(toExpr(v), centroids))
  def probe_centroids(v: Column, centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]], p: Int): Column =
    toCol(ProbeCentroids(toExpr(v), centroids, p))
  def jl_project(v: Column, outDims: Int, inDims: Int,
                 seed: String = "jl"): Column =
    toCol(JlProject(toExpr(v), outDims, inDims, seed))
  def pq_encode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    toCol(PqEncode(toExpr(v), codebooks))
  def pq_adc_score(codes: Column, lut: Array[Double], k: Int): Column =
    toCol(PqAdcScore(toExpr(codes), lut, k))
}
