package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass Catalyst expressions for the hash-heavy text operators.
  *
  * Why expressions and not Column compositions: Catalyst's CollapseProject
  * inlines a referenced projection into every consumer, so a composed
  * `transform(seq(k), s -> min over shingles(md5(...)))` re-evaluates the
  * shingle/normalize subtree once PER SEED (and normalize once per shingle
  * position) — quadratic blowup observed live as one 200+ second task.
  * These expressions evaluate the md5 pipeline exactly once per row in a
  * tight JVM loop while preserving the md5-prefix semantics the DuckDB
  * oracles replicate: the value of the first 2k hex chars of md5 equals the
  * first k digest bytes read big-endian, so no hex strings are built at all.
  */
object TextHashExpressions {

  /** Unsigned big-endian value of the first n digest bytes
    * (== parseLong(hexPrefix(2n), 16)). */
  @inline private def prefixLong(d: Array[Byte], n: Int): Long = {
    var v = 0L; var i = 0
    while (i < n) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** min-hash signature over distinct char shingles of an ALREADY-NORMALIZED
    * text, Long.MaxValue sentinel when no shingles. One md5 per shingle
    * (Broder-style combinatorial lanes, vs k seeded digests): the digest's
    * first/second 4 bytes give (h1, h2) and lane k minimizes
    * `(h1 + k·h2) mod 2^32` — 16× less hashing for k=16 with the same
    * pairwise-independence the Jaccard estimator needs. */
  case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val out = Array.fill(numHashes)(Long.MaxValue)
      // Shingle by CODE POINTS, not UTF-16 units: Spark's substring/length
      // and DuckDB's substr both count codepoints, so a surrogate-pair char
      // (emoji) must be one shingle position here too or the fast path
      // diverges from the Column form and the oracle on non-BMP text.
      val cpStarts = {
        val b = new scala.collection.mutable.ArrayBuffer[Int](s.length + 1)
        var o = 0
        while (o < s.length) { b += o; o += Character.charCount(s.codePointAt(o)) }
        b += s.length
        b
      }
      val nCp = cpStarts.length - 1
      if (nCp >= shingleSize) {
        val md = MessageDigest.getInstance("MD5")
        val seen = new java.util.HashSet[String]()
        var i = 0
        val last = nCp - shingleSize
        while (i <= last) {
          val sh = s.substring(cpStarts(i), cpStarts(i + shingleSize))
          if (seen.add(sh)) {
            md.reset()
            val d = md.digest(sh.getBytes(StandardCharsets.UTF_8))
            val h1 = prefixLong(d, 4)
            var h2 = 0L; var j = 4
            while (j < 8) { h2 = (h2 << 8) | (d(j) & 0xffL); j += 1 }
            var k = 0
            while (k < numHashes) {
              val h = (h1 + k * h2) & 0xffffffffL
              if (h < out(k)) out(k) = h
              k += 1
            }
          }
          i += 1
        }
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Single-pass language-ID + quality profile over an ALREADY-NORMALIZED
    * text → struct<lang_guess: string, quality: double>.
    *
    * Why an expression: the Column form (`text.lang_id` + `quality_score`)
    * embeds a stopword-count subtree per when-branch plus a 4-way
    * greatest(), and CollapseProject inlines the tokenize pipeline into
    * every consumer — ~20 re-evaluations per row. This walks the token
    * stream once. Semantics replicate the Column forms exactly (same
    * stopword tables, same tie order de/en/es/fr, same double op order in
    * the quality formula), so the t2/t23 oracles gate both. */
  case class LangQualityProfile(child: Expression)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    override def dataType: DataType = StructType(Seq(
      StructField("lang_guess", StringType, nullable = false),
      StructField("quality", DoubleType, nullable = false)))
    override def prettyName: String = "lang_quality_profile"

    @transient private lazy val stopSets: Array[(String, java.util.HashSet[String])] =
      text.langStopwords.map { case (l, ws) =>
        val s = new java.util.HashSet[String]()
        ws.foreach(s.add)
        (l, s)
      }.toArray

    /** English index resolved by NAME — the quality formula's stopword
      * ratio is en-specific and must survive a langStopwords reorder or a
      * new language being added. */
    @transient private lazy val enIdx: Int = {
      val i = stopSets.indexWhere(_._1 == "en")
      require(i >= 0, "langStopwords must contain an 'en' entry")
      i
    }

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val hits = new Array[Int](stopSets.length)
      val distinct = new java.util.HashSet[String]()
      var n = 0
      var start = 0
      val len = s.length
      while (start <= len) {
        val sp = s.indexOf(' ', start)
        val end = if (sp < 0) len else sp
        if (end > start) {
          val tok = s.substring(start, end)
          n += 1
          distinct.add(tok)
          var l = 0
          while (l < stopSets.length) {
            if (stopSets(l)._2.contains(tok)) hits(l) += 1
            l += 1
          }
        }
        start = end + 1
      }
      // argmax with first-language tie win (de, en, es, fr — the Column
      // form's foldRight/when order); zero hits -> "und"
      var best = 0; var bestL = -1; var l = 0
      while (l < hits.length) {
        if (hits(l) > best) { best = hits(l); bestL = l }
        l += 1
      }
      val guess = if (bestL < 0) "und" else stopSets(bestL)._1
      // EXACT op order of text.quality_score: 0.4*least(1, n/50) +
      // 0.3*(nd/n | 0) + 0.3*greatest(0, 1 - abs(s_en/n - 0.45)/0.45)
      val nD = n.toDouble
      val lenComp = math.min(1.0, nD / 50.0)
      val diversity = if (n > 0) distinct.size.toDouble / nD else 0.0
      val stopRatio = if (n > 0) hits(enIdx).toDouble / nD else 0.0
      val stopFit = math.max(0.0, 1.0 - math.abs(stopRatio - 0.45) / 0.45)
      val quality = 0.4 * lenComp + 0.3 * diversity + 0.3 * stopFit
      InternalRow(UTF8String.fromString(guess), quality)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 48-bit SimHash over whitespace tokens of an ALREADY-NORMALIZED text:
    * token hash = first 12 md5 hex chars (= 6 bytes); bit b (MSB-first) = 1
    * iff the signed vote sum >= 0. Matches text.simhash48 / the oracle. */
  case class SimHash48(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash48"

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val votes = new Array[Int](48)
      val md = MessageDigest.getInstance("MD5")
      s.split(" ").foreach { tok =>
        if (tok.nonEmpty) {
          md.reset()
          val h = prefixLong(md.digest(tok.getBytes(StandardCharsets.UTF_8)), 6)
          var b = 0
          while (b < 48) {
            if (((h >> (47 - b)) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
      }
      var out = 0L; var b = 0
      while (b < 48) { out = (out << 1) | (if (votes(b) >= 0) 1L else 0L); b += 1 }
      out
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private val threadMd5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Unsigned value of md5-hex digits [startHex, startHex+lenHex) of the
    * digest of `s`: the engine's only spelling of the oracles'
    * `conv(substring(md5(s), startHex, lenHex), 16, 10)::long`. It reads
    * the nibbles straight off the binary digest instead of building the
    * 32-char hex string and base-16-parsing a substring per row. lenHex
    * ≤ 15 keeps the value under 2^60, the range where conv's long cast is
    * lossless, which is why every oracle-pinned hash uses ≤ 15 digits. */
  def md5PrefixSlice(s: UTF8String, startHex: Int, lenHex: Int): Long = {
    val md = threadMd5.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = startHex - 1
    val end = startHex - 1 + lenHex
    while (i < end) {
      val b = d(i >> 1)
      val nib = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  case class Md5PrefixLong(child: Expression, startHex: Int, lenHex: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    require(startHex >= 1 && lenHex >= 1 && startHex - 1 + lenHex <= 32 &&
      lenHex <= 15,
      s"md5_prefix_long needs 1-based hex range within the 32-char digest " +
        s"and <= 15 digits (got start=$startHex len=$lenHex)")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def prettyName: String = "md5_prefix_long"
    override def nullSafeEval(v: Any): Any =
      md5PrefixSlice(v.asInstanceOf[UTF8String], startHex, lenHex)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, s => s"""
        ${ev.value} = graft.functions.TextHashExpressions.md5PrefixSlice($s, $startHex, $lenHex);
        """)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Broder-lane shingle hash from ONE digest: (h1 + seed·h2) mod 2^32
    * with h1 = hex digits 1-8, h2 = digits 9-16 — the compiled form of
    * [[graft.functions.text.shingle_hash]], which digested the shingle
    * TWICE (once per conv half) and built the hex string both times. */
  def shingleHashSlice(seed: Long, shingle: UTF8String): Long = {
    val md = threadMd5.get()
    md.reset()
    val d = md.digest(shingle.getBytes)
    val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    (h1 + seed * h2) & 0xffffffffL
  }

  case class ShingleHash(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, StringType)
    override def dataType: DataType = LongType
    override def prettyName: String = "shingle_hash_k"
    override def nullSafeEval(seed: Any, sh: Any): Any =
      shingleHashSlice(seed.asInstanceOf[Long], sh.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        ${ev.value} = graft.functions.TextHashExpressions.shingleHashSlice($a, $b);
        """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }
}
