package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass compiled replacements for the per-token hash/scan stacks
  * of the text operators (the WinnowFp discipline applied to three more
  * hot paths). Each is bit-equal to the DataFrame formulation it
  * replaces — pinned by TokenTextExprsSpec — so every oracle row is
  * unchanged; only the explode → per-row expression → re-aggregate
  * plumbing (and its exchanges / hex-string md5 detours) disappears.
  */
private[graftshim] object TokenHash {
  /** First 60 bits of md5(bytes ++ salt), big-endian — exactly what
    * conv(substring(md5(x), 1, 15), 16, 10) parses (7 full bytes then
    * the high nibble of byte 7). Shared with WinnowFp's inline copy.
    */
  def md5Bits60(md: java.security.MessageDigest, token: UTF8String,
                salt: Array[Byte]): Long = {
    md.reset()
    md.update(token.getBytes)
    if (salt.length > 0) md.update(salt)
    bits60(md.digest())
  }

  /** First 60 bits of md5(bytes), on this thread's digest instance. */
  def md5Bits60(bytes: Array[Byte]): Long = {
    val md = threadMd5.get()
    md.reset()
    bits60(md.digest(bytes))
  }

  private val threadMd5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def bits60(dig: Array[Byte]): Long = {
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
    (v << 4) | ((dig(7) >> 4) & 0xfL)
  }
}

/** The 60-bit md5 digest of one value (its bytes; strings cast to
  * binary as md5() casts them): what conv(substring(md5(x), 1, 15), 16,
  * 10) parses, computed from the digest bytes instead of through a
  * 32-char hex string, a substring and a base conversion. Null in, null
  * out. Pinned equal to the hex form by TokenTextExprsSpec.
  */
case class Md5Bits60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_bits60"

  def compute(bytes: Array[Byte]): Long = TokenHash.md5Bits60(bytes)

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5Bits60", this, classOf[Md5Bits60].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Bits60 =
    copy(child = newChild)
}

/** 60-bit SimHash of a token array in ONE compiled pass: per token the
  * md5-60-bit digest, per bit a +1/−1 counter, bit i of the signature
  * set iff counter_i > 0. Replaces explode(tokens) → md5 hex → conv →
  * groupBy(doc_id) with 60 conditional SUM columns — the signature is
  * computed map-side per row with no exchange at all, and the ~200×
  * row explosion plus the per-token hex-string md5 detour disappear.
  * Bit-equal: counters are exact ints, same digest bits, same sign rule.
  */
case class SimHash60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  private val noSalt = Array.emptyByteArray

  def compute(toks: ArrayData): Long = {
    val n = toks.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val cnt = new Array[Int](60)
    var i = 0
    while (i < n) {
      val v = TokenHash.md5Bits60(md, toks.getUTF8String(i), noSalt)
      var b = 0
      while (b < 60) {
        if (((v >> b) & 1L) != 0L) cnt(b) += 1 else cnt(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (cnt(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash60", this, classOf[SimHash60].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Dense per-document hashed bag-of-words: counts[b] = number of tokens
  * whose salted md5-60-bit digest lands in bucket b (= digest % dim).
  * One compiled pass per document; replaces explode(tokens) →
  * md5Bits60(concat(term, salt)) % dim → groupBy(doc, bucket).count(),
  * i.e. the feature-build exchange of the quality-classifier family.
  * The dense form is sum-equivalent to the sparse posting rows: absent
  * buckets hold 0 and every downstream term (z, gradients) built from a
  * 0 count is exactly 0, so all micro-unit integer sums are unchanged.
  */
case class TokenBucketCounts(child: Expression, salt: String, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(dim >= 1, "bucket count must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_bucket_counts"

  private val saltBytes = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def compute(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val cnt = new Array[Long](dim)
    var i = 0
    while (i < n) {
      val v = TokenHash.md5Bits60(md, toks.getUTF8String(i), saltBytes)
      cnt((v % dim).toInt) += 1L
      i += 1
    }
    new GenericArrayData(cnt)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bucketCounts", this,
      classOf[TokenBucketCounts].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : TokenBucketCounts = copy(child = newChild)
}

object QcRound {
  /** Spark's Round(double, 0) + non-ANSI cast-to-long, in pure double
    * arithmetic. Spark rounds via BigDecimal.valueOf(x).setScale(0,
    * HALF_UP) — ~0.5 µs and two allocations per element, which at
    * 100×-diverse was the classifier's whole training cost (hundreds of
    * millions of per-bucket terms). Equality argument: fl = floor(x)
    * and fr = x − fl are EXACT for |x| < 2⁵² (Sterbenz), and the
    * shortest-decimal representation BigDecimal.valueOf uses preserves
    * the ordering of x against the exactly-representable half fl+0.5,
    * so fr <> 0.5 decides identically; at fr == 0.5 exactly, HALF_UP
    * rounds away from zero. |x| ≥ 2⁵² is integral (fr = 0). NaN/Inf
    * pass through Round unchanged and then cast like Scala's toLong.
    * Brute-force-pinned against the BigDecimal path in
    * TokenTextExprsSpec (millions of randoms + crafted half/boundary
    * cases).
    */
  def roundToLong(x: Double): Long = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
      return x.toLong
    val fl = math.floor(x)
    if (x == fl) return fl.toLong // integral (covers every |x| ≥ 2⁵²)
    // Non-integral ⟹ |fl| < 2⁵² ⟹ fl + 0.5 is EXACT, so comparing x
    // against it decides the decimal fraction's side without the
    // rounded subtraction x − fl (whose tie can misreport values like
    // -0.49999999999999994 as halves).
    val half = fl + 0.5
    val r =
      if (x > half) fl + 1.0
      else if (x < half) fl
      else if (x >= 0) fl + 1.0 // exact half: away from zero
      else fl
    r.toLong
  }
}

/** The classifier's per-document micro-unit logit over a dense count
  * vector: Σ_b  (round(w_b · cnt_b / n_toks · 1e6) cast to long), with
  * round and cast replicating Spark's Round(double, 0) (BigDecimal
  * HALF_UP; NaN/Inf pass through) and non-ANSI double→long cast
  * (toLong truncation) bit-for-bit. Replaces the per-step
  * groupBy(doc_id).agg(sum(round(element_at(w, bucket+1)·cnt/n_toks
  * ·1e6) cast long)) over posting rows — the long sum is order-free and
  * 0-count buckets contribute round(0·w)=0, so the value is identical
  * while the per-step exchange disappears (z is now a map-side column).
  */
case class QcZMicro(left: Expression, right: Expression, weights: Seq[Double])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qc_z_micro"

  @transient private lazy val w = weights.toArray

  def compute(counts: ArrayData, nToks: Long): Long = {
    val m = math.min(counts.numElements(), w.length)
    var acc = 0L
    var b = 0
    while (b < m) {
      acc += QcRound.roundToLong(w(b) * counts.getLong(b) / nToks * 1e6)
      b += 1
    }
    acc
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qcz", this, classOf[QcZMicro].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QcZMicro =
    copy(left = newLeft, right = newRight)
}

/** One gradient-cell vector per document for the classifier's training
  * step: positions 0..dim−1 hold round(err·cnt_b/n_toks·1e6) as long
  * (round = Spark Round(double,0) semantics via QcRound), position dim
  * holds the bias term round(err·1e6), position dim+1 holds the
  * doc-count sentinel 1. Children: (counts, n_toks, err). Replaces the
  * three-branch unionAll (per-bucket explode + bias row + count row)
  * whose every branch re-evaluated the per-document logit subtree —
  * ONE pass per document, err evaluated once, and the exploded output
  * feeds the identical ≤dim+2-cell BIGINT sum (0-count buckets still
  * contribute round(0) = 0).
  */
case class QcGradMicro(first: Expression, second: Expression,
                       third: Expression, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), LongType, DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_qc_grad_micro"

  def compute(counts: ArrayData, nToks: Long, err: Double): ArrayData = {
    val m = math.min(counts.numElements(), dim)
    val out = new Array[Long](dim + 2)
    var b = 0
    while (b < m) {
      out(b) = QcRound.roundToLong(err * counts.getLong(b) / nToks * 1e6)
      b += 1
    }
    out(dim) = QcRound.roundToLong(err * 1e6)
    out(dim + 1) = 1L
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Long],
            c.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qcGrad", this, classOf[QcGradMicro].getName)
    nullSafeCodeGen(ctx, ev,
      (a, b, c) => s"${ev.value} = $ref.compute($a, $b, $c);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): QcGradMicro =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** lower(regexp_replace(text, "[ \t\n\x0B\f\r]+", " ")) as one compiled
  * byte pass: every maximal run of the six ASCII separator bytes
  * becomes a single ' ' (byte-level is exact — all six are ASCII and
  * never occur inside a multi-byte UTF-8 sequence), then the SAME
  * lowercasing Spark's Lower uses (UTF8String.toLowerCase) so Unicode
  * case mapping is identical by construction. Replaces the Java-regex
  * engine walk of every document the fingerprint / near-dup keying
  * family pays (8 call sites). Pinned equal to the regex form by
  * TokenTextExprsSpec.
  */
case class NormalizeWs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_ws"

  private def isWs(b: Byte): Boolean =
    b == ' '.toByte || b == '\t'.toByte || b == '\n'.toByte ||
      b == 0x0b.toByte || b == '\f'.toByte || b == '\r'.toByte

  def compute(text: UTF8String): UTF8String = {
    val bytes = text.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    var changed = false
    while (i < n) {
      if (isWs(bytes(i))) {
        if (bytes(i) != ' '.toByte) changed = true
        out(o) = ' '.toByte; o += 1; i += 1
        while (i < n && isWs(bytes(i))) { changed = true; i += 1 }
      } else {
        out(o) = bytes(i); o += 1; i += 1
      }
    }
    val collapsed =
      if (!changed) text
      else UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
    collapsed.toLowerCase
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("normWs", this, classOf[NormalizeWs].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NormalizeWs = copy(child = newChild)
}

/** Stopword evidence in one compiled pass: how many of `words` occur in
  * `text` as space-delimited tokens. Exactly equivalent to the
  * Σ_w contains(' ' || text || ' ', ' ' || w || ' ') formulation (for
  * space-free w, " w " occurs in the padded text iff some split-on-' '
  * token equals w — runs of spaces only produce empty tokens, which
  * match no word), but without |words| full scans and |words| padded
  * copies of the text per row. Scans the UTF-8 bytes once; ASCII 0x20
  * never occurs inside a multi-byte sequence, so byte-level splitting
  * and byte equality are exact string semantics.
  */
case class StopWordHits(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  require(words.nonEmpty && words.forall(w => w.nonEmpty && !w.contains(" ")),
    "stopwords must be non-empty and space-free")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_stopword_hits"

  @transient private lazy val wordBytes: Array[Array[Byte]] =
    words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  def compute(text: UTF8String): Int = {
    val bytes = text.getBytes
    val n = bytes.length
    val nw = wordBytes.length
    var foundMask = 0
    var start = 0
    var i = 0
    while (i <= n && foundMask != (1 << nw) - 1) {
      if (i == n || bytes(i) == ' '.toByte) {
        val len = i - start
        if (len > 0) {
          var wi = 0
          while (wi < nw) {
            if ((foundMask & (1 << wi)) == 0) {
              val wb = wordBytes(wi)
              if (wb.length == len) {
                var j = 0
                while (j < len && wb(j) == bytes(start + j)) j += 1
                if (j == len) foundMask |= (1 << wi)
              }
            }
            wi += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    Integer.bitCount(foundMask)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopHits", this,
      classOf[StopWordHits].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : StopWordHits = copy(child = newChild)
}
