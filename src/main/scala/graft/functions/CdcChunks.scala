package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** CONTENT-DEFINED CHUNKING of a document's token stream — the
  * storage-dedup idea (LBFS/rsync lineage) applied to corpus text: a
  * chunk boundary falls after token `e` whenever the 31-bit
  * [[PolyHash]] of the `w`-token window ending at `e` is ≡ 0 mod
  * `2^maskBits`, so boundaries are decided by LOCAL CONTENT, not by
  * position. Insert a sentence into a page and every chunk before and
  * after the edit keeps its identity — where fixed-span chunking
  * (q62's tier) shifts every later chunk and loses all of them. The
  * expected chunk length is `2^maskBits` tokens.
  *
  * Element k of the result is chunk k in order:
  * `(start, n_tokens, h)` — 1-based token start, token count, and the
  * 62-bit [[PolyHash.wideHash]] of the space-joined chunk (the global
  * identity key; 31 bits would birthday-collide at corpus scale, the
  * q76 lesson). The final chunk ends at the document end whether or
  * not a boundary fell there; documents shorter than `w` tokens are
  * one whole-document chunk. Deliberately NO min/max clamp (the
  * production Rabin variant): the mask-only rule keeps every boundary
  * a pure per-position predicate — independently replayable in SQL —
  * at the cost of occasional tiny/huge chunks, which the dup-stats
  * consumer tolerates by construction.
  *
  * One codegen'd pass per document (the [[WindowHashes]] cost model:
  * O(w) per position for the boundary hash, one wide hash per chunk);
  * the text never leaves the scan.
  */
case class CdcChunks(first: Expression, second: Expression,
                     third: Expression) extends TernaryExpression {

  override def dataType: DataType = CdcChunks.OutType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks requires STRING text, got ${first.dataType.catalogString}")
    else if (second.dataType != IntegerType || !second.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "cdc_chunks requires a foldable INT window width")
    else if (third.dataType != IntegerType || !third.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "cdc_chunks requires a foldable INT mask-bit count")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(text: Any, w: Any, b: Any): Any =
    CdcChunks.compute(text.asInstanceOf[UTF8String].toString,
      w.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w, b) =>
      s"graft.functions.CdcChunks.compute($t.toString(), $w, $b)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CdcChunks =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "cdc_chunks"
}

object CdcChunks {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)

  /** One pass: boundary hashes with the exact [[WindowHashes]]
    * arithmetic (token chars + single-space separators, mult 31, mod
    * [[TextAnalysis.P]]), chunk identity via [[PolyHash.wideHash]] of
    * the space-joined chunk.
    *
    * ROLLING boundary hash — O(total chars), not O(w · positions ·
    * token chars): each token's polynomial hash and code-point length
    * are computed once, then the window hash advances by the LBFS-style
    * subtract-and-shift identity `hash(AB) = hash(A)·31^|B| + hash(B)`
    * (drop the outgoing `tok + ' '` prefix, append the incoming
    * `' ' + tok` suffix; powers of 31 mod P from a window-length-bounded
    * table). Bitwise-identical to the per-position recompute
    * ([[computeReference]], parity spec over random corpora) — the
    * arithmetic is the same polynomial, only the evaluation order
    * changed, so every q143-q146 boundary and hash is unchanged. */
  def compute(s: String, w: Int, maskBits: Int): ArrayData = {
    require(w >= 1, s"window width must be >= 1, got $w")
    require(maskBits >= 1 && maskBits <= 30,
      s"mask bits must be in [1, 30], got $maskBits")
    val toks = TextAnalysis.jvmTokens(s)
    val L = toks.length
    val mod = 1L << maskBits
    val p = TextAnalysis.P
    // per-token polynomial hash + code-point length, once
    val th = new Array[Long](L)
    val tl = new Array[Int](L)
    var t = 0
    while (t < L) {
      val tok = toks(t)
      var acc = 0L
      var n = 0
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        acc = (acc * 31 + cp) % p
        i += Character.charCount(cp)
        n += 1
      }
      th(t) = acc
      tl(t) = n
      t += 1
    }
    // powers of 31 mod p, grown to the max window char length seen
    var pows = new Array[Long](64)
    pows(0) = 1L
    var powN = 1
    def pow31(e: Int): Long = {
      if (e >= powN) {
        if (e >= pows.length)
          pows = java.util.Arrays.copyOf(pows,
            math.max(pows.length * 2, e + 1))
        var i = powN
        while (i <= e) { pows(i) = (pows(i - 1) * 31) % p; i += 1 }
        powN = e + 1
      }
      pows(e)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var prev = 0 // last boundary's 1-based end token (0 = doc start)
    def emit(endIncl: Int): Unit = {
      val chunk = toks.slice(prev, endIncl).mkString(" ")
      out += InternalRow(prev + 1, endIncl - prev,
        PolyHash.wideHash(chunk))
      prev = endIncl
    }
    val m = L - w + 1
    if (w == 1) {
      var k = 0
      while (k < m) {
        if (th(k) % mod == 0L) emit(k + 1)
        k += 1
      }
    } else if (m >= 1) {
      // seed the hash of window [0, w): tokens joined by single spaces
      var h = 0L
      var winLen = 0
      var j = 0
      while (j < w) {
        if (j > 0) { h = (h * 31 + ' '.toInt) % p; winLen += 1 }
        h = (h * pow31(tl(j)) + th(j)) % p
        winLen += tl(j)
        j += 1
      }
      var k = 0
      while (k < m) {
        if (k > 0) {
          // drop `toks(k-1) + ' '`, append `' ' + toks(k+w-1)`
          val dp = tl(k - 1) + 1
          val restLen = winLen - dp
          val hp = (th(k - 1) * 31 + ' '.toInt) % p
          var rest = (h - (hp * pow31(restLen)) % p) % p
          if (rest < 0L) rest += p
          val tn = k + w - 1
          val hT = (' '.toInt * pow31(tl(tn)) + th(tn)) % p
          h = (rest * pow31(tl(tn) + 1) + hT) % p
          winLen = restLen + 1 + tl(tn)
        }
        if (h % mod == 0L) emit(k + w)
        k += 1
      }
    }
    if (prev < L) emit(L)
    new GenericArrayData(out.toArray)
  }

  /** The pre-optimization per-position window recompute — O(w · L ·
    * token chars) — kept as the PARITY ORACLE for [[compute]]'s rolling
    * evaluation (CdcChunksSpec pins bitwise-identical output on random
    * corpora; the oracle gate pins q143-q146 unchanged). */
  private[graft] def computeReference(s: String, w: Int,
                                      maskBits: Int): ArrayData = {
    require(w >= 1, s"window width must be >= 1, got $w")
    require(maskBits >= 1 && maskBits <= 30,
      s"mask bits must be in [1, 30], got $maskBits")
    val toks = TextAnalysis.jvmTokens(s)
    val L = toks.length
    val mod = 1L << maskBits
    val p = TextAnalysis.P
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var prev = 0
    def emit(endIncl: Int): Unit = {
      val chunk = toks.slice(prev, endIncl).mkString(" ")
      out += InternalRow(prev + 1, endIncl - prev,
        PolyHash.wideHash(chunk))
      prev = endIncl
    }
    var k = 0
    val m = L - w + 1
    while (k < m) {
      var acc = 0L
      var j = 0
      while (j < w) {
        if (j > 0) acc = (acc * 31 + ' '.toInt) % p
        val t = toks(k + j)
        var i = 0
        while (i < t.length) {
          val cp = t.codePointAt(i)
          acc = (acc * 31 + cp) % p
          i += Character.charCount(cp)
        }
        j += 1
      }
      if (acc % mod == 0L) emit(k + w)
      k += 1
    }
    if (prev < L) emit(L)
    new GenericArrayData(out.toArray)
  }

  def apply(text: Column, w: Int, maskBits: Int): Column =
    Columns(CdcChunks(expression(text), Literal(w), Literal(maskBits)))
}
