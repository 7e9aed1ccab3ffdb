package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** [[PolyHash]] of every sliding `n`-token window of a document, in
  * position order: element k (0-based) is the hash of the space-joined
  * tokens `[k+1, k+n]` (1-based window starts, like every island
  * consumer). Bitwise identical to
  * `transform(sequence(1, len-n+1), i -> polyhash(concat_ws(' ',
  * slice(tokens, i, n))))` — and to the DuckDB oracle's
  * `list_reduce` over `array_to_string(w[i:i+n-1], ' ')` — but runs as
  * ONE codegen'd loop over the document instead of a higher-order
  * function chain: Spark's HOFs are `CodegenFallback`, so the composed
  * form tokenizes once but then pays an interpreted lambda, a slice
  * allocation, and a string build PER WINDOW. This expression is the hot
  * inner loop of the global-window dedup (q76) and span-scrub (q75)
  * tiers — per corpus token at 100 TB, it must stay inside codegen.
  *
  * Empty-ish inputs (fewer than `n` tokens) return an empty array;
  * `n` must be a foldable positive integer (the window width is plan
  * metadata, not data).
  */
case class WindowHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"window_hashes requires STRING text, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "window_hashes requires a foldable INT window width")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(text: Any, n: Any): Any =
    WindowHashes.compute(text.asInstanceOf[UTF8String].toString,
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"graft.functions.WindowHashes.compute($t.toString(), $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WindowHashes =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "window_hashes"
}

object WindowHashes {

  /** One pass: tokenize with the Spark/DuckDB-exact [[TextAnalysis
    * .jvmTokens]], then hash each window's characters directly — token
    * chars + single-space separators — without building the joined
    * string. Matches `PolyHash.hash(tokens.slice(k, k+n).mkString(" "))`
    * bitwise (spec-pinned): the polynomial runs over the same code-point
    * sequence either way. */
  def compute(s: String, n: Int): ArrayData = {
    require(n >= 1, s"window width must be >= 1, got $n")
    val toks = TextAnalysis.jvmTokens(s)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val p = TextAnalysis.P
    val out = new Array[Any](m)
    var k = 0
    while (k < m) {
      var acc = 0L
      var j = 0
      while (j < n) {
        if (j > 0) acc = (acc * 31 + ' '.toInt) % p
        val t = toks(k + j)
        var c = 0
        while (c < t.length) {
          // code points, not chars: supplementary pairs must fold like
          // PolyHash.hash / DuckDB unicode() — one value per code point
          val cp = t.codePointAt(c)
          acc = (acc * 31 + cp) % p
          c += Character.charCount(cp)
        }
        j += 1
      }
      out(k) = acc
      k += 1
    }
    new GenericArrayData(out)
  }

  def apply(text: Column, n: Int): Column =
    Columns(WindowHashes(expression(text), Literal(n)))
}

/** WIDE variant of [[WindowHashes]] for the GLOBAL duplication tier
  * (q76): a single 31-bit polynomial space starts colliding by birthday
  * around ~50k distinct windows — nothing at eval-set scale, ppm-level
  * false dup flags already at a modest corpus. This computes TWO
  * independent 31-bit polynomials per window (multipliers 31 and 37,
  * both mod [[TextAnalysis.P]]) in the same single loop and combines
  * them as `h31 · P + h37` — a 62-bit key both Spark Long and DuckDB
  * BIGINT evaluate exactly (max value (P−1)·P + (P−1) < 2^62; checked
  * 64-bit arithmetic never overflows), pushing the birthday regime to
  * ~2^31 distinct windows and the collision rate per pair to 2^-62.
  * Same contract otherwise: empty array under `n` tokens, foldable `n`.
  */
case class WideWindowHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wide_window_hashes requires STRING text, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "wide_window_hashes requires a foldable INT window width")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(text: Any, n: Any): Any =
    WideWindowHashes.compute(text.asInstanceOf[UTF8String].toString,
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"graft.functions.WideWindowHashes.compute($t.toString(), $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WideWindowHashes =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "wide_window_hashes"
}

object WideWindowHashes {

  /** Second polynomial's multiplier; coprime walk distinct from 31 so the
    * two hash coordinates are independent. */
  val Mult2: Long = 37L

  /** Third polynomial's multiplier — the 93-bit escalation coordinate
    * ([[ThirdWindowHashes]] / [[ThirdPolyHash]]). */
  val Mult3: Long = 41L

  /** One loop, two accumulators; combined key `h31 · P + h37`. Bitwise
    * equal to `poly31(w) * P + poly37(w)` over the space-joined window
    * (spec-pinned against the composed twin). */
  def compute(s: String, n: Int): ArrayData = {
    require(n >= 1, s"window width must be >= 1, got $n")
    val toks = TextAnalysis.jvmTokens(s)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val p = TextAnalysis.P
    val out = new Array[Any](m)
    var k = 0
    while (k < m) {
      var a31 = 0L
      var a37 = 0L
      var j = 0
      while (j < n) {
        if (j > 0) {
          a31 = (a31 * 31 + ' '.toInt) % p
          a37 = (a37 * Mult2 + ' '.toInt) % p
        }
        val t = toks(k + j)
        var c = 0
        while (c < t.length) {
          val cp = t.codePointAt(c)
          a31 = (a31 * 31 + cp) % p
          a37 = (a37 * Mult2 + cp) % p
          c += Character.charCount(cp)
        }
        j += 1
      }
      out(k) = a31 * p + a37
      k += 1
    }
    new GenericArrayData(out)
  }

  def apply(text: Column, n: Int): Column =
    Columns(WideWindowHashes(expression(text), Literal(n)))
}

/** THIRD window-hash coordinate for the 93-bit escalation tier: the
  * [[WindowHashes]] loop with multiplier [[WideWindowHashes.Mult3]] —
  * element k is an independent 31-bit polynomial of window k's joined
  * tokens. Zipped positionally with [[WideWindowHashes]]' output, the
  * pair `(h62[k], h41[k])` is a 93-bit composite window key (see
  * [[ThirdPolyHash]] for the regime arithmetic); consumers partition
  * and count on BOTH columns, so the extra coordinate costs one more
  * long per window row, never a second exchange. */
case class ThirdWindowHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"third_window_hashes requires STRING text, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "third_window_hashes requires a foldable INT window width")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(text: Any, n: Any): Any =
    ThirdWindowHashes.compute(text.asInstanceOf[UTF8String].toString,
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"graft.functions.ThirdWindowHashes.compute($t.toString(), $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThirdWindowHashes =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "third_window_hashes"
}

object ThirdWindowHashes {

  /** Same loop shape as [[WindowHashes.compute]], multiplier
    * [[WideWindowHashes.Mult3]]; bitwise equal to
    * `ThirdPolyHash.hash(tokens.slice(k, k+n).mkString(" "))`
    * (spec-pinned). */
  def compute(s: String, n: Int): ArrayData = {
    require(n >= 1, s"window width must be >= 1, got $n")
    val toks = TextAnalysis.jvmTokens(s)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val p = TextAnalysis.P
    val mult = WideWindowHashes.Mult3
    val out = new Array[Any](m)
    var k = 0
    while (k < m) {
      var acc = 0L
      var j = 0
      while (j < n) {
        if (j > 0) acc = (acc * mult + ' '.toInt) % p
        val t = toks(k + j)
        var c = 0
        while (c < t.length) {
          val cp = t.codePointAt(c)
          acc = (acc * mult + cp) % p
          c += Character.charCount(cp)
        }
        j += 1
      }
      out(k) = acc
      k += 1
    }
    new GenericArrayData(out)
  }

  def apply(text: Column, n: Int): Column =
    Columns(ThirdWindowHashes(expression(text), Literal(n)))
}
