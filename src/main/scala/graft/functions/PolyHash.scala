package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd Catalyst expression for the engine's deterministic
  * string hash: Java-style 31-polynomial over Unicode code points, mod
  * 2^31-1 ([[TextAnalysis.P]]).
  *
  * Semantically identical to the composed-built-ins form
  * `aggregate(regexp_extract_all(s,'.'), 0L, (a,c) -> (a*31+ascii(c)) % P)`
  * (and to the DuckDB oracle's `list_reduce`), but runs as a single tight
  * whole-stage-codegen loop instead of: regex scan → array materialization →
  * interpreted per-element lambda. This is the hot inner loop of every
  * shingle/MinHash/fingerprint pipeline — at 100 TB it's executed per gram,
  * so it must stay inside codegen.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"polyhash requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PolyHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)

  override def prettyName: String = "polyhash"
}

object PolyHash {
  /** The scalar loop — shared by interpreted eval and generated code. */
  def hash(s: String): Long = {
    val p = TextAnalysis.P
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % p
      i += Character.charCount(cp)
    }
    acc
  }

  /** The WIDE scalar loop (see [[WidePolyHash]]): two independent 31-bit
    * polynomials (multipliers 31 and 37, both mod [[TextAnalysis.P]]) in
    * one pass, combined as `h31 · P + h37` — max value (P−1)·P + (P−1)
    * < 2^62, exact in both Spark Long and DuckDB BIGINT. Bitwise equal to
    * `hash(s) * P + hash37(s)` (spec-pinned). */
  def wideHash(s: String): Long = {
    val p = TextAnalysis.P
    var a31 = 0L
    var a37 = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      a31 = (a31 * 31L + cp) % p
      a37 = (a37 * WideWindowHashes.Mult2 + cp) % p
      i += Character.charCount(cp)
    }
    a31 * p + a37
  }

  /** Column API: wraps the expression directly, so any session can
    * analyze it. SQL text reaches it through [[graft.functions.register]]. */
  def apply(c: Column): Column = Columns(PolyHash(expression(c)))
}

/** WIDE variant of [[PolyHash]] for GLOBAL-scope join keys: a single
  * 31-bit polynomial space enters its birthday regime around ~50k distinct
  * values — trivially exceeded by a corpus-wide gram/chunk key set, where
  * each collision silently merges two distinct strings (a phantom dup, a
  * false decontamination hit). Two independent polynomials (multipliers 31
  * and 37, both mod [[TextAnalysis.P]]) computed in the same single loop
  * and combined as `h31 · P + h37` give a 62-bit key exact in both Spark
  * Long and DuckDB BIGINT, pushing the birthday regime to ~2^31 distinct
  * values and the per-pair collision rate to 2^-62. The [[WideWindowHashes]]
  * scheme, at scalar granularity — consumers: the span-chunk dup join
  * (q62), the salted/Bloom gram joins (q60/q73).
  */
case class WidePolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wide_polyhash requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    PolyHash.wideHash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PolyHash.wideHash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): WidePolyHash =
    copy(child = newChild)

  override def prettyName: String = "wide_polyhash"
}

object WidePolyHash {
  def apply(c: Column): Column = Columns(WidePolyHash(expression(c)))
}

/** THIRD hash coordinate for the 93-bit escalation tier (SCALE.md's
  * hash-width policy): an independent 31-bit polynomial over the string
  * (multiplier [[WideWindowHashes.Mult3]], mod [[TextAnalysis.P]]).
  * Composite-keying `(wide_polyhash(s), third_polyhash(s))` gives
  * 62 + 31 = 93 key bits — per-pair collision odds 2⁻⁹³, pushing the
  * birthday regime past ~10¹⁴ distinct values — for corpora whose
  * GLOBAL key sets outgrow the 62-bit key's ~2³¹ regime (~10¹⁰+
  * distinct windows/chunks). It must be a polynomial over the STRING:
  * any affine rehash of the 62-bit value would collide exactly when the
  * 62-bit key does, adding zero bits. Conf-gated consumers:
  * `Dedup.spanDupStats` and `ExactSubstring.globalStats` at
  * `hashBits = 93` (default from `GRAFT_HASH_BITS`). */
case class ThirdPolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"third_polyhash requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    ThirdPolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ThirdPolyHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): ThirdPolyHash =
    copy(child = newChild)

  override def prettyName: String = "third_polyhash"
}

object ThirdPolyHash {
  def hash(s: String): Long = {
    val p = TextAnalysis.P
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      acc = (acc * WideWindowHashes.Mult3 + cp) % p
      i += Character.charCount(cp)
    }
    acc
  }

  def apply(c: Column): Column = Columns(ThirdPolyHash(expression(c)))
}
