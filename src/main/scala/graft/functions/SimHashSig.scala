package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash signature per document in one codegen'd pass: bit j is
  * set iff the count-weighted majority of tokens votes 1 on bit j, where
  * token t's vote on bit j is the parity of the j-th universal rehash of
  * its [[PolyHash]]: `((HplaneA(j)·hash(t) + HplaneB(j)) mod P) mod 2`
  * (tokens = whitespace split). The per-bit affine rehash is what makes
  * all 64 bits informative — [[PolyHash]] itself has only 31 bits, so
  * "bit j of the hash" (the former 32-bit definition) caps the signature
  * at 31 usable bits, too narrow to band into the 4×16-bit keys the
  * near-dup pair tier needs (16-bit bands collide randomly at 2⁻¹⁶
  * instead of the 8-bit tier's 2⁻⁸ — the round-8 candidate-volume
  * finding). Each vote is replayable in ANSI SQL from the same
  * [[TextAnalysis.HplaneA]]/[[TextAnalysis.HplaneB]] constants.
  *
  * The composed pipeline (explode tokens → groupBy (id, token) count →
  * groupBy id with 64 bit-sum aggregates) shuffles the whole exploded
  * corpus twice to compute a per-document value. The count-weighted bit
  * sum over distinct tokens equals the plain bit sum over token INSTANCES,
  * so the signature streams in one loop with no grouping at all — the
  * corpus never leaves its scan stage. Bitwise-identical to the composed
  * form (parity spec) and to the DuckDB oracle that re-derives it.
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash_sig requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    SimHashSig.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHashSig.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)

  override def prettyName: String = "simhash_sig"
}

object SimHashSig {
  val Bits = 64

  def compute(s: String): Long = {
    // NB: "".split on an empty/blank string yields one "" token, exactly
    // like split(trim(text), "\s+") — empty docs get the hash-of-"" vote
    val toks = TextAnalysis.jvmTokens(s)
    val p = TextAnalysis.P
    val a = TextAnalysis.HplaneA
    val b = TextAnalysis.HplaneB
    val bitSums = new Array[Long](Bits)
    var total = 0L
    var t = 0
    while (t < toks.length) {
      val h = PolyHash.hash(toks(t))
      var j = 0
      while (j < Bits) {
        bitSums(j) += ((a(j) * h + b(j)) % p) & 1L
        j += 1
      }
      total += 1
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < Bits) {
      if (bitSums(j) * 2 > total) sig |= 1L << j
      j += 1
    }
    sig
  }

  def apply(c: Column): Column = Columns(SimHashSig(expression(c)))
}
