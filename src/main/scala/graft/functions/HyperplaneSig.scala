package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** 64-bit random-hyperplane (SRP) signature per embedding: bit j is set
  * iff the vector's index-ordered dot product with pseudo-random plane
  * `offset + j` is positive, planes derived from the immutable
  * [[TextAnalysis.HplaneA]]/[[TextAnalysis.HplaneB]] constants as
  * `((a_j·i + b_j) mod P)/P − 0.5` over 1-based coordinates —
  * [[HyperplaneBucket]]'s construction, widened to 64 planes and
  * replayable in SQL from the same constants.
  *
  * The default window starts at plane 32, NOT 0: several of the
  * hand-picked low-plane constants are small enough that `a_j·i` never
  * wraps mod P over realistic dimensions, making those planes
  * near-constant ramps whose sign bits correlate heavily (measured
  * ~220× candidate inflation — see [[TextAnalysis.HplaneA]]'s scaladoc).
  * The signature therefore does NOT embed the 8-plane bucket; the
  * banding entropy is worth more than the low-byte continuity the
  * 32-plane predecessor pinned.
  *
  * 64 planes is what makes BANDING work at scale: 4×16-bit bands of this
  * signature admit a pair iff some band matches — by pigeonhole every
  * pair within signature-Hamming 3 shares a band (exact candidate recall
  * at that radius, now out of 64 planes — a strictly tighter angular
  * radius per admitted pair than the former 32-plane/8-bit-band tier),
  * while a random unrelated pair matches a given band with probability
  * ≈2⁻¹⁶, so the candidate volume is ~4·C(n,2)·2⁻¹⁶ instead of the
  * 8-bit tier's ~4·C(n,2)·2⁻⁸ (the round-8 quadratic-wall-clock
  * finding). Per-plane disagreement probability is angle/π, the SRP-LSH
  * contract. One fused 64×dim loop per row, inside whole-stage codegen —
  * the composed per-plane HOF form pays 64 interpreted folds per row.
  *
  * `offset` selects the plane window [offset, offset+64) of the
  * 192-plane family, so the two helpers `apply` and `hi` (offsets 32 and
  * 96) yield 128 independent planes — the streaming claim tier's
  * 4×32-bit band keys ([[graft.streaming.IncrementalEmbedDedup]]).
  *
  * Null/malformed contract mirrors [[HyperplaneBucket]]: a null element
  * zeroes every projection in the composed form, so the signature is 0.
  */
case class HyperplaneSig(child: Expression, offset: Int = HyperplaneSig.LoOffset)
    extends UnaryExpression {

  require(offset >= 0 && offset + HyperplaneSig.Bits <= TextAnalysis.HplaneA.length,
    s"plane offset $offset out of range for the ${TextAnalysis.HplaneA.length}-plane family")

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_sig requires ARRAY<DOUBLE> input, got ${t.catalogString}")
    }

  private def elementsMayBeNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.compute(input.asInstanceOf[ArrayData], elementsMayBeNull, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneSig.compute($c, $elementsMayBeNull, $offset)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_sig"
}

object HyperplaneSig {
  val Bits = 64

  /** Default plane window starts past the degenerate hand-picked
    * constants (see [[TextAnalysis.HplaneA]]). */
  val LoOffset = 32

  /** The second, disjoint window — the streaming tier's planes 64-127
    * of its 128-plane banding. */
  val HiOffset = 96

  def compute(v: ArrayData, checkNulls: Boolean, offset: Int): Long = {
    val p = TextAnalysis.P
    val pd = p.toDouble
    val a = TextAnalysis.HplaneA
    val b = TextAnalysis.HplaneB
    val n = v.numElements()
    if (checkNulls) {
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return 0L
        i += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < Bits) {
      val aj = a(offset + j)
      val bj = b(offset + j)
      var acc = 0.0
      var i = 1 // 1-based index, matching the composed sequence(1, size) form
      while (i <= n) {
        val h = ((aj * i + bj) % p).toDouble / pd - 0.5
        acc += h * v.getDouble(i - 1)
        i += 1
      }
      if (acc > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  def apply(c: Column): Column = Columns(HyperplaneSig(expression(c)))

  /** The [[HiOffset]] window — the second signature of the streaming
    * tier's 128-plane banding. */
  def hi(c: Column): Column =
    Columns(HyperplaneSig(expression(c), offset = HiOffset))
}
