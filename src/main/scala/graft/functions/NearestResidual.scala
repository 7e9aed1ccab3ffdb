package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Level-2 cell assignment of the two-level coarse quantizer: for a row's
  * (vector, level-1 cell id), return the id of the SHARED residual-codebook
  * entry nearest (squared L2) to the row's residual against its level-1
  * centroid — without ever materializing the residual. The distance to
  * codebook entry c folds index-ordered as
  * `Σ_i ((v_i − c1_i) − c2_i)²`, the exact IEEE sequence a SQL twin
  * replays with `list_reduce(list_transform(...))`, so assignments are
  * bitwise-reproducible cross-engine.
  *
  * Like [[NearestCentroid]], both codebooks ride in the expression as flat
  * object-state double arrays (plan carries two children; the row loop is
  * whole-stage-codegen'd `dim × (1 + |C2|)` fused multiply-adds), and the
  * strict-improvement scan in ascending cent2_id order picks the LOWEST
  * id among bitwise-equal minima — exactly `ROW_NUMBER() OVER (ORDER BY
  * dist ASC, cent2_id ASC) = 1`.
  *
  * Scale role (SCALE.md): this is what keeps cell population bounded past
  * the 64k single-level ceiling. A single-level quantizer needs |C| ∝ n
  * centroids for constant cell size, but can only ship ~64k per task; the
  * two-level composite cell (cell1, cell2) spans a |C1|·|C2| vocabulary
  * (4B+ cells) while shipping |C1| + |C2| ≤ 128k vectors — per-cell
  * sub-centroid tables would ship |C1|·k2, the same O(n) blowup one
  * level down. L2 on residuals (not cosine) keeps zero-residual rows
  * (exact centroid matches) well-defined.
  */
case class NearestResidual(left: Expression, right: Expression,
    cent1Ids: IndexedSeq[Long], cent1Flat: IndexedSeq[Double],
    cent2Ids: IndexedSeq[Long], cent2Flat: IndexedSeq[Double])
  extends BinaryExpression {

  require(cent1Ids.nonEmpty, "nearest_residual needs at least one l1 centroid")
  require(cent2Ids.nonEmpty, "nearest_residual needs at least one codebook entry")
  require(cent1Flat.length % cent1Ids.length == 0 &&
      cent2Flat.length % cent2Ids.length == 0 &&
      cent1Flat.length / cent1Ids.length == cent2Flat.length / cent2Ids.length,
    "codebook arrays are inconsistent")
  require(!cent2Ids.contains(Long.MinValue),
    "Long.MinValue is reserved as the null sentinel")

  /** Embedding dimension implied by the codebooks. */
  val dim: Int = cent1Flat.length / cent1Ids.length

  override def dataType: DataType = LongType
  // NULL on dimension mismatch / null elements / unknown level-1 cell,
  // mirroring NearestCentroid's malformed-row contract
  override def nullable: Boolean = true

  private def elementsMayBeNull: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_residual requires (ARRAY<DOUBLE>, BIGINT), got " +
            s"${l.catalogString}, ${r.catalogString}")
    }

  /** PURE, but declared non-deterministic so the optimizer cannot
    * duplicate the dim × nCents argmin below inferred
    * `isnotnull(cell…)` filters of downstream cell-keyed joins — the
    * same guide-§4.4 trap [[NearestCentroid]] documents (q70's
    * round-17 executed plan re-evaluated nearest_residual 2× per row
    * per join side). Output is bitwise identical either way. */
  override lazy val deterministic: Boolean = false

  @transient private lazy val ids1: Array[Long] = cent1Ids.toArray
  @transient private lazy val flat1: Array[Double] = cent1Flat.toArray
  @transient private lazy val ids2: Array[Long] = cent2Ids.toArray
  @transient private lazy val flat2: Array[Double] = cent2Flat.toArray

  /** Shared by interpreted eval and generated code. Returns the winning
    * cent2_id, or Long.MinValue as the "null" sentinel on a row whose
    * vector mismatches the codebook dimension, has null elements, or
    * whose cell1 is not a known level-1 centroid id. */
  def compute(v: ArrayData, cell1: Long): Long = {
    if (v.numElements() != dim) return Long.MinValue
    if (elementsMayBeNull) {
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) return Long.MinValue
        i += 1
      }
    }
    val idx1 = java.util.Arrays.binarySearch(ids1, cell1)
    if (idx1 < 0) return Long.MinValue
    val off1 = idx1 * dim
    var best = Double.PositiveInfinity
    var bestId = ids2(0)
    var c = 0
    while (c < ids2.length) {
      var acc = 0.0
      val off2 = c * dim
      var i = 0
      while (i < dim) {
        val d = (v.getDouble(i) - flat1(off1 + i)) - flat2(off2 + i)
        acc += d * d
        i += 1
      }
      if (acc < best) { best = acc; bestId = ids2(c) }
      c += 1
    }
    bestId
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])
    if (r == Long.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestResidual", this,
      classOf[NearestResidual].getName)
    nullSafeCodeGen(ctx, ev, (v, c1) =>
      s"""
         |${ev.value} = $ref.compute($v, $c1);
         |if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestResidual =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "nearest_residual"
}

object NearestResidual {

  /** Column form: (vec, cell1) against explicit codebooks. cent1Ids MUST
    * be sorted ascending (binary-searched at eval); the codebooks ride as
    * expression object state, so the plan never carries per-element
    * nodes. */
  def apply(vec: Column, cell1: Column, cent1Ids: Seq[Long],
            cent1Flat: Seq[Double], cent2Ids: Seq[Long],
            cent2Flat: Seq[Double]): Column = {
    require(cent1Ids == cent1Ids.sorted,
      "nearest_residual cent1Ids must be sorted ascending")
    Columns(NearestResidual(expression(vec), expression(cell1),
      ArraySeq.from(cent1Ids), ArraySeq.from(cent1Flat),
      ArraySeq.from(cent2Ids), ArraySeq.from(cent2Flat)))
  }
}
