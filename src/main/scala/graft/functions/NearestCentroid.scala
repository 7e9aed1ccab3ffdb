package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Nearest-centroid assignment as one codegen'd expression: for a row's
  * (vector, norm), return the cent_id of the centroid with the maximum
  * cosine, iterating centroids in the order given and keeping STRICT
  * improvements only — so among bitwise-equal maxima the FIRST (lowest
  * cent_id, when callers pass them sorted ascending) wins, exactly the
  * `ROW_NUMBER() OVER (ORDER BY cent_cos DESC, cent_id ASC) = 1` pick of
  * the join+window formulation.
  *
  * The centroid matrix rides in the expression as plain object state (one
  * flat double array), NOT as literal sub-expressions: an array-of-struct
  * literal formulation puts thousands of nodes in the plan (analysis cost
  * per query) and evaluates through interpreted HOF lambdas per row. Here
  * the plan carries two children and the row loop is `dim × nCents`
  * multiply-adds inside whole-stage codegen. Per-centroid cosine uses the
  * same index-ordered fold as [[VecDot]] divided by (norm · centNorm), so
  * assignments are bitwise-identical to the join+window path (parity
  * spec-pinned).
  *
  * This is the scale unlock for cell assignment ([[graft.operators
  * .Similarity.assignCells]]): the corpus takes ZERO exchanges instead of
  * a cross-join plus a corpus-wide window shuffle on the row id.
  */
case class NearestCentroid(left: Expression, right: Expression,
    centIds: IndexedSeq[Long], centFlat: IndexedSeq[Double],
    centNorms: IndexedSeq[Double]) extends BinaryExpression {

  require(centIds.nonEmpty, "nearest_centroid needs at least one centroid")
  require(centIds.length == centNorms.length &&
      centFlat.length % centIds.length == 0,
    "centroid arrays are inconsistent")
  require(!centIds.contains(Long.MinValue),
    "Long.MinValue is reserved as the null sentinel")

  /** Embedding dimension implied by the matrix. */
  val dim: Int = centFlat.length / centIds.length

  override def dataType: DataType = LongType
  // NULL on dimension mismatch / null elements, like the HOF composition
  override def nullable: Boolean = true

  private def elementsMayBeNull: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid requires (ARRAY<DOUBLE>, DOUBLE), got " +
            s"${l.catalogString}, ${r.catalogString}")
    }

  /** PURE — the assignment is a function of (vector, norm) alone — but
    * DECLARED non-deterministic so the optimizer cannot duplicate it
    * (guide §4.4): every downstream cell-keyed join/groupBy infers
    * `isnotnull(cell)` and, when this flag is true-deterministic,
    * pushes that filter below the assignment Project by substituting
    * the alias — re-evaluating the full dim × nCents argmax (plus the
    * vecd/norm subtree inside it) per row per side. q61's round-17
    * executed plan shipped exactly that: `isnotnull(nearest_centroid(
    * transform(embedding …)))` under BOTH join inputs, doubling the
    * family's dominant in-scan cost. With the flag false the inferred
    * filter stays above the Project as `isnotnull(cell#…)` — one
    * evaluation, bitwise-identical output (plan-shape spec-pinned). */
  override lazy val deterministic: Boolean = false

  @transient private lazy val ids: Array[Long] = centIds.toArray
  @transient private lazy val flat: Array[Double] = centFlat.toArray
  @transient private lazy val norms: Array[Double] = centNorms.toArray

  /** Shared by interpreted eval and generated code. Returns the winning
    * cent_id, or Long.MinValue as the "null" sentinel on a row whose
    * vector length differs from the centroid dimension or has null
    * elements. */
  def compute(v: ArrayData, nrm: Double): Long = {
    if (v.numElements() != dim) return Long.MinValue
    if (elementsMayBeNull) {
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) return Long.MinValue
        i += 1
      }
    }
    var best = Double.NegativeInfinity
    var bestId = ids(0)
    var c = 0
    while (c < ids.length) {
      var acc = 0.0
      val off = c * dim
      var i = 0
      while (i < dim) {
        acc += v.getDouble(i) * flat(off + i)
        i += 1
      }
      val cos = acc / (nrm * norms(c))
      if (cos > best) { best = cos; bestId = ids(c) }
      c += 1
    }
    bestId
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])
    if (r == Long.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, (v, n) =>
      s"""
         |${ev.value} = $ref.compute($v, $n);
         |if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "nearest_centroid"
}

object NearestCentroid {

  /** Column form: (vec, norm) against an explicit centroid matrix, which
    * rides as the expression's object state — the plan never carries
    * per-element literal nodes. */
  def apply(vec: Column, norm: Column, centIds: Seq[Long],
            centFlat: Seq[Double], centNorms: Seq[Double]): Column =
    Columns(NearestCentroid(expression(vec), expression(norm),
      ArraySeq.from(centIds), ArraySeq.from(centFlat), ArraySeq.from(centNorms)))
}
