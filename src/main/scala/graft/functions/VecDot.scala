package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two array<double> columns, summing in
  * index order — the exact IEEE operation sequence of the composed form
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,x) -> acc+x)` and of
  * the DuckDB oracle's `list_reduce`, so scores stay bitwise-identical
  * while the evaluation drops the interpreted lambda machinery (HOFs never
  * enter whole-stage codegen). This is the inner loop of every similarity
  * operator — per corpus row per query at 100 TB.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // NULL on unequal lengths / null elements, like the composed HOF form —
  // so nullable even when both children are non-null arrays
  override def nullable: Boolean = true

  /** Schema-level proof that no element can be null: skip the per-row null
    * scan entirely (the common case — Similarity casts produce tight arrays). */
  private def elementsMayBeNull: Boolean = Seq(left.dataType, right.dataType).exists {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires two ARRAY<DOUBLE> inputs, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements() ||
        (elementsMayBeNull && VecDot.anyNull(x, y))) null
    else VecDot.dot(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nullScan =
        if (elementsMayBeNull) s" || graft.functions.VecDot.anyNull($a, $b)" else ""
      s"""
         |if ($a.numElements() != $b.numElements()$nullScan) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VecDot.dot($a, $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

object VecDot {
  /** Null-element scan (bitmap check on UnsafeArrayData — cheap relative to
    * the multiply loop). Run only when the schema admits null elements. */
  def anyNull(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Index-ordered sequential sum of products (shared by interpreted eval
    * and generated code). Arrays must have equal length and no null
    * elements — callers guard via length check + [[anyNull]]. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def apply(a: Column, b: Column): Column =
    Columns(VecDot(expression(a), expression(b)))
}
