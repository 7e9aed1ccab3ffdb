package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity pass-through that PINS its child's evaluation site.
  *
  * PURE — it adds no computation and forwards the child's value,
  * nullability and generated code verbatim — but DECLARED
  * non-deterministic, so the optimizer may not constant-fold it,
  * reorder it, or substitute it into pushed-down filters (guide §4.4).
  * That substitution is how an expensive derived column gets evaluated
  * twice per row: `withColumn("w", <expensive>)` followed by a filter
  * (or an inferred `isnotnull`/join constraint) referencing `w` lets
  * PushDownPredicates rewrite the condition in terms of the CHILD
  * expression below the Project, duplicating the whole subtree into a
  * Filter that runs before the projection re-computes it.
  *
  * Wrap exactly the expensive alias (`PinEval.pin(expr)`), not
  * blanket: the flag also blocks pushing OTHER, legitimate filters
  * past the projection, so it belongs only on columns whose
  * re-evaluation dominates the stage (the DSIR weight fold, the
  * curriculum evidence score). The wrapped column may feed join keys,
  * window partitions or aggregations DOWNSTREAM because those
  * operators see only the projected attribute, never this node
  * (the same contract [[NearestCentroid]]/[[NearestResidual]] rely
  * on).
  *
  * Result-invariant by construction: eval and codegen delegate to the
  * child unchanged, so wrapping can change the PLAN but never a value
  * (spec-pinned in MixingSpec).
  */
case class PinEval(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pin_eval"

  /** PURE but declared non-deterministic — see the class doc. */
  override lazy val deterministic: Boolean = false

  /** Never foldable, even over a literal child: ConstantFolding keys on
    * `foldable`, not on determinism, so inheriting the child's flag would
    * fold the pin away. */
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): PinEval =
    copy(child = newChild)
}

object PinEval {
  /** Column-level helper: `pin(expensive)` — same values, one
    * evaluation site. Call [[ensureRegistered]] on the session first
    * (the codebase's custom-expression convention). */
  def pin(c: Column): Column =
    org.apache.spark.sql.functions.call_function("pin_eval", c)

  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction("pin_eval",
        exprs => PinEval(exprs.head), "built-in")
}
