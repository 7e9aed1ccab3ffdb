package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PinEvalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a pin over a foldable child survives constant folding") {
    val df = spark.range(3).select(PinEval.pin(lit(1) + lit(2)).as("x"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("pin_eval"), s"pin folded away:\n$plan")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 3, 3))
  }
}
