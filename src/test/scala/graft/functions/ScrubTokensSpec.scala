package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The codegen'd ScrubTokens expression vs the built-ins HOF twin it
  * replaces, bitwise, plus the merge-walk edge cases. */
class ScrubTokensSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches the filter/exists/transform twin on constructed intervals") {
    val rows = Seq(
      ("t1 t2 t3 t4 t5 t6 t7 t8", Seq(2, 6), Seq(3, 7)), // two islands
      ("a b c", Seq(1), Seq(3)),                         // full cover
      ("x y z", Seq.empty[Int], Seq.empty[Int]),         // untouched
      ("  ", Seq.empty[Int], Seq.empty[Int]),            // whitespace-only
      ("lone", Seq(2), Seq(9)))                          // interval past end
      .toDF("text", "s", "e")
    val w = TextAnalysis.tokens(col("text"))
    val twin = rows.select(
      ScrubTokens(col("text"), col("s"), col("e")).as("a"),
      struct(
        concat_ws(" ", transform(
          filter(sequence(lit(1), size(w)),
            i => !exists(arrays_zip(col("s"), col("e")),
              r => i >= r.getField("s") && i <= r.getField("e"))),
          i => element_at(w, i))).as("text"),
        size(filter(sequence(lit(1), size(w)),
          i => !exists(arrays_zip(col("s"), col("e")),
            r => i >= r.getField("s") && i <= r.getField("e")))).as("kept"))
        .as("b"))
      .collect()
    twin.foreach { r =>
      assert(r.getStruct(0) == r.getStruct(1), s"diverged: $r")
    }
    // spot-check semantics, not just parity
    val direct = rows.select(ScrubTokens(col("text"), col("s"), col("e")))
      .collect().map(_.getStruct(0)).map(s => (s.getString(0), s.getInt(1)))
    assert(direct(0) == (("t1 t4 t5 t8", 4)))
    assert(direct(1) == (("", 0)))
    assert(direct(2) == (("x y z", 3)))
  }
}
