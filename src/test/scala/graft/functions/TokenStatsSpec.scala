package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** One-pass TokenStats/StopHits vs the built-ins formulations. */
class TokenStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ensure(): Unit = {
  }

  test("matches size/aggregate/filter formulations on the real corpus") {
    ensure()
    val toks = TextAnalysis.tokens(col("text"))
    val st = TokenStats(col("text"))
    val diff = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(
        st.getField("n_tokens").as("a1"),
        size(toks).cast("long").as("b1"),
        st.getField("sum_tok_len").as("a2"),
        aggregate(transform(toks, t => length(t)), lit(0L), (acc, x) => acc + x).as("b2"),
        st.getField("short_tokens").as("a3"),
        size(filter(toks, t => length(t) <= 2)).cast("long").as("b3"),
        StopHits(col("text"), Seq("the", "a", "of")).as("a4"),
        size(filter(toks, t => t.isin("the", "a", "of"))).cast("long").as("b4"))
      .filter(col("a1") =!= col("b1") || col("a2") =!= col("b2") ||
        col("a3") =!= col("b3") || col("a4") =!= col("b4"))
    assert(diff.count() == 0)
  }

  test("edge cases: empty and whitespace-only strings") {
    ensure()
    val rows = Seq("", "   ", "ab", "a  b\tc").toDF("t")
      .select(TokenStats(col("t")).as("st"),
        StopHits(col("t"), Seq("a")).as("sh"))
      .select(col("st.n_tokens"), col("st.sum_tok_len"),
        col("st.short_tokens"), col("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // split of ""/"   " after trim yields [""] — one zero-length token,
    // matching Spark's split(trim(s)) semantics exactly
    assert(rows(0) == ((1L, 0L, 1L, 0L)))
    assert(rows(1) == ((1L, 0L, 1L, 0L)))
    assert(rows(2) == ((1L, 2L, 1L, 0L)))
    assert(rows(3) == ((3L, 3L, 3L, 1L)))
  }
}
