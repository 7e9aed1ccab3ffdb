package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** One-pass RepetitionStats vs explode→groupBy built-ins on the real
  * corpus, plus hand-computed edge cases. */
class RepetitionStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches the explode/groupBy twin on the real corpus") {
    val rs = RepetitionStats(col("text"))
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val mine = docs.select(col("doc_id"),
      rs.getField("n_bigrams").as("n_bi"),
      rs.getField("top_bigram_n").as("top_b"),
      rs.getField("n_trigrams").as("n_tri"),
      rs.getField("n_distinct_trigrams").as("n_dist"))
    val t = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3) // twin formulations need real n-grams
    val bi = t.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_b2"),
        sum("c").as("n_bi2"))
    val tri = t.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(w)-3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))")).as("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri2"),
        countDistinct("g").as("n_dist2"))
    val diff = mine.join(bi, "doc_id").join(tri, "doc_id")
      .filter(col("n_bi") =!= col("n_bi2") || col("top_b") =!= col("top_b2") ||
        col("n_tri") =!= col("n_tri2") || col("n_dist") =!= col("n_dist2"))
    assert(t.count() > 0) // the corpus must actually exercise the twin
    assert(diff.count() == 0)
  }

  test("edge cases: empty, short and repetitive strings") {
    val rows = Seq("", "   ", "ab", "a a a a", "x y x y x").toDF("t")
      .select(RepetitionStats(col("t")).as("r"))
      .select(col("r.n_bigrams"), col("r.top_bigram_n"),
        col("r.n_trigrams"), col("r.n_distinct_trigrams"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows(0) == ((0L, 0L, 0L, 0L))) // "" → one empty token, no bigrams
    assert(rows(1) == ((0L, 0L, 0L, 0L)))
    assert(rows(2) == ((0L, 0L, 0L, 0L))) // single token
    assert(rows(3) == ((3L, 3L, 2L, 1L))) // "a a"×3; "a a a"×2 → 1 distinct
    assert(rows(4) == ((4L, 2L, 3L, 2L))) // "x y"×2/"y x"×2; 3 trigrams, 2 distinct
  }
}
