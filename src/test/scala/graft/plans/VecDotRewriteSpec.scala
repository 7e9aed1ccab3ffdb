package graft.plans

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.operators.Similarity

/** Dot products plan as the native `vec_dot` without any optimizer rule,
  * and `graft.functions.register` is the one SQL front door: it adds the
  * SQL-callable names to a session and never replaces an entry. */
class VecDotRewriteSpec extends AnyFunSuite {

  test("rule rewrites the composed HOF form on a real plan") {
    val spark = TestSpark.spark
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("vecd", Similarity.vecD(col("embedding")))
    val native = e.select(col("vec_id"),
      Similarity.dotD(col("vecd"), col("vecd")).as("dot"))
    val plan = native.queryExecution.optimizedPlan.toString
    assert(plan.contains("vec_dot"))
    assert(!plan.contains("aggregate(zip_with"))
    val portable = e.select(col("vec_id"),
      Similarity.dotDPortable(col("vecd"), col("vecd")).as("dot"))
    def bits(df: DataFrame): Map[Long, Long] = df.collect()
      .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      .toMap
    val want = bits(portable)
    assert(want.nonEmpty)
    assert(bits(native) == want)
  }

  test("rule leaves non-dot aggregates untouched") {
    val s = TestSpark.spark.newSession()
    def fold: DataFrame = s.range(3).select(aggregate(
      array(col("id").cast("double") + 1.0, lit(2.0)), lit(0.0),
      (acc, x) => acc + x).as("sum"))
    // the plan with expression ids and lambda-variable counters erased
    def shape(df: DataFrame): String =
      df.queryExecution.optimizedPlan.toString.replaceAll("(_\\d+)?#\\d+L?", "#")
    val before = fold
    val plan = shape(before)
    assert(plan.contains("aggregate(") && !plan.contains("vec_dot"))
    val values = before.collect().map(_.getDouble(0)).toSeq
    assert(values == Seq(3.0, 4.0, 5.0))
    graft.functions.register(s)
    val after = fold
    assert(shape(after) == plan)
    assert(after.collect().map(_.getDouble(0)).toSeq == values)
  }

  test("extensions install the rule and functions in a fresh session") {
    val s = TestSpark.spark.newSession()
    val sqlNames = Seq("polyhash", "wide_polyhash", "word_shingles",
      "minhash_sig", "hyperplane_bucket", "window_hashes",
      "wide_window_hashes", "bigram_pairs", "vec_dot")
    val exprs = Seq(
      "polyhash(CAST(id AS STRING))",
      "wide_polyhash(CAST(id AS STRING))",
      "word_shingles('one two three four')",
      "minhash_sig('one two three four')",
      "hyperplane_bucket(array(CAST(id AS DOUBLE) + 1.0D, 2.0D))",
      "window_hashes('one two three', 2)",
      "wide_window_hashes('one two three', 2)",
      "bigram_pairs('one two three')",
      "vec_dot(array(CAST(id AS DOUBLE) + 1.0D, 2.0D), array(3.0D, 4.0D))")
    assert(exprs.map(_.takeWhile(_ != '(')) == sqlNames)
    // a fresh session resolves none of them before register
    exprs.foreach(e => intercept[AnalysisException](s.range(1).selectExpr(e).schema))

    graft.functions.register(s)
    val r = s.range(1).selectExpr(exprs: _*).head
    assert(r.getLong(0) == graft.functions.PolyHash.hash("0"))
    assert(r.getLong(1) == graft.functions.PolyHash.wideHash("0"))
    assert(r.getSeq[String](2).nonEmpty && !r.isNullAt(3))
    assert(r.getSeq[Long](5).length == 2 && r.getSeq[Long](6).length == 2)
    assert(r.getSeq[Any](7).length == 2 && r.getDouble(8) == 11.0)

    // a second register keeps every entry: same ExpressionInfo instances
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    def infos = sqlNames.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    val first = infos
    graft.functions.register(s)
    assert(infos.zip(first).forall { case (a, b) => a eq b })
  }
}
