package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located joins, Spark's primitive: two tables bucketed by
  * the join key sort-merge-join with NO exchange. No graft store relies
  * on it; the spec pins the primitive for any table a user buckets. */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("join of two tables bucketed on the key plans without Exchange") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        spark.table("li_bucketed")("l_orderkey") === spark.table("o_bucketed")("o_orderkey"))
    val plan = joined.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(PlanChecks.shuffleExchanges(plan) == 0,
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == 6000)
  }
}
