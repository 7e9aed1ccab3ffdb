package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: every registered query runs at sf0.001; entry
  * returns rows; every oracle key has a matching query. */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("entry returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without a query: $extra")
  }

  test("q55_deep_chain expands its 1000-node chain on the driver pass") {
    // a declined driver pass (say, a parent typed unlike the id) would
    // send the chain into ~250 distributed rounds
    def q55() = SparkEntry.queries("q55_deep_chain")(spark, sfDir).collect().head.toSeq
    q55() // the first read of `events` in a session adds a file-listing job
    var digest: Seq[Any] = null
    val jobs = TestSpark.countJobs { digest = q55() }
    assert(digest == Seq(1000L, 999L, 499500L))
    // edge count, root head, edge collect, then the digest's aggregate
    assert(jobs == 5, s"jobs=$jobs")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 with a non-empty schema") {
      val df = fn(spark, sfDir)
      assert(df.schema.nonEmpty)
      // no expensive expression duplicated into a pushed-down Filter
      val hits = PlanSweep.filterHits(df.queryExecution.optimizedPlan.toString)
      assert(hits.isEmpty, hits.mkString("\n"))
      assert(df.count() >= 0)
    }
  }
}
