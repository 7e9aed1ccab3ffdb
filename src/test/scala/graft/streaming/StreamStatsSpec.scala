package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Sketches

/** Exact streaming quantiles ([[StreamValueHist]]): additive histograms
  * make the streamed answer EQUAL the batch operator over the union —
  * under any slicing, across compactions, through replays, and over the
  * survivors of a retraction. */
class StreamStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pcts = Seq(10, 25, 50, 75, 90, 99)

  private def fresh() = {
    val h = new StreamValueHist(spark,
      Files.createTempDirectory("graft-svhist").toString, compactEvery = 2)
    h.init()
    h
  }

  private def qmap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("streamed quantiles equal the batch operator over the union, " +
    "under an adversarial slicing and across compactions") {
    // values with ties and a skewed tail, sliced so batch boundaries cut
    // through tie groups; compactEvery=2 forces compactions mid-run
    val all = Seq(1L, 5L, 5L, 2L, 9L, 5L, 2L, 40L, 1L, 7L, 7L, 3L)
    val h = fresh()
    all.grouped(3).zipWithIndex.foreach { case (slice, i) =>
      h.observe(slice.toDF("v"), "v", i.toLong)
    }
    val batch = qmap(Sketches.exactQuantiles(all.toDF("v"), "v", pcts))
    assert(qmap(h.quantiles(pcts)) == batch)
    // and the merged histogram is the exact distribution
    val histGot = h.hist().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(histGot == all.groupBy(identity).view
      .mapValues(_.size.toLong).toMap)
  }

  test("replayed batches never double-count (batch-id token)") {
    val h = fresh()
    val b0 = Seq(1L, 2L, 2L).toDF("v")
    h.observe(b0, "v", 0L)
    val before = qmap(h.quantiles(pcts))
    h.observe(b0, "v", 0L) // crash replay
    assert(qmap(h.quantiles(pcts)) == before)
    assert(h.hist().agg(sum(col("c"))).head().getLong(0) == 3L)
  }

  test("retract: quantiles after observe(all) + retract(deleted) equal " +
    "the batch operator over the survivors; a replayed retraction folds " +
    "nothing twice; over-retraction fails naming the root") {
    val root = Files.createTempDirectory("graft-svhist-retract").toString
    val h = new StreamValueHist(spark, root, compactEvery = 2)
    h.init()
    val all = Seq(1L, 5L, 5L, 2L, 9L, 5L, 2L, 40L, 1L, 7L, 7L, 3L)
    all.grouped(4).zipWithIndex.foreach { case (slice, i) =>
      h.observe(slice.toDF("v"), "v", i.toLong)
    }
    val deleted = Seq(5L, 40L, 1L, 7L)
    h.retract(deleted.toDF("v"), "v", "r0")
    h.retract(deleted.toDF("v"), "v", "r0") // crash replay
    val survivors = all.diff(deleted)
    assert(qmap(h.quantiles(pcts)) ==
      qmap(Sketches.exactQuantiles(survivors.toDF("v"), "v", pcts)))
    assert(h.hist().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      survivors.groupBy(identity).view.mapValues(_.size.toLong).toMap)
    h.retract(Seq(40L).toDF("v"), "v", "r1") // 40 is already gone
    val e = intercept[IllegalArgumentException](h.quantiles(pcts))
    assert(e.getMessage.contains(root) &&
      e.getMessage.contains("negative total"), e.getMessage)
  }

  test("NULL values are excluded and an all-NULL batch appends nothing") {
    val h = fresh()
    h.observe(Seq[java.lang.Long](3L, null, 3L).toDF("v"), "v", 0L)
    h.observe(Seq[java.lang.Long](null, null).toDF("v"), "v", 1L)
    assert(h.hist().collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap == Map(3L -> 2L))
  }
}
