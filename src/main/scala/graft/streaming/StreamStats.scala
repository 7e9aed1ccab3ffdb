package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.store.{CountLog, Snapshots}

/** EXACT corpus telemetry under continuous ingestion — the streaming twin
  * of [[graft.operators.Sketches.exactQuantiles]] (q118): an ADDITIVE
  * value histogram accumulated per micro-batch into the crash-atomic
  * [[CountLog]], served as exact quantiles of EVERYTHING seen.
  *
  * Exactness is structural, not approximate: a row belongs to exactly one
  * micro-batch, so per-batch value counts SUM to the global count — the
  * same argument [[StreamBoilerplate.ChunkCounts]] documents. Quantiles
  * over any batch slicing therefore equal the batch operator over the
  * union, bit for bit (spec-pinned), which is what the usual streaming
  * answer (a mergeable sketch) deliberately gives up.
  *
  * Replay protection and additive compaction are the [[CountLog]]'s;
  * store size is bounded by DISTINCT VALUES ever seen (the q118
  * economics — token counts, scores, lengths), not rows. NULL values
  * are excluded, the batch operator's contract.
  */
final class StreamValueHist(spark: SparkSession, root: String,
                            compactEvery: Int = Snapshots.DefaultCompactEvery) {

  private val log = new CountLog(spark, root, StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), "v", compactEvery)

  def init(): Unit = log.init()

  /** One batch's (value, ±count) histogram; NULL values are excluded. */
  private def counts(batch: DataFrame, valueCol: String,
                     sign: Long): DataFrame =
    batch.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg((count(lit(1)) * sign).as("c"))

  /** Observe one micro-batch: append its (value, count) histogram as an
    * O(distinct batch values) delta. Replays are no-ops via the batch-id
    * token; an all-NULL batch appends nothing ([[CountLog.add]]). */
  def observe(batch: DataFrame, valueCol: String, batchId: Long): Unit =
    log.add(counts(batch, valueCol, 1L), s"b$batchId")

  /** RETRACT one deletion batch: append its (value, count) histogram as
    * NEGATIVE deltas — the forget cascade's telemetry leg: after a
    * corpus deletion, the quantiles must describe the SURVIVING corpus,
    * not history. `token` is the deletion event's replay token (the
    * observe side's batch-id discipline); retracting values that were
    * never observed is a caller error surfaced loud by the next
    * [[quantiles]] call. */
  def retract(batch: DataFrame, valueCol: String, token: String): Unit =
    log.add(counts(batch, valueCol, -1L), token)

  /** The merged (v, c) histogram across base + deltas; fully-retracted
    * values (c = 0) leave the histogram. */
  def hist(): DataFrame = log.totals()

  /** Exact type-1 quantiles of everything observed so far — the q118
    * rank arithmetic over the merged histogram. Fails loud on a
    * negative count (a retraction of values never observed). */
  def quantiles(pcts: Seq[Int]): DataFrame =
    graft.operators.Sketches.quantilesOfHist(log.checkedTotals(), pcts)
}
