package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.store.{CountLog, Snapshots}

/** TOKENIZER FERTILITY under continuous ingestion — the streaming twin
  * of [[graft.operators.Bpe.fertility]] / q142 (and
  * [[graft.operators.Unigram.fertility]] / q148): per-group additive
  * counters (docs, words, pieces, chars) folded per micro-batch into
  * the crash-atomic [[CountLog]], served as the exact q142
  * report of EVERYTHING shipped so far. This is the monitor that makes
  * the retrain signal OPERATIONAL: a language slice drifting toward
  * the byte-fallback fertility ceiling shows up batch by batch, not at
  * the next full-corpus audit. [[graft.pipeline.Retrain.plan]] is the
  * report's consumer — it names the proportional response per group
  * (none / [[graft.operators.Unigram.warmStart]] / cold retrain).
  *
  * TOKENIZER-AGNOSTIC by the same seam the batch tier uses: the caller
  * supplies the per-document `(idCol, n_words, n_pieces)` frame
  * ([[graft.operators.Bpe.pieceCounts]] or
  * [[graft.operators.Unigram.pieceCounts]] over the batch — in-scan,
  * broadcast-model segmentation), so the accumulator never bakes in a
  * family. Exactness is structural (the [[StreamValueHist]] argument):
  * a row belongs to exactly one batch, the counters are additive, so
  * the report over any batch slicing equals the batch operator over
  * the union bit for bit — integer fertility arithmetic included
  * (spec-pinned).
  *
  * Replays fold nothing twice (batch-id-tokened deltas); [[retract]]
  * is the deletion cascade's telemetry leg — exact negative deltas, a
  * report over the survivors afterward, negative totals fail loud
  * (the [[StreamDataCard]] discipline). NULL-text rows are absent,
  * the batch contract. */
final class StreamFertility(spark: SparkSession, root: String,
                            compactEvery: Int = Snapshots.DefaultCompactEvery) {

  private val log = new CountLog(spark, root, StructType(Seq(
    StructField("grp", StringType, nullable = false),
    StructField("n_docs", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_pieces", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false))), "grp",
    compactEvery)

  def init(): Unit = log.init()

  /** One batch's per-group counter rows, sign ±1 (observe/retract). */
  private def rows(batch: DataFrame, idCol: String, textCol: String,
                   groupCol: String, counts: DataFrame,
                   sign: Long): DataFrame =
    batch.filter(col(textCol).isNotNull)
      .select(col(idCol), col(groupCol).cast("string").as("grp"),
        length(col(textCol)).cast("long").as("_sf_chars"))
      .join(counts, Seq(idCol))
      .groupBy(col("grp"))
      .agg((count(lit(1)) * sign).as("n_docs"),
        (sum(col("n_words")) * sign).as("n_words"),
        (sum(col("n_pieces")) * sign).as("n_pieces"),
        (sum(col("_sf_chars")) * sign).as("n_chars"))

  /** Fold one shipped batch. `counts` is the batch's per-document
    * `(idCol, n_words, n_pieces)` under the FROZEN tokenizer. Replays
    * (same `batchId`) fold nothing twice. */
  def observe(batch: DataFrame, idCol: String, textCol: String,
              groupCol: String, counts: DataFrame, batchId: Long): Unit =
    log.add(rows(batch, idCol, textCol, groupCol, counts, 1L),
      s"b$batchId")

  /** The deletion cascade's telemetry leg: subtract the DELETED
    * documents' original rows (same shape the card leg reads — the
    * rows `observe` folded, re-counted under the same frozen
    * tokenizer). `token` is the deletion event's replay token. */
  def retract(deletedRows: DataFrame, idCol: String, textCol: String,
              groupCol: String, counts: DataFrame, token: String): Unit =
    log.add(rows(deletedRows, idCol, textCol, groupCol, counts, -1L),
      token)

  /** Merged per-group totals; a group leaves only when every one of its
    * totals is 0. */
  def totals(): DataFrame = log.totals()

  /** The q142 report over everything shipped minus everything
    * retracted — exact integer fertility arithmetic, loud on negative
    * totals (a retraction exceeded what was observed). */
  def report(): DataFrame =
    log.checkedTotals()
      .withColumn("pieces_per_kchar", expr("n_pieces * 1000L div n_chars"))
      .withColumn("pieces_per_word_milli",
        expr("n_pieces * 1000L div n_words"))
}
